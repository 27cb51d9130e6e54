"""Seeded input generators for the benchmark.

Everything the package receives is built here from the ``--seed``
argument with NumPy's PCG64 generator: the same seed yields byte-identical
tables. Nothing is read from outside the checkout.

- :func:`documents_table` — a ``documents(doc_id, text, lang, source,
  n_chars)`` table with the engine's test-table columns, 10-100 words per
  document, planted near-duplicate and exact-duplicate clusters.
- :func:`corpus_docs` — the interleaved ``(doc_id, spans)`` extraction
  corpus, made by the package's ``fixtures.spans_from_text`` over
  ``documents_table`` texts with seed-salted keys.
- :func:`chain_forest` — the min-label loop's graph: chains of a fixed
  length, so every seed converges in the same number of rounds.
"""

from __future__ import annotations

import hashlib
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = (
    "a the spark window merge table column vector stream value data small "
    "join filter big group hash customer sort order slow line part fast row "
    "agg key query scan batch"
).split()
LANGS = ("en", "zh", "es", "fr", "de")
LANG_P = (0.41, 0.15, 0.15, 0.15, 0.14)

# ``operators.doc_us.<family>`` metric names; see :func:`family`.
FAMILIES = ("correspondence", "html", "pleading", "medical", "expense", "layout")

SPAN_TYPE = pa.list_(
    pa.struct(
        [
            ("kind", pa.string()),
            ("text", pa.string()),
            ("media_ref", pa.string()),
            ("offset", pa.int32()),
        ]
    )
)
CORPUS_SCHEMA = pa.schema([pa.field("doc_id", pa.string(), nullable=False), ("spans", SPAN_TYPE)])


def rng_for(seed: int, stream: str) -> np.random.Generator:
    """Independent generator per input stream, so adding a stream never
    shifts another stream's draws."""
    salt = int.from_bytes(hashlib.sha256(stream.encode()).digest()[:8], "little")
    return np.random.Generator(np.random.PCG64([seed, salt]))


def _words(rng: np.random.Generator, n: int) -> list[str]:
    return [VOCAB[i] for i in rng.integers(0, len(VOCAB), n)]


def documents_table(seed: int, n_docs: int) -> pa.Table:
    """Random texts over a 1,200-word vocabulary, so two unrelated texts
    almost never share a 3-word shingle. Then ``n_docs // 30`` texts of at
    least 40 words each get two near-duplicates ("<text> dup" and "<text>
    dup dup"), and ``n_docs // 500`` texts get one exact duplicate; every
    copy overwrites a distinct untouched document. The near-duplicate graph
    therefore has the same shape for every seed: triangles and single edges,
    nothing else."""
    rng = rng_for(seed, "documents")
    vocab = [f"{w}{i}" for i in range(40) for w in VOCAB]
    texts = [
        " ".join(vocab[i] for i in rng.integers(0, len(vocab), int(rng.integers(10, 101))))
        for _ in range(n_docs)
    ]
    long_ids = [i for i, t in enumerate(texts) if t.count(" ") >= 39]
    n_near, n_exact = n_docs // 30, max(2, n_docs // 500)
    sources = rng.choice(long_ids, n_near + n_exact, replace=False)
    rest = np.setdiff1d(np.arange(n_docs), sources)
    copies = iter(rng.permutation(rest))
    for k, src in enumerate(sources):
        suffixes = (" dup", " dup dup") if k < n_near else ("",)
        for suffix in suffixes:
            texts[next(copies)] = texts[src] + suffix
    langs = rng.choice(len(LANGS), n_docs, p=LANG_P)
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n_docs, dtype=np.int64)),
            "text": texts,
            "lang": [LANGS[i] for i in langs],
            "source": [f"src{i % 20}" for i in range(n_docs)],
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


# ---------------------------------------------------------------------------
# Extraction corpus
# ---------------------------------------------------------------------------


def ocr_lookup(seed: int, n_refs: int = 12) -> dict[str, str]:
    rng = rng_for(seed, "ocr")
    return {f"img-{i:03d}": " ".join(_words(rng, 6)) for i in range(n_refs)}


def _layout(rng: np.random.Generator) -> list[dict]:
    """A two-column page of word boxes. ``spans_from_text`` makes no layout
    documents, so this feeds only the ``operators.doc_us.layout`` sample."""
    spans = []
    for x in (0.05, 0.55):
        for row in range(int(rng.integers(2, 6))):
            y = 0.1 + 0.06 * row
            for j, w in enumerate(_words(rng, 3)):
                x0 = x + 0.12 * j
                box = f"{w}|{x0:.2f},{y:.2f},{x0 + 0.1:.2f},{y + 0.03:.2f}"
                spans.append({"kind": "word_box", "text": box, "media_ref": "", "offset": len(spans)})
    return spans


def layout_docs(seed: int, n_docs: int) -> list[tuple[str, str, list[dict]]]:
    rng = rng_for(seed, "layout")
    return [
        (hashlib.sha256(f"seed{seed}/layout{i}".encode()).hexdigest(), "layout", _layout(rng))
        for i in range(n_docs)
    ]


def family(spans: list[dict]) -> str:
    """The ``operators.doc_us`` family of a document: the engine's routed
    doc type, with the correspondence kinds folded into one and expense
    split from medical (the router sends both to ``medical``)."""
    from samu_ocr_extraction_poc_spark.plans.pipeline import route_doc_type

    kinds = {s["kind"] for s in spans}
    if kinds & {"expense_field", "expense_item"}:
        return "expense"
    return route_doc_type(kinds).split("_")[0]


def corpus_docs(seed: int, n_docs: int) -> list[tuple[str, str, list[dict]]]:
    """``(doc_id, family, spans)`` rows: the package's own synthesizer,
    ``fixtures.spans_from_text``, over the texts of
    ``documents_table(seed, n_docs)``, with seed-salted keys. The key's hash
    picks the family, in the synthesizer's mix: 45% letter, 5% email, 15%
    html, 10% transcript, 10% pleading, 5% medical, 5% expense, 5%
    media-heavy letter."""
    from samu_ocr_extraction_poc_spark.fixtures import doc_id_for, spans_from_text

    out = []
    for i, text in enumerate(documents_table(seed, n_docs).column("text").to_pylist()):
        key = f"seed{seed}/doc{i}"
        spans = spans_from_text(key, text)
        out.append((doc_id_for(key), family(spans), spans))
    return out


def corpus_table(docs: list[tuple[str, str, list[dict]]]) -> pa.Table:
    return pa.Table.from_pylist(
        [{"doc_id": d, "spans": spans} for d, _family, spans in docs], schema=CORPUS_SCHEMA
    )


def write_corpus(path: str, table: pa.Table, n_files: int) -> None:
    """Multi-file parquet, as a real corpus arrives (one scan split each)."""
    os.makedirs(path, exist_ok=True)
    step = -(-table.num_rows // n_files)
    for i in range(n_files):
        pq.write_table(table.slice(i * step, step), f"{path}/part-{i:03d}.parquet")


# ---------------------------------------------------------------------------
# Loops workload graph
# ---------------------------------------------------------------------------


def chain_forest(seed: int, n_nodes: int, chain_len: int) -> list[tuple[int, int]]:
    """Disjoint chains of exactly ``chain_len`` nodes over shuffled ids.

    Min-label propagation needs as many rounds as the distance from a
    chain's minimum id to its far end. Each chain starts at its minimum, so
    that distance is ``chain_len - 1`` for every chain and every seed.
    """
    rng = rng_for(seed, "graph")
    ids = rng.permutation(n_nodes).astype(np.int64)
    edges = []
    for start in range(0, n_nodes - chain_len + 1, chain_len):
        chain = ids[start : start + chain_len].copy()
        lo = int(chain.argmin())
        chain[0], chain[lo] = chain[lo], chain[0]
        edges += [(int(a), int(b)) for a, b in zip(chain[:-1], chain[1:])]
    return edges

