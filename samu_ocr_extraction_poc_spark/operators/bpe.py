"""Distributed BPE vocabulary induction + encoding (SURVEY.md §2.12
family — tokenizer TRAINING as a corpus operator, the step upstream of
every token-count/packing op in this package).

Byte-pair encoding (Sennrich et al. 2016, arXiv:1508.07909) learns a merge
table: start from characters, repeatedly merge the globally most frequent
adjacent symbol pair. The classic implementation is a single-process loop
over a word-frequency dict; at corpus scale the ONLY heavy part is the
pair counting, which is exactly a distributed aggregation:

- the corpus collapses to a (word, freq) table first — pair statistics
  only depend on the word VOCABULARY weighted by frequency, so a 10^12-
  token corpus becomes a few-million-row frame after one hash agg;
- each round is one partial-aggregable groupBy (pair -> sum(freq)) plus a
  1-row argmax (orderBy+limit(1) = TakeOrderedAndProject, never a global
  sort) collected to the driver — the same single-scalar-per-round driver
  probe discipline as connected_components' convergence check;
- the merge itself is a narrow string replace over the word table.

Symbol sequences are represented as "(sym)(sym)..." strings: each symbol
individually parenthesized, so replacing the literal "(l)(r)" with
"(lr)" is BPE's greedy leftmost-first merge — left-to-right non-
overlapping replace() semantics, identical in Spark and DuckDB, with no
shared delimiter between adjacent occurrences (a space-separated
representation would consume the shared separator and skip every other
merge in runs like "a a a a"). Symbols are drawn from the normalized
[a-z0-9] alphabet, so parentheses can never collide with content.

Determinism: integer pair counts, ties broken lexicographically on
(left, right) — the oracle (contract.py BPE_TRAIN_SQL) replays the exact
unrolled rounds.
"""

from __future__ import annotations

from ..functions.frames import values_frame
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .dedup import _release_frame
from ..functions.textfns import let_bound, normalized, tokens

# rounds between lineage truncations; BPE keeps this lazy cadence because
# flattening every round measured slower (sf0.01: 1.85 -> 2.04 s at 8 merges)
_CHECKPOINT_EVERY = 16


def _word_freqs(df: DataFrame, text_col: str) -> DataFrame:
    """(word, freq) over the normalized corpus — the collapse that makes
    corpus-scale BPE cheap (pair stats need only the weighted vocabulary)."""
    return (
        df.select(F.explode(tokens(normalized(F.col(text_col)))).alias("w"))
        .where(F.length("w") > 0)
        .groupBy("w")
        .agg(F.count("*").cast("bigint").alias("freq"))
    )


def _char_wrapped(col) -> "F.Column":
    """'abc' -> '(a)(b)(c)': the initial character-level symbol string."""
    return F.regexp_replace(col, "(.)", r"($1)")


def _sym_pairs(s_col) -> "F.Column":
    """Adjacent symbol pairs of a '(a)(bc)...' string as 'l r' strings.
    Symbol array let-bound (textfns.let_bound): referencing the split
    expression inside the per-pair lambda re-splits per element access."""

    def body(sy):
        n = F.size(sy)
        grams = F.transform(
            F.sequence(F.lit(1), n - 1),
            lambda i: F.concat_ws(" ", F.element_at(sy, i), F.element_at(sy, i + 1)),
        )
        return F.when(n >= 2, grams).otherwise(F.array().cast("array<string>"))

    return let_bound(F.split(F.btrim(s_col, F.lit("()")), r"\)\("), body)


def bpe_train(
    df: DataFrame,
    n_merges: int = 6,
    text_col: str = "text",
) -> list[tuple[int, str, str, str, int]]:
    """Learn ``n_merges`` BPE merges from the corpus. Returns the merge
    table as driver-side rows [(merge_idx, lhs, rhs, merged, pair_count)]
    in merge order — the artifact a tokenizer ships (a few hundred rows in
    practice; each round's argmax is a 1-row collect, the iterative-
    algorithm driver-probe pattern). Stops early when no pair is left.

    Lineage discipline (ADVICE r3 / VERDICT r3 item 6): the merge chain is
    one ``replace`` per round on top of the cached word table, so round r
    would re-execute all r prior replaces — O(n_merges²) work and unbounded
    plan depth at real vocabulary sizes (10k+ merges). Every
    ``_CHECKPOINT_EVERY`` rounds the frame is localCheckpoint(eager)-ed:
    work per round becomes O(_CHECKPOINT_EVERY) replaces over a
    vocabulary-sized frame and Catalyst never sees more than
    ``_CHECKPOINT_EVERY`` nested projections. Each checkpoint is released
    once the next one replaces it, and the last one before returning.
    """
    # flat materialized word table (r6): every round's pair-count plan
    # re-analyzes the base's lineage; a localCheckpoint makes that base a
    # LogicalRDD so round plans stay O(replaces-since-checkpoint)
    words = _word_freqs(df, text_col).select(
        _char_wrapped(F.col("w")).alias("s"), "freq"
    ).localCheckpoint(eager=False)
    # no pre-count (r6): the first round's pair-count collect materializes
    # the checkpoint; later rounds read the cache

    merges: list[tuple[int, str, str, str, int]] = []
    flat = cur = words  # flat: the latest materialized base of `cur`
    try:
        for idx in range(1, n_merges + 1):
            pair_counts = (
                cur.select("freq", F.explode(_sym_pairs(F.col("s"))).alias("p"))
                .groupBy("p")
                .agg(F.sum("freq").cast("bigint").alias("c"))
            )
            best = pair_counts.orderBy(F.col("c").desc(), F.col("p").asc()).limit(1).collect()
            if not best:
                break
            pair, cnt = best[0]["p"], int(best[0]["c"])
            lhs, rhs = pair.split(" ", 1)
            merges.append((idx, lhs, rhs, lhs + rhs, cnt))
            cur = cur.withColumn(
                "s",
                F.replace(
                    F.col("s"), F.lit(f"({lhs})({rhs})"), F.lit(f"({lhs}{rhs})")
                ),
            )
            if idx % _CHECKPOINT_EVERY == 0:
                cur = cur.localCheckpoint(eager=True)
                _release_frame(flat)
                flat = cur
    finally:
        _release_frame(flat)
    return merges


def bpe_merge_table(
    spark: SparkSession, df: DataFrame, n_merges: int = 6, text_col: str = "text"
) -> DataFrame:
    """:func:`bpe_train` as a DataFrame: (merge_idx, lhs, rhs, merged,
    pair_count) — the contract/oracle surface."""
    rows = bpe_train(df, n_merges=n_merges, text_col=text_col)
    return values_frame(
        spark,
        rows,
        "merge_idx int, lhs string, rhs string, merged string, pair_count bigint",
    )


def bpe_encode(
    df: DataFrame,
    merges: list[tuple[int, str, str, str, int]],
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Apply a learned merge table: per-document BPE token counts under
    the trained vocabulary — the REAL token counter for budget/packing ops
    once a tokenizer exists (bpe_ish_token_count is the regex
    approximation for when none does). Encoding is narrow on the scan: the
    merge chain is a fixed sequence of literal replaces per row, no
    shuffle until the per-document sum. Practical bound: the chain is ONE
    nested expression, fine into the hundreds of merges; a 10k+-merge
    vocabulary should apply it in segments with an intermediate select
    (projection) every few hundred replaces to keep codegen happy.

    Returns (doc_id, n_words, n_bpe_tokens).
    """
    word = F.col("wd")
    s = _char_wrapped(word)
    for _, lhs, rhs, _m, _c in merges:
        s = F.replace(s, F.lit(f"({lhs})({rhs})"), F.lit(f"({lhs}{rhs})"))
    # symbol count of "(a)(bc)" = occurrences of ")(" + 1 = (len - len(without ')(' )) / 2 + 1
    n_syms = let_bound(
        s,
        lambda enc: (F.length(enc) - F.length(F.replace(enc, F.lit(")("), F.lit("")))) / 2
        + 1,
    ).cast("bigint")
    return (
        df.select(
            F.col(id_col).alias("doc_id"),
            F.explode(tokens(normalized(F.col(text_col)))).alias("wd"),
        )
        .where(F.length("wd") > 0)
        .select("doc_id", n_syms.alias("n_syms"))
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("bigint").alias("n_words"),
            F.sum("n_syms").cast("bigint").alias("n_bpe_tokens"),
        )
    )
