"""Deduplication operators for large-scale training-data pipelines.

All DataFrame-native (no Python in the hot path). Scale notes per operator:

- exact: one hash-aggregate shuffle on md5(text); AQE coalesces.
- minhash/LSH: explode(shingles) -> one groupBy(doc) for signatures ->
  explode(bands) -> self-equi-join on (band_id, key). At 100 TB the band
  join is the only wide shuffle; band keys are uniform by construction
  (md5), so no salting needed.
- simhash: explode(tokens) -> single groupBy(doc) computing all 32 bit-sums
  map-side (partial aggregation); no join.
- n-gram Jaccard: candidate generation via the shingle inverted index with
  a max-document-frequency cut on hot shingles (bounded join fan-out).

Token/shingle hashing uses md5-hex prefixes so the DuckDB oracle can replay
bit-for-bit (engine-native xxhash/murmur differ across engines).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..functions.textfns import let_bound, normalized, token_count, token_md5_long, tokens

SIMHASH_BITS = 32


def exact_dedup_groups(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Exact dedup: hash-groupBy on md5(text); keeps the min id as canonical.

    Returns (text_hash, keep_id, n_dups).
    """
    return (
        df.select(F.md5(F.col(text_col)).alias("text_hash"), F.col(id_col))
        .groupBy("text_hash")
        .agg(F.min(id_col).alias("keep_id"), F.count("*").cast("bigint").alias("n_dups"))
    )


def keep_first(df: DataFrame, key_cols: list[str], order_col: str) -> DataFrame:
    """A3 at cross-row scale: row_number over (partitionBy key, orderBy
    order) == 1 (SURVEY.md §2.4 A3 'cross-row' formulation)."""
    w = Window.partitionBy(*key_cols).orderBy(F.col(order_col))
    return df.withColumn("rn", F.row_number().over(w)).where(F.col("rn") == 1).drop("rn")


def shingles(text_col: Column, k: int = 3) -> Column:
    """Distinct k-word shingles of the normalized text (array column).

    Built with element_at (O(1) array index) rather than slice-per-shingle,
    and the token array is LET-BOUND (textfns.let_bound): referencing the
    tokenizer expression directly inside the per-shingle lambda re-runs
    split+regexp on every element access — measured 35-50x slower for
    identical values."""

    def body(toks: Column) -> Column:
        n = F.size(toks)
        idx = F.sequence(F.lit(1), F.greatest(n - (k - 1), F.lit(1)))
        # try_element_at: null past the end (docs shorter than k tokens) —
        # concat_ws skips nulls, matching the oracle's clamped list slice;
        # plain element_at would THROW under ANSI mode (Spark 4 default)
        return F.array_distinct(
            F.transform(
                idx,
                lambda i: F.concat_ws(
                    " ", *[F.try_element_at(toks, i + j) for j in range(k)]
                ),
            )
        )

    return let_bound(tokens(normalized(text_col)), body)


def doc_shingles(df: DataFrame, text_col: str = "text", id_col: str = "doc_id", k: int = 3) -> DataFrame:
    """Exploded (doc_id, shingle) pairs — the inverted-index base."""
    return df.select(
        F.col(id_col).alias("doc_id"), F.explode(shingles(F.col(text_col), k)).alias("shingle")
    )


# Universal-hash family for MinHash: one md5 per shingle, then cheap linear
# transforms h_i(x) = (a_i * x + b_i) mod MERSENNE_31. x is 28 bits so
# a_i * x stays well inside int64 (exact on both engines).
MINHASH_PRIME = (1 << 31) - 1
MINHASH_A = [1 + 2 * i for i in range(64)]
MINHASH_B = [7919 * (i + 1) for i in range(64)]


def shingle_base_hash(col: Column) -> Column:
    """28-bit integer base hash of a shingle via md5 hex prefix."""
    return F.conv(F.substring(F.md5(col), 1, 7), 16, 10).cast("bigint")


def minhash_signatures(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 8,
    k: int = 3,
) -> DataFrame:
    """MinHash signature per doc: h_i = min over shingles of
    (a_i * md5int(shingle) + b_i) mod (2^31 - 1). Columns h0..h{n-1}.

    One md5 per shingle (not per hash function), one explode + one
    partial-aggregating groupBy — scales linearly; no state beyond the
    signature row per doc.
    """
    exploded = doc_shingles(df, text_col, id_col, k).withColumn(
        "x", shingle_base_hash(F.col("shingle"))
    )
    aggs = [
        F.min(
            (F.lit(MINHASH_A[i]) * F.col("x") + F.lit(MINHASH_B[i])) % F.lit(MINHASH_PRIME)
        ).alias(f"h{i}")
        for i in range(num_hashes)
    ]
    return exploded.groupBy("doc_id").agg(*aggs)


def row_minhash(
    text_col: Column, num_hashes: int = 8, k: int = 3
) -> list[Column]:
    """The SAME minhash signature as :func:`minhash_signatures`, computed
    ROW-LOCALLY (array HOFs over the in-row shingle array — array_min of
    the linear transforms) instead of explode + groupBy-min. Value-identical
    by construction (same shingles(), same hash family, min over the same
    set); pinned by a test. This is the streaming form: no aggregation
    state, so it composes with dropDuplicatesWithinWatermark (streaming
    aggregations before a stateful dedup are not allowed, and an exploded
    groupBy would be exactly that).

    Returns the h0..h{n-1} Columns."""
    xs = F.transform(shingles(text_col, k), shingle_base_hash)

    # NOTE: the per-hash index must be captured by closure, not a lambda
    # default — F.transform passes the ARRAY INDEX to any two-arg lambda.
    def _h(i: int) -> Column:
        return F.array_min(
            F.transform(
                xs,
                lambda x: (F.lit(MINHASH_A[i]) * x + F.lit(MINHASH_B[i]))
                % F.lit(MINHASH_PRIME),
            )
        ).alias(f"h{i}")

    return [_h(i) for i in range(num_hashes)]


def _banded(
    signatures: DataFrame, num_hashes: int, rows_per_band: int
) -> DataFrame:
    """(doc_id, band_id, band_key) rows from an h0..h{n-1} signature frame
    — the banding shared by the self-join (lsh_candidate_pairs) and the
    index-probe (lsh_probe_dedup) constructions."""
    n_bands = num_hashes // rows_per_band
    bands = F.array(
        *[
            F.struct(
                F.lit(b).alias("band_id"),
                F.concat_ws(
                    "_", *[F.col(f"h{b * rows_per_band + r}") for r in range(rows_per_band)]
                ).alias("band_key"),
            )
            for b in range(n_bands)
        ]
    )
    return signatures.select("doc_id", F.explode(bands).alias("band")).select(
        "doc_id", F.col("band.band_id").alias("band_id"), F.col("band.band_key").alias("band_key")
    )


def build_band_index(
    corpus: DataFrame,
    location: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 8,
    rows_per_band: int = 2,
    k: int = 3,
) -> None:
    """Build and PERSIST the minhash-LSH band index (VERDICT r3 item 7 —
    the amortization :func:`build_ivf_index` already gives the ANN path):
    (index_id, band_id, band_key) written as one directory partition per
    band, band_key-sorted within each, plus a 1-row meta table pinning the
    signature-family parameters so probes can refuse a mismatched index.
    Built ONCE per corpus; every subsequent batch ingest
    (:func:`lsh_probe_dedup_indexed`) and streaming query
    (streaming/ingest.stream_probe_dedup) probes the table instead of
    re-running the corpus shingle+minhash pipeline, and the per-band
    ``band_id = b`` filters prune the scan to single directories."""
    idx = _banded(
        minhash_signatures(corpus, text_col, id_col, num_hashes, k),
        num_hashes,
        rows_per_band,
    ).select(F.col("doc_id").alias("index_id"), "band_id", "band_key")
    n_bands = num_hashes // rows_per_band
    (
        idx.repartition(n_bands, "band_id")
        .sortWithinPartitions("band_id", "band_key")
        .write.mode("overwrite")
        .partitionBy("band_id")
        .parquet(f"{location}/bands")
    )
    corpus.sparkSession.createDataFrame(
        [(num_hashes, rows_per_band, k)], "num_hashes int, rows_per_band int, k int"
    ).coalesce(1).write.mode("overwrite").parquet(f"{location}/meta")


def load_band_index(
    spark,
    location: str,
    num_hashes: int | None = None,
    rows_per_band: int | None = None,
    k: int | None = None,
) -> DataFrame:
    """Read a persisted band index back as the (index_id, band_id,
    band_key) frame the probe paths accept. When the caller states the
    signature parameters it expects — including the shingle size ``k``,
    which changes the key space just as much as the hash family — a
    mismatch with the index's recorded meta raises instead of silently
    probing incompatible band keys (which would never collide and wave
    every duplicate through as new)."""
    meta = spark.read.parquet(f"{location}/meta").collect()[0]
    for name, want in (("num_hashes", num_hashes), ("rows_per_band", rows_per_band), ("k", k)):
        if want is not None and meta[name] != want:
            raise ValueError(
                f"band index at {location} was built with {name}="
                f"{meta[name]}, probe expects {want}"
            )
    return spark.read.parquet(f"{location}/bands").select(
        "index_id", "band_id", "band_key"
    )


def lsh_probe_dedup(
    corpus: DataFrame | None,
    batch: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 8,
    rows_per_band: int = 2,
    k: int = 3,
    eager: bool = True,
    band_index: DataFrame | None = None,
) -> DataFrame:
    """INCREMENTAL near-dup dedup: probe a NEW batch against the EXISTING
    corpus's minhash-LSH band index — the batch-ingest production shape
    (a self-join over corpus+batch would re-pair the whole history on
    every ingest; the probe join touches only batch x matching-bucket
    rows). Same signature family and banding as lsh_candidate_pairs.

    Pass ``band_index`` (an (index_id, band_id, band_key) frame, normally
    :func:`load_band_index` over a :func:`build_band_index` table) to skip
    rebuilding the corpus index — the amortized production path; giving
    only ``corpus`` derives the index inline (one-shot exploratory use).

    Returns one row per batch document: every document — even empty text —
    has a signature (shingles() yields the "" shingle for empty docs, so
    an empty incoming doc collides with any empty indexed doc: exact-dup
    semantics, the right verdict for a dedup gate).
    (doc_id, n_index_hits, is_new 0/1) — is_new=0 means some corpus
    document shares a band bucket (near-dup: drop or re-route).
    """
    if band_index is not None:
        idx = band_index.select("index_id", "band_id", "band_key")
    else:
        if corpus is None:
            raise ValueError("pass either corpus or band_index")
        idx = _banded(
            minhash_signatures(corpus, text_col, id_col, num_hashes, k),
            num_hashes,
            rows_per_band,
        ).select(F.col("doc_id").alias("index_id"), "band_id", "band_key")
    new_sig = minhash_signatures(batch, text_col, id_col, num_hashes, k)
    if eager:
        # new_sig feeds the banded probe AND the left-join spine; the idx
        # is read once by the probe join, so it needs no cache at all.
        # No pre-count (r6): the single eager action below fills the
        # cache in one job.
        new_sig.persist()
    hits = (
        _banded(new_sig, num_hashes, rows_per_band)
        .join(idx, ["band_id", "band_key"])
        .groupBy("doc_id")
        .agg(F.countDistinct("index_id").alias("nh"))
    )
    out = (
        new_sig.select("doc_id")
        .join(hits, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce(F.col("nh"), F.lit(0)).cast("bigint").alias("n_index_hits"),
            F.when(F.col("nh").isNull(), 1).otherwise(0).cast("int").alias("is_new"),
        )
    )
    if not eager:
        # plan-inspection hook (tests): nothing was persisted or executed
        return out
    out = out.localCheckpoint(eager=True)
    new_sig.unpersist()
    return out


def lsh_probe_dedup_indexed(
    spark,
    location: str,
    batch: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 8,
    rows_per_band: int = 2,
    k: int = 3,
) -> DataFrame:
    """:func:`lsh_probe_dedup` against a PERSISTED index
    (:func:`build_band_index`): reads the band table (meta-validated,
    including the shingle size) instead of recomputing the corpus
    signatures — each ingest pays only for the batch side plus a
    bucket-join against the table scan."""
    idx = load_band_index(spark, location, num_hashes, rows_per_band, k)
    return lsh_probe_dedup(
        None,
        batch,
        text_col,
        id_col,
        num_hashes,
        rows_per_band,
        k,
        band_index=idx,
    )


def lsh_candidate_pairs(
    signatures: DataFrame, num_hashes: int = 8, rows_per_band: int = 2
) -> DataFrame:
    """Band the signature and self-join on band buckets -> candidate pairs
    (doc_a < doc_b). The classic banding construction (Broder; MMDS ch.3).
    """
    # the signature frame feeds both sides of the self-join; materialize it
    # eagerly — a lazy persist would let both join sides race to fill the
    # cache and compute the shingle pipeline twice (at scale: write the
    # signature table). localCheckpoint rather than persist (r6): the
    # self-join references the frame twice, so a lineage-bearing cache
    # makes Catalyst re-analyze the whole upstream shingle plan per
    # reference — the flat LogicalRDD keeps the pair plan's analysis
    # bounded (guide §3.3). The checkpoint is on a NEW frame, so any cache
    # the caller set up on its own frame is untouched.
    # eager=False and NO count (r6): the single eager pair action below
    # materializes the checkpoint on first access and both self-join
    # sides read the same cached RDD within that one job — the separate
    # signature-materialization job was pure overhead (block-level locks
    # serialize any same-partition race inside a job; the multi-JOB fill
    # race this used to guard against cannot arise from one action).
    signatures = signatures.localCheckpoint(eager=False)
    exploded = _banded(signatures, num_hashes, rows_per_band)
    a = exploded.alias("a")
    b = exploded.alias("b")
    out = (
        a.join(b, ["band_id", "band_key"])
        .where(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
        # eager candidate-pair frame; releases the signature checkpoint
        # (persist accretion across bench passes — ADVICE r2)
        .localCheckpoint(eager=True)
    )
    _release_frame(signatures)
    return out


def minhash_jaccard_estimates(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 8,
    rows_per_band: int = 2,
    k: int = 3,
) -> DataFrame:
    """Sketch-quality table for MinHash (the hll_distinct pattern applied
    to Jaccard): for every LSH candidate pair, the signature-agreement
    ESTIMATE next to the EXACT shingle-set Jaccard and the signed error —
    the measurement that justifies (num_hashes, rows_per_band) choices
    before a 100 TB dedup run is launched.

    est_e4   = (#{i: h_i(a) = h_i(b)} * 10000) DIV num_hashes
               (E[est] = J by the MinHash property, Broder 1997)
    exact_e4 = (|A ∩ B| * 10000) DIV (|A| + |B| - |A ∩ B|)
    err_e4   = est_e4 - exact_e4

    Scale shape: the quadratic stage is the banded LSH self-join (already
    bounded); the exact pass then touches ONLY candidate docs' shingles —
    one join keyed on doc id to attach pair membership, one on (doc,
    shingle) for the intersection count, both partial shuffles. Exact
    Jaccard over all pairs would be the O(n^2) plan this module exists to
    avoid; exact-on-candidates is the audited compromise (the
    heavy_hitters verify-on-candidates precedent). All-integer output.
    """
    sig = minhash_signatures(df, text_col, id_col, num_hashes, k)
    # flat materialized signature table (multi-referenced: banding + both
    # per-pair signature join sides — the lsh_candidate_pairs discipline)
    sig = sig.localCheckpoint(eager=False)
    pairs = lsh_candidate_pairs(sig, num_hashes, rows_per_band)
    agree = None
    for i in range(num_hashes):
        term = F.when(F.col(f"ha{i}") == F.col(f"hb{i}"), 1).otherwise(0)
        agree = term if agree is None else agree + term
    sig_a = sig.select(
        F.col("doc_id").alias("doc_a"),
        *[F.col(f"h{i}").alias(f"ha{i}") for i in range(num_hashes)],
    )
    sig_b = sig.select(
        F.col("doc_id").alias("doc_b"),
        *[F.col(f"h{i}").alias(f"hb{i}") for i in range(num_hashes)],
    )
    est = (
        pairs.join(sig_a, "doc_a")
        .join(sig_b, "doc_b")
        .select("doc_a", "doc_b", agree.cast("bigint").alias("n_agree"))
    )
    # exact-on-candidates, literally: restrict the corpus to documents that
    # appear in some candidate pair BEFORE the shingle explode (previously
    # the explode ran over the full corpus and the pair join filtered after
    # — the docstring's "touches ONLY candidate docs' shingles" now holds at
    # the scan, guide §2.3 project-before-the-exchange). The candidate id
    # set is small by construction (LSH-bounded), so the semi join
    # broadcasts; the exploded frame feeds three consumers (sizes + both
    # intersection sides) and is persisted once.
    cand_ids = (
        pairs.select(F.col("doc_a").alias(id_col))
        .unionByName(pairs.select(F.col("doc_b").alias(id_col)))
        .distinct()
    )
    cand_docs = df.join(F.broadcast(cand_ids), id_col, "left_semi")
    shing = doc_shingles(cand_docs, text_col, id_col, k).localCheckpoint(eager=False)
    sizes = shing.groupBy("doc_id").agg(F.count("*").alias("sz"))
    sh_a = shing.select(F.col("doc_id").alias("doc_a"), "shingle")
    sh_b = shing.select(F.col("doc_id").alias("doc_b"), "shingle")
    inter = (
        pairs.join(sh_a, "doc_a")
        .join(sh_b, ["doc_b", "shingle"])
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("inter"))
    )
    out = (
        est.join(inter, ["doc_a", "doc_b"], "left")
        .join(sizes.select(F.col("doc_id").alias("doc_a"), F.col("sz").alias("sza")), "doc_a")
        .join(sizes.select(F.col("doc_id").alias("doc_b"), F.col("sz").alias("szb")), "doc_b")
        .select(
            "doc_a",
            "doc_b",
            "n_agree",
            F.expr(f"(n_agree * 10000) DIV {num_hashes}").alias("est_e4"),
            F.expr(
                "(coalesce(inter, 0) * 10000) DIV (sza + szb - coalesce(inter, 0))"
            ).alias("exact_e4"),
            F.expr(
                f"(n_agree * 10000) DIV {num_hashes}"
                " - (coalesce(inter, 0) * 10000) DIV (sza + szb - coalesce(inter, 0))"
            ).alias("err_e4"),
        )
        # eager result frame so the signature cache can be released NOW —
        # a lazy return would recompute the shingle pipeline per join side
        # after the unpersist (the lsh_candidate_pairs discipline)
        .localCheckpoint(eager=True)
    )
    _release_frame(shing)
    _release_frame(sig)
    return out


def simhash(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """SimHash over tokens (with multiplicity): per bit b, sum of +-1 by
    whether md5-int(token) has bit b set; simhash sets bit b iff sum > 0.

    32 bits so the oracle can replay with plain BIGINT arithmetic. Single
    explode + groupBy with 32 conditional sums (all map-side combinable).
    """
    toks = df.select(
        F.col(id_col).alias("doc_id"),
        F.explode(tokens(normalized(F.col(text_col)))).alias("tok"),
    ).where(F.col("tok") != "")
    h = F.conv(F.substring(F.md5(F.col("tok")), 1, 8), 16, 10).cast("bigint")
    bit_sums = [
        F.sum(
            F.when(F.shiftright(h, b).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
        ).alias(f"b{b}")
        for b in range(SIMHASH_BITS)
    ]
    agg = toks.groupBy("doc_id").agg(*bit_sums)
    sh = None
    for b in range(SIMHASH_BITS):
        term = F.when(F.col(f"b{b}") > 0, F.lit(2 ** b).cast("bigint")).otherwise(F.lit(0).cast("bigint"))
        sh = term if sh is None else sh + term
    return agg.select("doc_id", sh.alias("simhash"))


def simhash_multiprobe_pairs(
    sig: DataFrame,
    max_hamming: int = 12,
    key_bits: int = 16,
    rotations: tuple[int, ...] = (0, 8, 16, 24),
    hash_bits: int = SIMHASH_BITS,
) -> DataFrame:
    """SimHash near-dup pairs via multi-probe rotation blocking.

    Round-1 used a single 8-bit prefix block: 256 buckets, so the per-bucket
    self-join grows O(n^2/256) — a scale-killer at 10^9+ docs (VERDICT.md
    item 5). Here each doc emits one 16-bit key per cyclic rotation of the
    hash (top key_bits of rot_r(simhash)); a pair is a candidate iff it
    collides on ANY rotation. 2^16 buckets shrink every per-bucket join by
    ~256x while the 4 probes recover recall a single wider key would lose:
    a pair agreeing on any of the four stride-8 16-bit cyclic windows
    (offsets 0/8/16/24) is caught, so hamming<=1 pairs are ALWAYS found
    (one flipped bit can corrupt at most two of the four windows); pairs up
    to max_hamming are found with high probability but not guaranteed (12
    adversarially-placed flips can touch all four windows). Exact
    hamming(<= max_hamming) re-ranks candidates; integer-only arithmetic
    end-to-end so the DuckDB oracle (which mirrors the same blocking, hence
    the same recall) replays it bit-for-bit.

    The exploded probe frame feeds both self-join sides: it is persisted +
    materialized here and released after the pair result is eagerly
    localCheckpoint-ed, so repeated invocations (bench loops) do not
    accrete cached frames.

    Returns (doc_a, doc_b, hamming).
    """
    mask = (1 << hash_bits) - 1
    sh = F.col("simhash")
    probes = F.array(
        *[
            F.struct(
                F.lit(r).alias("probe"),
                F.shiftright(
                    F.shiftleft(sh, r).bitwiseAND(F.lit(mask)).bitwiseOR(
                        F.shiftright(sh, hash_bits - r)
                    ),
                    hash_bits - key_bits,
                ).alias("bkey"),
            )
            for r in rotations
        ]
    )
    base = sig.select("doc_id", "simhash", F.explode(probes).alias("p")).select(
        "doc_id", "simhash", F.col("p.probe").alias("probe"), F.col("p.bkey").alias("bkey")
    ).persist()
    a = base.select(
        F.col("doc_id").alias("doc_a"), F.col("simhash").alias("sh_a"), "probe", "bkey"
    )
    b = base.select(
        F.col("doc_id").alias("doc_b"), F.col("simhash").alias("sh_b"), "probe", "bkey"
    )
    ham = F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b")))
    out = (
        a.join(b, ["probe", "bkey"])
        .where(F.col("doc_a") < F.col("doc_b"))
        .dropDuplicates(["doc_a", "doc_b"])
        .select("doc_a", "doc_b", ham.cast("int").alias("hamming"))
        .where(F.col("hamming") <= max_hamming)
        .localCheckpoint(eager=True)
    )
    base.unpersist()
    return out


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    threshold: float = 0.5,
    max_df: int = 100,
) -> DataFrame:
    """Exact n-gram Jaccard over the shingle inverted index.

    Hot shingles (document frequency > max_df) are excluded from candidate
    generation — bounds join fan-out at web scale; the final Jaccard is
    still computed on full shingle sets, so the cut only loses pairs whose
    ONLY common shingles are corpus-stopword shingles (deterministic and
    mirrored in the oracle).
    Returns (doc_a, doc_b, jaccard).
    """
    # The inverted index feeds three consumers (sizes, document frequencies,
    # the pair join); persist it once instead of recomputing the explode —
    # at scale this is the materialized inverted index. Cached ALREADY
    # KEYED by shingle (r6, guide §2.4): the df groupBy, the hot-shingle
    # cut join, and the candidate self-join all consume hashpartitioning
    # (shingle), so none plans its own exchange of the index — and with
    # the cut join now a cache-local co-partitioned probe, recomputing it
    # once per self-join side is cheaper than the extra persist+count
    # materialization pass it used to take to run it once (interleaved
    # A/B 1.61 -> 1.34 s at sf0.1, values identical).
    pairs_base = doc_shingles(df, text_col, id_col, k).repartition("shingle").persist()
    sizes = pairs_base.groupBy("doc_id").agg(F.count("*").alias("n_shingles"))
    df_counts = pairs_base.groupBy("shingle").agg(F.count("*").alias("df"))
    filtered = pairs_base.join(df_counts.where(F.col("df") <= max_df), "shingle")
    a = filtered.alias("a")
    b = filtered.alias("b")
    common = (
        a.join(b, "shingle")
        .where(F.col("a.doc_id") < F.col("b.doc_id"))
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.count("*").alias("n_common"))
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n_shingles").alias("na"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n_shingles").alias("nb"))
    # Result-preserving early cut: jaccard = c/(na+nb-c) <= c/na, so any pair
    # with c/na below the threshold can never pass the final filter — prune
    # it after the FIRST size join, before the second join and the sort.
    # Slack covers the final round(.,4) lift plus FP division. At threshold
    # 0 this is a no-op; at 0.5 it drops ~99.98% of background pairs
    # (measured sf0.1: 1.13M -> ~3k rows into the second join).
    half_cut = common.join(sa, "doc_a").where(
        F.col("n_common") / F.col("na") >= threshold - 1e-4
    )
    out = (
        half_cut
        .join(sb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.round(
                F.col("n_common") / (F.col("na") + F.col("nb") - F.col("n_common")), 4
            ).alias("jaccard"),
        )
        .where(F.col("jaccard") >= threshold)
        # eager: the caller gets a materialized pair frame (at scale: the
        # written pair table) and the inverted-index caches release NOW —
        # a lazy return would pin them for the caller's lifetime
        .localCheckpoint(eager=True)
    )
    pairs_base.unpersist()
    return out


def shared_window_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 16,
    min_shared: int = 1,
    max_df: int = 50,
) -> DataFrame:
    """Exact-substring duplication candidates (the training-data dedup of
    Lee et al., "Deduplicating Training Data Makes Language Models Better"):
    two documents sharing ANY exact k-word window almost surely share a
    long copied passage. Inverted index over distinct k-word windows;
    windows appearing in > max_df documents (boilerplate) are cut from
    candidate generation — the same fan-out bound as ngram_jaccard_pairs.

    Returns (doc_a, doc_b, n_shared) with n_shared = number of distinct
    shared windows, >= min_shared.
    """
    # shingle-keyed cached index (r6, the ngram_jaccard_pairs layout): one
    # exchange serves the df groupBy, the cut join, and the self-join; the
    # cut join re-runs once per self-join side as a cache-local
    # co-partitioned probe, which beats the persist+count materialization
    # pass that used to run it once. The single eager action below fills
    # the lazy cache within one job (the multi-JOB fill race the
    # lsh_candidate_pairs convention guards against does not arise).
    sh = doc_shingles(df, text_col, id_col, k).repartition("shingle").persist()
    dfc = sh.groupBy("shingle").agg(F.count("*").alias("df"))
    filtered = sh.join(dfc.where(F.col("df") <= max_df), "shingle")
    a = filtered.alias("a")
    b = filtered.alias("b")
    out = (
        a.join(b, "shingle")
        .where(F.col("a.doc_id") < F.col("b.doc_id"))
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.count("*").alias("n_shared"))
        .where(F.col("n_shared") >= min_shared)
        # eager pair result so the index caches release before returning
        .localCheckpoint(eager=True)
    )
    sh.unpersist()
    return out


def remove_shared_windows(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 16,
    eager: bool = True,
) -> DataFrame:
    """Exact-substring dedup APPLY (completes the Lee et al. "Deduplicating
    Training Data Makes Language Models Better" story that
    :func:`shared_window_pairs` starts): every token covered by a k-token
    sliding window whose exact content occurred EARLIER in the corpus is
    removed. "Earlier" is (doc_id, start) order — deterministic
    keep-first, the RefinedWeb/deduplicate-text-datasets removal
    semantics at window granularity (the suffix-array ">=50-token run"
    criterion maps to cover-by-duplicated-k-window here; a run of length
    r >= k duplicated ELSEWHERE is covered by r-k+1 duplicated windows
    and removed wholly at its later occurrences, while its first
    occurrence survives intact). Caveat, pinned by test: a SELF-
    overlapping periodic run (period < k, e.g. 'm m m m m m' at k=4)
    keeps only its first k-window's first token(s) — the later in-doc
    window occurrences are duplicates and their cover reaches back into
    the first occurrence; cover-removal trades that sliver of the
    canonical copy for never splicing half-removed runs.

    Plan shape at scale: sliding-window explode (stride 1, fan-out n-k+1
    per doc; each window hashed to a 60-bit md5 key — O(n*k) chars hashed,
    the price of exactness; raise the stride for a cheaper screen) ->
    first-occurrence agg min(struct(doc_id, start)) per hash (two-phase
    partial agg, md5-uniform keys, no skew) -> decision join on the hash ->
    interval explode of duplicate windows (fan-out k per DUPLICATE only —
    rare in clean corpora) -> one anti-style left join against the token
    explode -> per-document ordered re-assembly (collect_list bounded by
    doc size). No global window, no driver loop, no self-join: candidate
    work is index-bounded exactly like shared_window_pairs.

    Returns one row per input document:
    (doc_id, n_tokens, n_removed, clean_text).
    """
    n = token_count(F.col(text_col))
    # sequence(1, 0) DESCENDS (the epoch_upsample/_kgrams trap): docs
    # shorter than k tokens get an explicitly empty window array
    win_hashes = let_bound(
        tokens(F.col(text_col)),
        lambda toks: F.transform(
            F.sequence(F.lit(1), n - (k - 1)),
            lambda s: F.struct(
                s.alias("s"),
                token_md5_long(F.array_join(F.slice(toks, s, k), " ")).alias("h"),
            ),
        ),
    )
    wins = (
        df.select(
            F.col(id_col).alias("doc_id"),
            F.when(n >= k, win_hashes)
            .otherwise(F.array().cast("array<struct<s:int,h:bigint>>"))
            .alias("ws"),
        )
        .select("doc_id", F.explode("ws").alias("w"))
        .select("doc_id", F.col("w.s").alias("s"), F.col("w.h").alias("h"))
    )
    if eager:
        # flat materialized window frame (multi-referenced by the
        # first-occurrence agg and the decision join — guide §3.3)
        wins = wins.localCheckpoint(eager=False)
    first = wins.groupBy("h").agg(F.min(F.struct("doc_id", "s")).alias("f"))
    dup = (
        wins.join(first, "h")
        .where(~((F.col("doc_id") == F.col("f.doc_id")) & (F.col("s") == F.col("f.s"))))
        .select("doc_id", "s")
    )
    out = _strip_dup_windows(df, dup, text_col, id_col, k)
    if not eager:
        # plan-inspection hook (tests): nothing was persisted or executed
        return out
    out = out.localCheckpoint(eager=True)
    _release_frame(wins)
    return out


def _strip_dup_windows(
    df: DataFrame, dup: DataFrame, text_col: str, id_col: str, k: int
) -> DataFrame:
    """Shared removal tail for the exact-substring APPLY family: duplicate
    (doc_id, s) window starts -> interval cover -> per-document removed-
    position ARRAYS (the only shuffled payload — duplicate metadata, tiny
    in clean corpora) -> one broadcast-friendly left join back onto the
    corpus -> ROW-LOCAL token filtering and re-assembly (array HOFs).

    r6 rewrite (guide §2.3 "shuffle keys and metadata instead of
    payloads"): the previous formulation posexploded EVERY corpus token
    and shuffled them all through a collect_list groupBy just to drop the
    few removed positions; now only the removed (doc_id, position) set is
    shuffled/aggregated, and documents with no duplicates take a null-fast
    path that never rebuilds their token array membership test."""
    n = token_count(F.col(text_col))
    rm = (
        dup.select(
            "doc_id", F.explode(F.sequence(F.col("s"), F.col("s") + (k - 1))).alias("p")
        )
        .distinct()
        .groupBy("doc_id")
        .agg(F.collect_list("p").alias("rmp"))
    )
    toks = tokens(F.col(text_col))
    kept_join = let_bound(
        toks,
        lambda ts: F.array_join(
            F.filter(ts, lambda t, i: ~F.array_contains(F.col("rmp"), i + 1)), " "
        ),
    )
    return (
        df.select(F.col(id_col).alias("doc_id"), F.col(text_col))
        .join(rm, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce(n, F.lit(0)).cast("bigint").alias("n_tokens"),
            F.coalesce(F.size("rmp"), F.lit(0)).cast("bigint").alias("n_removed"),
            F.coalesce(
                F.when(F.col("rmp").isNull(), F.array_join(toks, " ")).otherwise(
                    kept_join
                ),
                F.lit(""),
            ).alias("clean_text"),
        )
    )


# rolling-screen constants: 31-bit Mersenne modulus keeps every product in
# the fold under 2^52 (BIGINT-safe on both engines); the base is any odd
# constant below the modulus
_ROLL_M = 2147483647  # 2^31 - 1
_ROLL_B = 1000003


def remove_shared_windows_screened(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 16,
    eager: bool = True,
) -> DataFrame:
    """Two-pass :func:`remove_shared_windows` for the 100 TB path: the
    stride-1 exact pass md5-hashes every k-token window string — O(n*k)
    characters hashed, the dominant cost at corpus scale (the docstring's
    documented price of exactness). This variant cuts the char-hashing
    ~k-fold while producing BIT-IDENTICAL output (pinned by
    tests/test_scale_paths.py::test_remove_shared_windows_screened_identical):

    Pass 1 (screen): each token is md5-hashed ONCE (O(n) chars), and each
    window's screen key is a k-term polynomial fold over the precomputed
    token hashes mod 2^31-1 — pure JVM integer arithmetic, no further
    char hashing. Identical window content folds to an identical key, so
    a key with global count >= 2 marks every occurrence of every truly
    duplicated window: false negatives are impossible; false positives
    (31-bit birthday collisions) only add candidates.

    Pass 2 (verify-on-candidates): ONLY candidate windows are re-hashed
    with the exact 60-bit md5 window key (in clean corpora a vanishing
    fraction of n), then the keep-first / interval-cover / re-assembly
    tail runs on verified duplicates exactly as in
    :func:`remove_shared_windows` — a hash with a single exact occurrence
    is its own first occurrence and drops out of the duplicate set, so
    collision-induced candidates cannot remove anything. Every occurrence
    of a duplicated content is a candidate (same content ⇒ same screen
    key), so first-occurrence over candidates equals global
    first-occurrence.

    Shuffle volume matches the exact pass (one groupBy over n window
    keys); the saving is CPU — char hashing down from n*k*chars_per_token
    to n*chars_per_token + bounded candidate re-hashing.
    """
    n = token_count(F.col(text_col))
    screen_keys = let_bound(
        F.transform(tokens(F.col(text_col)), lambda t: token_md5_long(t) % _ROLL_M),
        lambda th: F.transform(
            F.sequence(F.lit(1), n - (k - 1)),
            lambda s: F.struct(
                s.alias("s"),
                F.aggregate(
                    F.slice(th, s, k),
                    F.lit(0).cast("bigint"),
                    lambda acc, x: (acc * _ROLL_B + x) % _ROLL_M,
                ).alias("rk"),
            ),
        ),
    )
    wins = (
        df.select(
            F.col(id_col).alias("doc_id"),
            F.when(n >= k, screen_keys)
            .otherwise(F.array().cast("array<struct<s:int,rk:bigint>>"))
            .alias("ws"),
        )
        .select("doc_id", F.explode("ws").alias("w"))
        .select("doc_id", F.col("w.s").alias("s"), F.col("w.rk").alias("rk"))
    )
    if eager:
        # flat materialized window frame (multi-referenced by the
        # first-occurrence agg and the decision join — guide §3.3)
        wins = wins.localCheckpoint(eager=False)
    cand_keys = wins.groupBy("rk").agg(F.count("*").alias("c")).where(F.col("c") >= 2)
    cand = wins.join(cand_keys.select("rk"), "rk").select("doc_id", "s")
    # pass 2: exact md5 only for candidate windows — group the starts per
    # doc, join the text back once, slice+hash each candidate window
    cand_by_doc = cand.groupBy("doc_id").agg(F.collect_list("s").alias("ss"))
    exact = (
        df.select(F.col(id_col).alias("doc_id"), text_col)
        .join(cand_by_doc, "doc_id")
        .select(
            "doc_id",
            F.explode(
                let_bound(
                    tokens(F.col(text_col)),
                    lambda toks: F.transform(
                        F.col("ss"),
                        lambda s: F.struct(
                            s.alias("s"),
                            token_md5_long(
                                F.array_join(F.slice(toks, s, k), " ")
                            ).alias("h"),
                        ),
                    ),
                )
            ).alias("w"),
        )
        .select("doc_id", F.col("w.s").alias("s"), F.col("w.h").alias("h"))
    )
    first = exact.groupBy("h").agg(F.min(F.struct("doc_id", "s")).alias("f"))
    dup = (
        exact.join(first, "h")
        .where(~((F.col("doc_id") == F.col("f.doc_id")) & (F.col("s") == F.col("f.s"))))
        .select("doc_id", "s")
    )
    out = _strip_dup_windows(df, dup, text_col, id_col, k)
    if not eager:
        return out
    out = out.localCheckpoint(eager=True)
    _release_frame(wins)
    return out


def cross_corpus_contamination(
    train: DataFrame,
    test: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 16,
    max_df: int = 50,
) -> DataFrame:
    """Benchmark-contamination check: for each TEST document, how many of
    its exact k-word windows appear anywhere in the TRAIN corpus (and in
    how many train documents). The standard pre-training hygiene pass —
    a test doc with any hit leaked into the training set.

    Same inverted-index construction as shared_window_pairs, but the join
    is train x test (no self-join): the train index is built once, hot
    boilerplate windows (train df > max_df) are cut, and each test window
    probes it. Returns (doc_id, n_windows_hit, n_train_docs) for
    contaminated test docs only.
    """
    # the train index feeds both the df-count and the probe join — persist
    # AND materialize eagerly (lazy persists race; at scale: write the
    # window index table)
    tr = doc_shingles(train, text_col, id_col, k).select(
        F.col("doc_id").alias("train_id"), "shingle"
    ).persist()
    te = doc_shingles(test, text_col, id_col, k)
    dfc = tr.groupBy("shingle").agg(F.count("*").alias("df"))
    tr_cut = tr.join(dfc.where(F.col("df") <= max_df), "shingle")
    out = (
        te.join(tr_cut, "shingle")
        .groupBy("doc_id")
        .agg(
            F.countDistinct("shingle").alias("n_windows_hit"),
            F.countDistinct("train_id").alias("n_train_docs"),
        )
        # eager: contaminated-doc rows are few; release the train index now
        .localCheckpoint(eager=True)
    )
    tr.unpersist()
    return out


def contamination_report(
    train: DataFrame,
    test: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 16,
    max_df: int = 50,
    max_frac: float = 0.2,
    eager: bool = True,
) -> DataFrame:
    """The decontamination DECISION table: one row per TEST document with
    its window totals, hit counts, contamination fraction, and the
    clean/drop verdict — what a pre-training pipeline actually consumes
    (cross_corpus_contamination reports only the contaminated docs'
    hit counts; the decision needs the denominator and the clean rows
    too). frac = hits/windows is an exact integer ratio in double — no FP
    drift cross-engine — and the verdict compares the round(4) fraction.

    Same index construction: train windows persisted+materialized once,
    hot windows (train df > max_df) cut before the probe join. The test
    window frame feeds the totals agg and the probe — persisted too.

    Returns (doc_id, n_windows, n_windows_hit, contam_frac, is_clean 0/1).
    """
    tr = doc_shingles(train, text_col, id_col, k).select(
        F.col("doc_id").alias("train_id"), "shingle"
    )
    te = doc_shingles(test, text_col, id_col, k)
    if eager:
        tr.persist()
        te.persist()
    totals = te.groupBy("doc_id").agg(
        F.countDistinct("shingle").alias("n_windows")
    )
    dfc = tr.groupBy("shingle").agg(F.count("*").alias("df"))
    tr_cut = tr.join(dfc.where(F.col("df") <= max_df), "shingle")
    hits = (
        te.join(tr_cut, "shingle")
        .groupBy("doc_id")
        .agg(F.countDistinct("shingle").alias("nh"))
    )
    frac = F.round(
        F.coalesce(F.col("nh"), F.lit(0)) / F.col("n_windows"), 4
    )
    out = totals.join(hits, "doc_id", "left").select(
        "doc_id",
        F.col("n_windows").cast("bigint").alias("n_windows"),
        F.coalesce(F.col("nh"), F.lit(0)).cast("bigint").alias("n_windows_hit"),
        frac.alias("contam_frac"),
        F.when(frac <= max_frac, 1).otherwise(0).cast("int").alias("is_clean"),
    )
    if not eager:
        # plan-inspection hook (tests): nothing was persisted or executed
        return out
    out = out.localCheckpoint(eager=True)
    te.unpersist()
    tr.unpersist()
    return out


def keep_canonical(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
) -> DataFrame:
    """APPLY near-dup dedup to the corpus: cluster the candidate pairs
    (connected components) and keep exactly one document per cluster — the
    component minimum (the same keep-min convention as exact_dedup_groups)
    — plus every unclustered document. This is the row-returning end of
    the dedup story: pairs -> clusters -> the surviving training corpus.

    Plan shape at scale: the drop-list (clustered non-minima) is tiny
    relative to the corpus — one left_anti join against it; no shuffle of
    the corpus beyond that join (AQE broadcasts the drop side when it
    fits). Clusters come from the star-contraction clusterer (O(log n)
    rounds and measured faster wall-clock than min-label's O(diameter) at
    every sandbox sf; the two clusterers are pinned to agree and share one
    oracle). Returns the surviving input rows, all columns.
    """
    cc = connected_components_star(pairs)
    drop = cc.where(F.col("doc_id") != F.col("component")).select(
        F.col("doc_id").alias(id_col)
    )
    return df.join(drop, id_col, "left_anti")


def _release_frame(df: DataFrame) -> None:
    """Release whatever backs an intermediate frame: the CacheManager entry
    for persist()-ed frames (plain unpersist), AND the cached internal RDD
    behind a localCheckpoint-ed frame — Dataset.unpersist() does NOT cover
    the latter (checkpoint RDDs bypass the CacheManager), so without this
    an iterative loop leaks one cached RDD per checkpoint until the
    ContextCleaner happens to reclaim it (observed: never, while the py4j
    bridge pins the plan objects). The frame must not be used afterwards.
    """
    df.unpersist()
    try:
        lp = df._jdf.queryExecution().logical()
        if lp.getClass().getName().endswith("LogicalRDD"):
            lp.rdd().unpersist(False)
    except Exception:
        pass  # best-effort; worst case the old behavior (cleaner-reclaimed)


def _fixpoint(base, step, measure, max_iter, name, stats):
    """The one round shape of the connected-components loops: each round
    is ``step(cur).localCheckpoint(eager=False)``, and ``measure(frame) ->
    (key, done)`` runs the round's single aggregate job, which both
    materializes the checkpoint and decides convergence. Only then is the
    superseded frame released, so at most two flat frames are live. The
    loop stops when ``done`` or the key repeats; ``base`` is measured first
    (a base that is already done runs zero rounds).

    Flattening EVERY round keeps each round's plan O(1): with persisted
    rounds and a checkpoint every 8th, ~90% of min-label's wall was query
    planning between jobs (a 31-round graph on a 4-core host: 147 s
    persisted, 21 s flattened).

    Returns the final flat frame, which the caller owns. On any exception
    — including the RuntimeError raised when ``max_iter`` rounds do not
    converge (a chain longer than max_iter would otherwise split into
    bogus components) — every live frame, ``base`` included, is released.
    """
    cur, nxt = base, None
    try:
        key, done = measure(cur)
        rounds = 0
        while not done:
            if rounds == max_iter:
                raise RuntimeError(
                    f"{name} did not converge in {max_iter} rounds; raise max_iter"
                )
            nxt = step(cur).localCheckpoint(eager=False)
            nxt_key, done = measure(nxt)
            _release_frame(cur)
            cur, nxt = nxt, None
            rounds += 1
            done = done or nxt_key == key
            key = nxt_key
        if stats is not None:
            stats["rounds"] = rounds
        out, cur = cur, None
        return out
    finally:
        for f in (cur, nxt):
            if f is not None:
                _release_frame(f)


def connected_components(
    pairs: DataFrame,
    id_a: str = "doc_a",
    id_b: str = "doc_b",
    max_iter: int = 25,
    stats: dict | None = None,
) -> DataFrame:
    """Distributed connected components over a near-dup pair graph — the
    step that turns pairwise candidates into dedup CLUSTERS (each cluster
    keeps one canonical document). Iterative min-label propagation: every
    vertex repeatedly adopts the smallest label among itself and its
    neighbors; converges in O(graph diameter) rounds, so the final label of
    every vertex is the minimum doc id of its component (deterministic,
    engine-replayable — the DuckDB oracle computes the same min over the
    transitive closure).

    Rounds run through :func:`_fixpoint`: every round's label frame is a
    flat checkpoint materialized by the round's convergence aggregate, and
    the previous one is released — O(1) cached frames however many rounds
    run. Stops when a round changes nothing; raises RuntimeError after
    ``max_iter`` rounds. The returned frame is the last round's checkpoint,
    renamed (no extra copy).

    Returns (doc_id, component).
    """
    directed = pairs.select(F.col(id_a).alias("src"), F.col(id_b).alias("dst"))
    # localCheckpoint, not persist: the loop's per-round plans reference
    # `edges` (and through it the caller's whole upstream lineage — scan,
    # shingle explode, band self-join). A persist caches DATA but analysis/
    # optimization still walks the full tree once per reference, so the
    # FIRST round paid ~2 s of pure Catalyst planning at sandbox scale; a
    # flat LogicalRDD base makes every round's plan O(1) (r6, guide
    # §3.3: planning time itself can become the bottleneck).
    edges = (
        directed.union(
            directed.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        )
        .distinct()
        .localCheckpoint(eager=False)
    )
    labels0 = (
        edges.select(F.col("src").alias("id")).distinct()
        .withColumn("label", F.col("id"))
        .localCheckpoint(eager=False)
    )

    def _step(labels: DataFrame) -> DataFrame:
        neigh = edges.join(
            labels.withColumnRenamed("id", "dst"), "dst"
        ).select(F.col("src").alias("id"), "label")
        return (
            labels.unionByName(neigh)
            .groupBy("id")
            .agg(F.min("label").alias("label"))
        )

    # labels only ever DECREASE under min-propagation, so sum(label) is a
    # strictly-decreasing convergence measure: one aggregate job per round
    # both materializes the checkpoint and detects the fixpoint (a
    # separate changed-rows join would double the per-round job count).
    # The sum runs in DECIMAL(38,0): with 64-bit ids at 10^9+ vertices a
    # BIGINT sum can overflow (ANSI-mode throw, or a silent wrap where a
    # collision could falsely signal convergence — ADVICE r2); 38 digits
    # hold sum(2^63 * 10^12) with room to spare.
    label_sum = F.sum(F.col("label").cast("decimal(38,0)"))
    try:
        labels = _fixpoint(
            labels0,
            _step,
            lambda f: (f.agg(label_sum).collect()[0][0], False),
            max_iter,
            "connected_components",
            stats,
        )
    finally:
        _release_frame(edges)
    return labels.select(
        F.col("id").alias("doc_id"), F.col("label").alias("component")
    )


def connected_components_star(
    pairs: DataFrame,
    id_a: str = "doc_a",
    id_b: str = "doc_b",
    max_iter: int = 20,
    stats: dict | None = None,
) -> DataFrame:
    """Connected components via alternating large-star / small-star
    contraction (Kiveris et al., "Connected Components in MapReduce and
    Beyond") — O(log n) rounds regardless of graph diameter, vs min-label
    propagation's O(diameter) (:func:`connected_components`). The variant
    to reach for on chain-heavy graphs; both agree on every graph (pinned
    by tests/test_scale_paths.py cross-checks and the dedup_components_star
    driver oracle).

    Per round, the edge set is rewritten (edges always kept canonical
    src > dst, no self-loops):

    - LARGE-STAR at each node u: every neighbor v > u is re-pointed at
      m = min(neighborhood of u, incl. u);
    - SMALL-STAR at each node u (over the src>dst orientation): u and all
      its smaller neighbors are re-pointed at m = min of those neighbors.

    At the fixpoint the edges form star forests: every non-minimum vertex
    points directly at its component's minimum id, so labels read straight
    off the edge list (same (doc_id, component) contract and the same
    min-id labels as connected_components).

    Convergence detection (r6): the fixpoint of the alternation is exactly
    the star forests (Kiveris et al. Thm. 1), and with the canonical
    src > dst orientation a star forest is characterized by two aggregate
    facts — every src appears exactly once, and no node is both a src and
    a dst (each parent is then the min of its component, since the min can
    never point at anything smaller). Both facts are computed in the SAME
    one-job-per-round aggregate that materializes the round (over a 2-rows-
    per-edge inline stack so the src/dst/union distinct counts share one
    pass), so the round that PRODUCES the forest is detected directly —
    the old edge-set-fingerprint equality needed one extra confirming
    round to observe "nothing changed" (rounds = k+1 instead of k; one
    full large+small star pass saved per call, and an input that is
    already a star forest runs zero rounds). The multiset fingerprint
    (count + decimal(38,0) sum of a 48-bit md5 prefix per edge) is kept as
    a secondary stop so a hypothetical forest-test gap degrades to the old
    behavior instead of looping. Rounds run through :func:`_fixpoint`
    (O(1) live frames, lineage flattened EVERY round) — a star round
    references the previous frame ~4 times (the adjacency union reads it
    twice, small-star joins the large-star output against its own
    aggregate), so persist-only rounds would grow the logical plan
    ~4^rounds and OOM Catalyst/AQE's plan stringification within a handful
    of rounds.

    Returns (doc_id, component).
    """

    def _round_stats(e: DataFrame):
        """ONE aggregate job: materializes ``e`` (eager=False checkpoint
        upstream) and returns ((n, h), is_forest). Stacks each edge into
        (side, node, other) rows and aggregates per node first (partial-
        aggregable, no Expand — a count-distinct formulation planned an
        Expand plus an extra exchange and cost more than the round it
        saved), then reduces to one row: a node violates forestness when
        it is the src of more than one edge or is both a src and a dst."""
        stacked = e.select(
            F.expr(
                "inline(array("
                "struct(0 as side, src as node, dst as other), "
                "struct(1 as side, dst as node, src as other)))"
            )
        )
        per_node = stacked.groupBy("node").agg(
            F.sum(F.when(F.col("side") == 0, 1).otherwise(0)).alias("ns"),
            F.max("side").alias("mx"),
            F.sum(
                F.when(
                    F.col("side") == 0,
                    F.conv(
                        F.substring(
                            F.md5(F.concat_ws("_", F.col("node"), F.col("other"))),
                            1,
                            12,
                        ),
                        16,
                        10,
                    ).cast("decimal(38,0)"),
                )
            ).alias("hs"),
        )
        row = per_node.agg(
            F.sum("ns").alias("n"),
            F.sum("hs").alias("h"),
            F.max(
                F.when(
                    (F.col("ns") > 1) | ((F.col("ns") > 0) & (F.col("mx") == 1)),
                    1,
                ).otherwise(0)
            ).alias("bad"),
        ).collect()[0]
        is_forest = (row["bad"] or 0) == 0
        return (row["n"] or 0, row["h"]), is_forest

    def _large_star(e: DataFrame) -> DataFrame:
        adj = e.unionByName(
            e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        )
        m = adj.groupBy("src").agg(F.min("dst").alias("mn")).select(
            "src", F.least(F.col("mn"), F.col("src")).alias("m")
        )
        # no .distinct() here (r6): duplicate (dst, m) rows don't change
        # small-star's min aggregate, and its trailing distinct removes
        # them from the round output — the dedup shuffle was pure cost
        # (one Exchange per round removed, verified value-neutral by the
        # star-vs-min-label cross-checks).
        return (
            adj.join(m, "src")
            .where(F.col("dst") > F.col("src"))
            .select(F.col("dst").alias("src"), F.col("m").alias("dst"))
            .where(F.col("src") != F.col("dst"))
        )

    def _small_star(e: DataFrame) -> DataFrame:
        # e is canonical src > dst (large-star output); m(u) = min smaller
        # neighbor; re-point u and every smaller neighbor except m at m
        m = e.groupBy("src").agg(F.min("dst").alias("m"))
        withm = e.join(m, "src")
        re_pointed = withm.where(F.col("dst") != F.col("m")).select(
            F.col("dst").alias("src"), F.col("m").alias("dst")
        )
        own = m.select("src", F.col("m").alias("dst"))
        return re_pointed.unionByName(own).distinct()

    # localCheckpoint, not persist, for the loop base: every star round
    # references `edges` ~4 times, so with a persisted (data-cached but
    # lineage-bearing) base the FIRST round's analysis/optimization walked
    # 4 copies of the caller's entire upstream plan (scan -> shingles ->
    # band self-join) — measured ~1.9 s of pure driver planning at sf0.1
    # before a single task ran. The flat LogicalRDD base keeps every
    # round's plan bounded (guide §3.3). The first round-stats aggregate
    # is the materializing action (eager=False: no separate count job).
    edges0 = (
        pairs.select(
            F.greatest(F.col(id_a), F.col(id_b)).alias("src"),
            F.least(F.col(id_a), F.col(id_b)).alias("dst"),
        )
        .where(F.col("src") != F.col("dst"))
        .distinct()
        .localCheckpoint(eager=False)
    )
    # NOTE (r6): both star rewrites PRESERVE the vertex set — large star
    # keeps any u with a smaller neighbor w as src of (u, m(w)) and any u
    # whose neighbors are all larger as dst (m(u) = u); small star keeps
    # every src via its `own` row and every dst either as the min or as a
    # re-pointed src. So nodes(final forest) == nodes(edges0), and the old
    # vertices-distinct + left-join read-off (which also kept edges0 alive
    # across the whole loop) is equivalent to the cheap union read-off
    # below. (Had a vertex been able to vanish, the old coalesce-to-self
    # would have mislabeled it as its own component — the oracle-green
    # history is itself evidence of preservation.)
    edges = _fixpoint(
        edges0,
        lambda e: _small_star(_large_star(e)),
        _round_stats,
        max_iter,
        "connected_components_star",
        stats,
    )
    # star forest read-off: non-minimum vertices appear as src exactly
    # once, pointing at the component min; minima appear only as dst and
    # label themselves. A union of the edge list with the distinct-dst
    # self-rows replaces the old full-vertex-set left join (one distinct
    # over the small forest instead of a distinct over 2x the input edges
    # plus a join).
    try:
        return (
            edges.select(F.col("src").alias("doc_id"), F.col("dst").alias("component"))
            .unionByName(
                edges.select(F.col("dst").alias("doc_id"))
                .distinct()
                .select("doc_id", F.col("doc_id").alias("component"))
            )
            .localCheckpoint(eager=True)
        )
    finally:
        _release_frame(edges)
