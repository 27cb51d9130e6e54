"""Link-graph analytics for crawl-derived corpora.

Web-scale training corpora weight and seed their crawls with link-graph
centrality (CCNet / Gopher-style quality signals rank hosts by a
PageRank-family score before content filters run).  The reference engine
has no graph operator — connected components (operators/dedup.py) covers
its dedup clustering — so this module is part of the additive
LLM-data-pipeline suite: a deterministic synthetic link graph over the
document id space plus an all-integer PageRank whose fixed-point
arithmetic replays exactly in DuckDB (the kmeans/CC "unrolled
iterations" oracle precedent, contract.py:_kmeans_sql / CC_SQL).

Scale notes (100 TB / 10^11-edge graph):
- Edge synthesis is one narrow projection + explode(k) over the node
  table, then a semi join against the node list to keep the graph
  well-formed — no self-join, no collect.
- Each PageRank iteration is the canonical two-shuffle plan: ranks
  (|V| rows, 2 columns) join out-degrees on node, the big edge table
  joins that share table on src, and one partially-aggregable
  groupBy(dst) sum. The edge table is the only large operand; it is
  re-read per iteration but never widened. Lineage is truncated with
  localCheckpoint every ``checkpoint_every`` iterations (operators/
  bpe.py precedent) so a 50-iteration run does not accumulate a
  50-join plan.
- All mass arithmetic is BIGINT fixed-point (scale 10^12): rank mass
  is bounded by the scale, so 85 * rank < 8.5e13 never approaches the
  BIGINT range, and the integer division order (share first, damping
  second) is pinned and replayed verbatim by the oracle.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

from .corpus import _md5_bucket
from .dedup import _release_frame

PR_SCALE = 10**12


def synth_link_graph(
    nodes: DataFrame,
    id_col: str = "doc_id",
    n_links: int = 3,
    salt: str = "pr",
    n: int | None = None,
) -> DataFrame:
    """Deterministic synthetic link graph over an id space: node u emits
    ``n_links`` directed edges whose targets are md5-uniform draws from
    the 0..N-1 index space (N = |nodes|, one bounded count collected
    driver-side). Targets that miss the actual id set (non-contiguous
    ids) and self-loops are dropped, multi-edges collapse — both engines
    apply the same rules, so the graph is exact cross-engine.

    Returns (src, dst) BIGINT edges.
    """
    # n may be passed by a caller that already knows |nodes| (the pagerank
    # contract entry counts the same id set twice otherwise — one
    # distinct+count job saved; value-identical by definition)
    if n is None:
        n = nodes.select(id_col).distinct().count()
    elif n <= 0:
        raise ValueError(f"synth_link_graph: n must be positive, got {n}")
    ids = nodes.select(F.col(id_col).cast("bigint").alias("src")).distinct()
    raw = ids.select(
        "src", F.explode(F.sequence(F.lit(1), F.lit(n_links))).alias("j")
    ).select(
        "src",
        _md5_bucket(
            F.concat(F.lit(f"{salt}:"), F.col("src").cast("string"), F.lit(":"), F.col("j").cast("string")),
            15,
            n,
        ).alias("dst"),
    )
    node_set = ids.select(F.col("src").alias("dst"))
    return (
        raw.where(F.col("src") != F.col("dst"))
        .join(node_set, "dst", "left_semi")
        .select("src", "dst")
        .distinct()
    )


def pagerank(
    nodes: DataFrame,
    edges: DataFrame,
    id_col: str = "doc_id",
    iterations: int = 8,
    damping_pct: int = 85,
    scale: int = PR_SCALE,
    checkpoint_every: int = 16,
    n: int | None = None,
) -> DataFrame:
    """All-integer fixed-point PageRank (Page et al. 1999; damping as the
    integer percentage ``damping_pct``).

    Per node v each iteration::

        share(u)  = rank(u) DIV out_deg(u)                 (u with out-edges)
        rank'(v)  = ((100-d) * (scale DIV N)) DIV 100
                  + (d * sum_{u->v} share(u)) DIV 100

    Every operation is BIGINT; integer-division truncation and dangling /
    dropped-target mass leaks are part of the pinned semantics (both
    deterministic), so the DuckDB oracle unrolling the same ``iterations``
    reproduces the ranks bit-exactly — no FP convergence tolerance exists
    anywhere. ``iterations`` is a fixed hyperparameter, not a convergence
    loop: at damping 0.85 eight rounds contract the rank residual by
    0.85^8 ≈ 0.27, the standard "fixed-sweep" operating point for
    quality-weighting (exactness across engines is what the gate checks;
    more sweeps are a parameter, not a code path).

    Returns (node, rank) with rank in scale units; join degrees back in
    the caller if wanted.
    """
    # flat materialized node table (r6): node_t and out_deg are referenced
    # by EVERY iteration's plan, so with lineage-bearing frames the final
    # action's analysis walks `iterations` copies of the upstream scan
    # plan. With n=None the count below doubles as n (same distinct id
    # set) and materializes the checkpoint (guide §3.3); a caller-passed
    # n is TRUSTED — it must equal count(distinct cast(id as bigint)) or
    # the teleport term and seed mass are silently wrong (the contract
    # entry passes the doc_id primary-key count, identical by
    # definition). The first iteration's join then materializes the
    # checkpoint instead.
    node_t = (
        nodes.select(F.col(id_col).cast("bigint").alias("node"))
        .distinct()
        .localCheckpoint(eager=False)
    )
    if n is None:
        n = node_t.count()
    if n <= 0:
        _release_frame(node_t)
        raise ValueError(f"pagerank needs a non-empty node set, got n={n}")
    teleport = ((100 - damping_pct) * (scale // n)) // 100
    # A checkpointed LogicalRDD carries NO size statistics, so without a
    # hint every per-iteration join planned as SortMergeJoin (16 extra
    # sort+exchange pairs for 8 rounds — the semantic_dedup stats lesson,
    # observed as SMJ 0->16 in the r6 plan diff). The rank/degree/share
    # tables are all <= n rows; gate an explicit broadcast on the SAME
    # size logic the planner would apply if it had stats (~64 bytes/row
    # vs the session's autoBroadcastJoinThreshold; a threshold <= 0
    # disables broadcasting, and then no hint is forced either). Above the
    # bound the joins stay sort-merge — at 10^9 nodes broadcasting ranks
    # would be wrong, and n is already collected for the teleport term, so
    # the gate costs nothing extra.
    sql_conf = nodes.sparkSession._jsparkSession.sessionState().conf()
    _bcast = n * 64 < sql_conf.autoBroadcastJoinThreshold()
    _hint = F.broadcast if _bcast else (lambda d: d)
    # All joins below are name-based using-joins on freshly-aliased
    # columns: from iteration 2 the ranks lineage contains the edge
    # table, and dataframe-attribute references (df["col"]) trip Spark's
    # ambiguous-self-join detection.
    out_deg = (
        edges.groupBy("src")
        .agg(F.count("*").alias("out_deg"))
        .withColumnRenamed("src", "node")
        .localCheckpoint(eager=False)
    )
    # `pr`, not `rank`, internally: `rank` is a window-function keyword
    # inside F.expr and must not shadow the column reference.
    ranks = node_t.select("node", F.lit(scale // n).cast("bigint").alias("pr"))
    for it in range(1, iterations + 1):
        shares = ranks.join(_hint(out_deg), "node").select(
            F.col("node").alias("src"), F.expr("pr DIV out_deg").alias("share")
        )
        contrib = (
            edges.join(_hint(shares), "src")
            .groupBy("dst")
            .agg(F.sum("share").alias("c"))
            .withColumnRenamed("dst", "node")
        )
        ranks = node_t.join(_hint(contrib), "node", "left").select(
            "node",
            (
                F.lit(teleport).cast("bigint")
                + F.expr(f"({damping_pct} * coalesce(c, 0)) DIV 100")
            ).alias("pr"),
        )
        if checkpoint_every and it % checkpoint_every == 0 and it < iterations:
            ranks = ranks.localCheckpoint(eager=True)
    return ranks.select("node", F.col("pr").alias("rank"))


def undirected_edges(edges: DataFrame) -> DataFrame:
    """Canonical undirected edge set from directed (src, dst) edges:
    (u, v) with u < v, self-loops dropped, multi-edges collapsed."""
    return (
        edges.select(
            F.least("src", "dst").alias("u"), F.greatest("src", "dst").alias("v")
        )
        .where(F.col("u") != F.col("v"))
        .distinct()
    )


def triangle_counts(und: DataFrame) -> DataFrame:
    """Exact per-node triangle counts + local clustering coefficient via
    degree-ordered orientation (Cohen 2009; Suri & Vassilvitskii 2011 —
    the MapReduce triangle-enumeration standard).

    Each undirected edge {a, b} is oriented from the endpoint that is
    SMALLER under the total order (degree, node) toward the larger; a
    triangle {a < b < c} under that order then appears exactly once, as
    the wedge (a->b, a->c) closed by the oriented edge (b->c). The
    orientation is the whole scale story: every node's oriented
    out-degree is O(sqrt(m)) regardless of its true degree, so the wedge
    self-join fan-out is bounded even for celebrity nodes — the naive
    neighbor self-join is O(d_max^2) per hot node and dies exactly where
    web link graphs are skewed. Three hash joins total (orient, wedge,
    close), all partial shuffles on bigint keys; no global window, no
    collect. All-integer output, so the DuckDB oracle replays it exactly.

    Input: (u, v) canonical undirected edges (see undirected_edges).
    Output: (node, degree, n_triangles, lcc_e6) for every node with
    degree >= 1, where lcc_e6 = (2 * T * 10^6) DIV (deg * (deg - 1))
    (0 when deg < 2) — the local clustering coefficient in fixed-point.
    """
    deg = (
        und.select(F.col("u").alias("node"))
        .unionAll(und.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count("*").alias("deg"))
    )
    e = und.join(
        deg.select(F.col("node").alias("u"), F.col("deg").alias("du")), "u"
    ).join(deg.select(F.col("node").alias("v"), F.col("deg").alias("dv")), "v")
    # explicit lexicographic (deg, node) compare — identical spelling on
    # both engines, no struct-comparison semantics to trust
    u_first = (F.col("du") < F.col("dv")) | (
        (F.col("du") == F.col("dv")) & (F.col("u") < F.col("v"))
    )
    oriented = e.select(
        F.when(u_first, F.col("u")).otherwise(F.col("v")).alias("a"),
        F.when(u_first, F.col("v")).otherwise(F.col("u")).alias("b"),
        F.when(u_first, F.col("dv")).otherwise(F.col("du")).alias("db"),
    ).localCheckpoint(eager=False)  # feeds three join sides below; the
    # caller's single action fills the checkpoint in one job (r6 - the
    # eager=True form spent a separate scheduled job here)
    o1 = oriented.alias("o1")
    o2 = oriented.alias("o2")
    wedges = (
        o1.join(o2, F.col("o1.a") == F.col("o2.a"))
        .where(
            (F.col("o1.db") < F.col("o2.db"))
            | ((F.col("o1.db") == F.col("o2.db")) & (F.col("o1.b") < F.col("o2.b")))
        )
        .select(
            F.col("o1.a").alias("t1"),
            F.col("o1.b").alias("t2"),
            F.col("o2.b").alias("t3"),
        )
    )
    closer = oriented.select(F.col("a").alias("t2"), F.col("b").alias("t3"))
    tris = wedges.join(closer, ["t2", "t3"])
    per_node = (
        tris.select(F.col("t1").alias("node"))
        .unionAll(tris.select(F.col("t2").alias("node")))
        .unionAll(tris.select(F.col("t3").alias("node")))
        .groupBy("node")
        .agg(F.count("*").alias("n_tri"))
    )
    return deg.join(per_node, "node", "left").select(
        "node",
        F.col("deg").cast("bigint").alias("degree"),
        F.coalesce(F.col("n_tri"), F.lit(0)).cast("bigint").alias("n_triangles"),
        F.when(
            F.col("deg") >= 2,
            F.expr("(2 * coalesce(n_tri, 0) * 1000000) DIV (deg * (deg - 1))"),
        )
        .otherwise(F.lit(0))
        .cast("bigint")
        .alias("lcc_e6"),
    )
