"""Graph analytics over the materialized entity graph.

The north star's endgame is a knowledge graph: after extraction, linking,
and connected-components canonicalization (operators/components.py), the
triple/entity tables ARE a graph, and the operations a production KG needs
next are importance ranking, cohesion mining, and dense-core extraction.
These are the classic Pregel workloads re-expressed as DataFrame joins —
no GraphFrames dependency (SURVEY.md §7.2) — with each iteration one
shuffle on the node id, exactly the shape that scales to 10^12 edges.

Determinism contract
--------------------
``pagerank`` runs in FIXED-POINT INTEGER arithmetic (bigint units of
1e-12): every per-iteration quantity is a bigint produced by integer
division and integer sums, so the result is bit-identical regardless of
partitioning, addition order, or engine — a double-based PageRank can
drift by ulps between Spark's and DuckDB's reduction orders, an integer
one cannot.  This makes the operator exactly oracle-checkable AND makes
reruns/resumed jobs reproducible at cluster scale (the same property the
MERGE keys rely on, SURVEY.md §7.3).

Iteration counts are small fixed constants (callers pass them): ranking
converges geometrically and production PageRank runs O(10) rounds; an
unrolled driver loop composing one logical plan per round is the standard
DataFrame-Pregel shape.  Each round is ONE shuffle (groupBy dst) plus one
broadcast-or-shuffle join against out-degrees; lineage is truncated by the
caller when rounds get deep (components.py does the same).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..local_df import local_df

# 1e12 fixed-point units per 1.0 of PageRank mass.  Large enough that the
# floor-division error after a handful of rounds is < 1e-9 of mass, small
# enough that N * SCALE never overflows bigint below ~9e6 nodes per unit
# of mass (total mass is ~N * SCALE / N = SCALE per node on average; the
# global sum is ≤ N * SCALE, safe for N < 9e6 * 1e6 nodes).
PR_SCALE = 10**12


def pagerank(
    edges: DataFrame,
    iters: int = 3,
    damping_pct: int = 85,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Fixed-point integer PageRank over directed ``(src, dst)`` bigint edges.

    Returns ``(node, pr)`` with ``pr`` in 1e-12 units (bigint).  Semantics:
    the textbook update  pr'(v) = (1-d)/N + d * Σ_{u→v} pr(u)/outdeg(u)
    with NO dangling-mass redistribution (mass on sink nodes leaks, as in
    the original Page et al. formulation without the dangling patch) —
    documented so the oracle is the same recurrence.  All arithmetic is
    bigint: pr0 = SCALE div N;  contrib(u) = pr(u) div outdeg(u);
    pr'(v) = (15*SCALE) div (100*N) + (d_pct * Σ contrib) div 100.

    Scale shape: per round, one groupBy(dst) shuffle for the contribution
    sum plus one join of the rank relation against the out-degree relation
    (both keyed by node — AQE broadcasts the degree side when it is small).
    Hub skew lands on the groupBy, which partial-aggregates map-side; no
    per-node arrays are ever built.
    """
    e = edges.select(F.col(src).alias("src"), F.col(dst).alias("dst")).dropDuplicates()
    nodes = (
        e.select(F.col("src").alias("node"))
        .unionByName(e.select(F.col("dst").alias("node")))
        .dropDuplicates()
    )
    # N collapses to one driver int: the constants below must be literals
    # for the integer math to stay a pure column expression.
    n_nodes = nodes.count()
    if n_nodes == 0:
        spark = edges.sparkSession
        return local_df(spark, [], "node long, pr long")
    base = (15 * PR_SCALE) // (100 * n_nodes)
    pr0 = PR_SCALE // n_nodes

    outdeg = e.groupBy(F.col("src").alias("node")).agg(F.count("*").alias("outdeg"))
    ranks = nodes.withColumn("pr", F.lit(pr0).cast("long"))
    for _ in range(iters):
        contrib = (
            ranks.join(outdeg, "node")
            .select(F.col("node"), F.expr("pr div outdeg").alias("c"))
            .join(e, F.col("node") == F.col("src"))
            .groupBy(F.col("dst").alias("node"))
            .agg(F.sum("c").alias("s"))
        )
        ranks = (
            nodes.join(contrib, "node", "left")
            .select(
                "node",
                (
                    F.lit(base)
                    + F.expr(f"{damping_pct} * coalesce(s, 0L) div 100")
                ).cast("long").alias("pr"),
            )
        )
    return ranks


def cooccurrence_edges(
    items: DataFrame, group_col: str, item_col: str, max_group: int = 1000
) -> DataFrame:
    """Undirected distinct ``(src < dst)`` edges between items sharing a group.

    The projection step for co-purchase / co-mention graphs.  Pair fan-out
    is quadratic in group size, so groups larger than ``max_group`` are
    dropped (counted first, one extra agg on the same key) — the same
    hot-bucket guard the LSH joins use: a group of 10^6 members would emit
    5·10^11 pairs and means "stop-word group", not signal.
    """
    g = items.select(
        F.col(group_col).alias("g"), F.col(item_col).alias("i")
    ).dropDuplicates()
    sizes = g.groupBy("g").agg(F.count("*").alias("_n"))
    g = g.join(sizes.filter(F.col("_n") <= max_group).select("g"), "g")
    a, b = g.alias("a"), g.alias("b")
    return (
        a.join(b, (F.col("a.g") == F.col("b.g")) & (F.col("a.i") < F.col("b.i")))
        .select(F.col("a.i").alias("src"), F.col("b.i").alias("dst"))
        .dropDuplicates()
    )


def triangle_count(edges: DataFrame) -> DataFrame:
    """Per-node triangle counts over undirected ``src < dst`` edges.

    Standard ordered three-way self-join: a triangle (a<b<c) is found
    exactly once as e(a,b) ⋈ e(b,c) ⋈ e(a,c), so no post-division by 6.
    Returns ``(node, triangles)`` for every node appearing in ≥1 triangle.
    At scale the canonical a<b orientation keeps hub fan-out bounded by
    the ordered degree (the classic compact-forward property: Σ d+^2 ≪
    Σ d^2 on power-law graphs).
    """
    e1 = edges.select(F.col("src").alias("a"), F.col("dst").alias("b"))
    e2 = edges.select(F.col("src").alias("b"), F.col("dst").alias("c"))
    e3 = edges.select(F.col("src").alias("a"), F.col("dst").alias("c"))
    tri = e1.join(e2, "b").join(e3, ["a", "c"])
    per = (
        tri.select(F.explode(F.array("a", "b", "c")).alias("node"))
        .groupBy("node")
        .agg(F.count("*").alias("triangles"))
    )
    return per


def kcore(edges: DataFrame, k: int = 2, iters: int = 3) -> DataFrame:
    """Bounded k-core peel over undirected ``src < dst`` edges.

    Each round drops nodes with (undirected) degree < k and the edges
    touching them; ``iters`` rounds of peeling (a FIXED count, so the
    result is a deterministic over-approximation of the true k-core —
    callers wanting the fixpoint loop until the node count stops moving,
    exactly as connected_components does).  Returns surviving ``(node,
    degree)``.  Per round: one symmetrize-groupBy shuffle for degrees and
    one semi-join to filter edges — the textbook distributed peel.
    """
    e = edges.select("src", "dst")
    for _ in range(iters):
        deg = (
            e.select(F.col("src").alias("node"))
            .unionByName(e.select(F.col("dst").alias("node")))
            .groupBy("node")
            .agg(F.count("*").alias("degree"))
        )
        keep = deg.filter(F.col("degree") >= k).select("node")
        e = (
            e.join(keep.withColumnRenamed("node", "src"), "src", "left_semi")
            .join(keep.withColumnRenamed("node", "dst"), "dst", "left_semi")
            .select("src", "dst")
        )
    return (
        e.select(F.col("src").alias("node"))
        .unionByName(e.select(F.col("dst").alias("node")))
        .groupBy("node")
        .agg(F.count("*").alias("degree"))
    )
