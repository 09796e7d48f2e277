"""Connected components: label propagation over DataFrame self-joins.

Canonicalization step of the north star ("canonicalized with
connected-components label propagation over the mention-graph").  Plain
DataFrame loop — no GraphFrames dependency (SURVEY.md §7.2) — with
``localCheckpoint`` every iteration to truncate lineage (SURVEY.md §4.3),
which is what keeps the plan bounded at web scale.

Algorithm: alternating min-label propagation.  Each iteration joins the
label table to the (symmetrized) edge list and takes the min label over the
closed neighborhood; converges in O(diameter) iterations.  Mention graphs
are unions of small stars (alias groups), so diameter is tiny; ``max_iter``
bounds the worst case (SURVEY.md §7.3 "CC convergence").
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# Below this edge count ``canonicalize`` collapses the whole graph onto the
# driver: a pure Python union-find beats ~2·max_iter distributed join jobs
# whose data would fit in one task anyway.  This is the standard endgame of
# distributed CC — once the graph is small, finish it locally.
SMALL_GRAPH_EDGES = 100_000


def _driver_union_find(pairs: list[tuple[str, str]]) -> list[tuple[str, str]]:
    """Union-find with min-label roots; returns (node, component) rows."""
    parent: dict[str, str] = {}

    def find(x: str) -> str:
        root = x
        while parent.setdefault(root, root) != root:
            root = parent[root]
        while parent[x] != root:  # path compression
            parent[x], x = root, parent[x]
        return root

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            # min label wins → deterministic component ids
            lo, hi = (ra, rb) if ra < rb else (rb, ra)
            parent[hi] = lo
    return sorted((n, find(n)) for n in parent)


def connected_components(edges: DataFrame, max_iter: int = 10) -> DataFrame:
    """(src, dst) string edges → (node, component) with component = min node id.

    Deterministic: component ids are the lexicographic min member, so reruns
    and resumed jobs produce identical canonical ids (MERGE-key stability,
    SURVEY.md §7.3).  Always distributed: callers that may hold a small
    graph decide on the driver endgame themselves (``canonicalize`` runs
    ``_driver_union_find`` below ``SMALL_GRAPH_EDGES``).
    """
    sym = (
        edges.select(F.col("src"), F.col("dst"))
        .unionByName(edges.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
        .dropDuplicates()
    )
    labels = (
        sym.select(F.col("src").alias("node"))
        .dropDuplicates()
        .withColumn("component", F.col("node"))
    )
    converged = False
    for _ in range(max_iter):
        # min label over closed neighborhood
        neighbor = (
            sym.join(labels, sym["dst"] == labels["node"])
            .select(F.col("src").alias("node"), F.col("component"))
        )
        new_labels = (
            labels.unionByName(neighbor)
            .groupBy("node")
            .agg(F.min("component").alias("component"))
        )
        new_labels = new_labels.localCheckpoint(eager=True)
        converged = (
            new_labels.alias("n")
            .join(labels.alias("o"), "node")
            .filter(F.col("n.component") != F.col("o.component"))
            .isEmpty()
        )
        labels = new_labels
        if converged:
            break
    if not converged:
        # silently returning partial labels would split real components
        # (wrong keepers, unstable MERGE keys) with no signal; propagation
        # needs O(diameter) rounds, so a long chain on a big graph can
        # legitimately exceed the default
        raise RuntimeError(
            f"connected_components did not converge in max_iter={max_iter} "
            "rounds (graph diameter exceeds it); raise max_iter"
        )
    return labels
