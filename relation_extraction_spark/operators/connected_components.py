"""J7 — connected components by iterative joins (SURVEY.md §2.3 J7).

GraphFrames is not installed (SURVEY.md §7.3) and BASELINE.json:L6
explicitly allows "GraphFrames/iterative-join connected components", so
this is the iterative-join form: alternating large-star / small-star
steps (Kiveris et al., "Connected Components in MapReduce and Beyond") —
converges in O(log n) rounds on star-shaped skew, vs O(diameter) for
naive label propagation.

Each round shuffles on node id; lineage is cut with localCheckpoint per
iteration so the plan doesn't grow (SURVEY.md §7.4.2). After a round
every edge points from a node to a smaller one, and the loop stops on an
exact test: once the edges are stars, each star is a component centred
on its minimum. A graph still unconverged after ``MAX_ROUNDS`` rounds
raises instead of returning a partial labelling. Determinism: the
component id is the component's minimum node id — content-derived,
independent of partitioning.
"""

from __future__ import annotations

import pyarrow as pa
from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import to_arrow_type


def _canonical_edges(edges: DataFrame) -> DataFrame:
    """Undirected edge list as (src>dst) pairs, no self-loops, distinct."""
    return (
        edges.select(
            F.greatest("src", "dst").alias("src"),
            F.least("src", "dst").alias("dst"),
        )
        .filter(F.col("src") != F.col("dst"))
        .distinct()
    )


def _large_star(edges: DataFrame) -> DataFrame:
    """Connect every neighbor larger than the minimum neighbor to it."""
    nbrs = edges.unionByName(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    m = nbrs.groupBy("src").agg(F.min("dst").alias("mn"))
    return (
        nbrs.join(m, "src")
        .filter(F.col("dst") > F.col("src"))
        .select(
            F.col("dst").alias("src"),
            F.least("mn", F.col("src")).alias("dst"),
        )
        .distinct()
    )


def _small_star(edges: DataFrame) -> DataFrame:
    """Point all smaller neighbors of each node at its minimum neighbor."""
    e = edges.select(
        F.greatest("src", "dst").alias("src"), F.least("src", "dst").alias("dst")
    )
    m = e.groupBy("src").agg(F.min("dst").alias("mn"))
    return (
        e.join(m, "src")
        .select(
            F.when(F.col("dst") == F.col("mn"), F.col("src"))
            .otherwise(F.col("dst"))
            .alias("src"),
            F.col("mn").alias("dst"),
        )
        .filter(F.col("src") != F.col("dst"))
        .distinct()
        .unionByName(m.select(F.col("src"), F.col("mn").alias("dst")))
        .distinct()
    )


def _driver_union_find(edges: DataFrame) -> DataFrame:
    """Small-graph fast path: collect edges, union-find on the driver.

    Same output contract (component = min node id). This is the CC
    analogue of a broadcast join: below the threshold the distributed
    loop is pure scheduling latency (each iteration is ~8 tiny stage
    barriers), while a few million edges union-find in well under a
    second driver-side."""
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        r = x
        while parent.get(r, r) != r:
            r = parent[r]
        while parent.get(x, x) != x:  # path compression
            parent[x], x = r, parent[x]
        return r

    nodes: set[int] = set()
    for row in edges.collect():
        u, v = row[0], row[1]
        nodes.add(u)
        nodes.add(v)
        a, b = find(u), find(v)
        if a != b:
            if a < b:  # root at the smaller id
                parent[b] = a
            else:
                parent[a] = b
    order = sorted(nodes)
    # typed from the edge schema so string and int node ids work as
    # well as longs; a pyarrow table plans as a JVM-local LocalTableScan
    # (small and size-estimated, so the caller's join broadcasts it)
    node_type = to_arrow_type(edges.schema[0].dataType)
    table = pa.table(
        {
            "node": pa.array(order, node_type),
            "component": pa.array([find(n) for n in order], node_type),
        }
    )
    return edges.sparkSession.createDataFrame(table)


# safety bound on the large-star/small-star rounds; convergence takes
# O(log n) rounds, so reaching it is an error, not a result
MAX_ROUNDS = 20


def _is_stars(e: DataFrame) -> bool:
    """True when no src occurs in a second edge, as src or as dst. As
    every edge points at a smaller node, the edges are then stars centred
    on their components' minimums. "No dst is a src" alone is not enough:
    edges 2->1 and 2->0 pass it, yet join two stars."""
    ends = e.select(F.col("src").alias("node"), F.lit(1).alias("out")).unionByName(
        e.select(F.col("dst").alias("node"), F.lit(0).alias("out"))
    )
    agg = ends.groupBy("node").agg(F.max("out").alias("out"), F.count(F.lit(1)).alias("n"))
    return agg.filter((F.col("out") == 1) & (F.col("n") > 1)).isEmpty()


def connected_components(
    edges: DataFrame, driver_threshold: int = 2_000_000
) -> DataFrame:
    """edges(src, dst) -> (node, component) with component = min node id.

    Below ``driver_threshold`` edges the graph is solved driver-side
    (union-find); above it the alternating-star iterative joins run
    distributed until the edges are stars (an exact test), raising
    ``RuntimeError`` after ``MAX_ROUNDS`` rounds. Both paths return
    identical results (the property tests run both). Isolated nodes
    (absent from edges) are the caller's concern — union them afterwards
    with component = their own id.
    """
    # the edge count is observed on the checkpoint's own job
    counted = Observation()
    e = _canonical_edges(edges).observe(counted, F.count(F.lit(1)).alias("n")).localCheckpoint()
    if counted.get["n"] <= driver_threshold:
        return _driver_union_find(e)
    for _ in range(MAX_ROUNDS):
        e = _small_star(_large_star(e)).localCheckpoint()
        if _is_stars(e):
            break
    else:
        raise RuntimeError(
            f"connected components did not converge in {MAX_ROUNDS} rounds"
        )
    # e maps every non-centre node to its component minimum; its dsts
    # are the centres
    nodes = e.select(F.col("src").alias("node"), F.col("dst").alias("component"))
    roots = e.select(F.col("dst").alias("node")).distinct()
    return nodes.unionByName(roots.select("node", F.col("node").alias("component")))
