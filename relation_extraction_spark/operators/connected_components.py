"""J7 — connected components by iterative joins (SURVEY.md §2.3 J7).

GraphFrames is not installed (SURVEY.md §7.3) and BASELINE.json:L6
explicitly allows "GraphFrames/iterative-join connected components", so
this is the iterative-join form: alternating large-star / small-star
steps (Kiveris et al., "Connected Components in MapReduce and Beyond") —
converges in O(log n) rounds on star-shaped skew, vs O(diameter) for
naive label propagation.

Each round shuffles on node id; lineage is cut with localCheckpoint per
iteration so the plan doesn't grow (SURVEY.md §7.4.2). Determinism: the
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
# O(log n) rounds, so a graph that reaches it stops unconverged
MAX_ROUNDS = 20


def connected_components(
    edges: DataFrame, driver_threshold: int = 2_000_000
) -> DataFrame:
    """edges(src, dst) -> (node, component) with component = min node id.

    Below ``driver_threshold`` edges the graph is solved driver-side
    (union-find); above it the alternating-star iterative joins run
    distributed. Both paths return identical results (the property tests
    run both). Isolated nodes (absent from edges) are the caller's
    concern — union them afterwards with component = their own id.
    """
    def _sig(df: DataFrame) -> tuple[int, int]:
        """(row count, order-insensitive content hash) in ONE map-side-
        combined aggregate — the convergence check costs one pass, not
        the two exceptAll shuffles of the naive set-equality form."""
        # bit_xor: order-insensitive, overflow-free (edges are distinct
        # post-_small_star, so xor cancellation of duplicates is moot)
        row = df.agg(
            F.count(F.lit(1)).alias("n"),
            F.bit_xor(F.xxhash64("src", "dst")).alias("h"),
        ).collect()[0]
        return (row["n"], row["h"])

    # the edge count is observed on the checkpoint's own job
    counted = Observation()
    e = _canonical_edges(edges).observe(counted, F.count(F.lit(1)).alias("n")).localCheckpoint()
    if counted.get["n"] <= driver_threshold:
        return _driver_union_find(e)
    sig = _sig(e)
    prev = e
    for _ in range(MAX_ROUNDS):
        e2 = _small_star(_large_star(e)).localCheckpoint()
        # converged when the edge multiset is stable (both frames are
        # (node -> smaller node) maps after a small-star step). The
        # (count, bit_xor) signature is probabilistic — a 64-bit
        # collision could stop iteration early — so the break is
        # CONFIRMED with one exact exceptAll on the final iteration
        # only (round-1 advisor finding): O(1) extra shuffles total,
        # not O(rounds).
        sig2 = _sig(e2)
        prev, e = e, e2
        if sig2 == sig:
            if prev.exceptAll(e).limit(1).count() == 0:
                break
        sig = sig2
    # e now maps every non-root node to its component minimum
    nodes = e.select(F.col("src").alias("node"), F.col("dst").alias("component"))
    roots = (
        e.select(F.col("dst").alias("node"))
        .distinct()
        .join(e.select(F.col("src").alias("node")).distinct(), "node", "left_anti")
        .select("node", F.col("node").alias("component"))
    )
    return nodes.unionByName(roots)
