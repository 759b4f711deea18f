"""Connected components via iterative min-label propagation (G1, SURVEY §2.6).

The reference ships duplicate-work clusters as precomputed pair lists
(clusters.csv et al., loaded in CommonMigration.initClusters,
reference CommonMigration.java:152-157); in this engine clustering is a real
distributed stage: cluster pairs form an undirected edge list, each node's
component representative is the minimum node id reachable from it.

Algorithm: min-label propagation with pointer doubling —
    label(v) <- min(label(v), min over neighbors u of label(u))
    label(v) <- label(label(v))
iterated to fixpoint. Each iteration is one edge-shuffle join + one
aggregation + one label self-join; the doubling step is what makes
convergence O(log d) for diameter d (one-hop propagation alone is O(d) —
a long path graph would exhaust the iteration budget). Cluster pair lists
are shallow (star-shaped around the canonical id), so 2-3 iterations in
practice. `localCheckpoint` truncates the lineage each iteration so the
plan doesn't grow exponentially — mandatory for iterative DataFrame jobs.

No GraphFrames dependency: plain joins keep this runnable anywhere and let
AQE handle skewed hub nodes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


# Edge lists up to this size are broadcast-scale (comfortably above the
# ~130k-row authority cluster lists, small enough that the collect can't
# strain the driver): one driver-side union_find, zero shuffles.
DRIVER_THRESHOLD = 250_000
MAX_ITERATIONS = 50


def union_find(pairs) -> dict:
    """{node: min node id reachable from node} over the undirected edge
    sequence `pairs` (path compression, union by min id)."""
    parent: dict = {}

    def find(x):
        r = x
        while parent.get(r, r) != r:
            r = parent[r]
        while parent.get(x, x) != x:
            parent[x], x = r, parent[x]
        return r

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            lo, hi = (ra, rb) if ra < rb else (rb, ra)
            parent[hi] = lo
    return {n: find(n) for pair in pairs for n in pair}


def connected_components(edges: DataFrame) -> DataFrame:
    """Return DataFrame[node, component] where component = min node id
    reachable from `node` over the undirected edge set.

    Size-adaptive: an edge list of at most DRIVER_THRESHOLD rows is
    broadcast-scale authority data — `union_find` computes components on
    the driver in one pass, exactly like any other broadcast side-table.
    Above the threshold the distributed min-propagation loop below takes
    over (each iteration one shuffle join + aggregation, lineage truncated
    by localCheckpoint).

    `edges` must have columns `src` and `dst` of the same orderable type.
    Isolated nodes appear only if present as a self-edge or in both columns.
    """
    if edges.limit(DRIVER_THRESHOLD + 1).count() <= DRIVER_THRESHOLD:
        comp = union_find(edges.select("src", "dst").collect())
        import pandas as pd

        # pandas -> Arrow path avoids per-row Py4J conversion
        return edges.sparkSession.createDataFrame(
            pd.DataFrame(sorted(comp.items()), columns=["node", "comp"])
        )
    # Size the iteration width from the data, not a constant: a small
    # edge list coalesces so each propagation round isn't scheduling-
    # bound, but the width grows ~linearly with edge count so a
    # data-derived graph (dedup-candidate pairs at 100 TB: billions of
    # edges) keeps full scan parallelism — a fixed coalesce(16) here
    # would bottleneck every iteration regardless of cluster size.  The
    # count is one cheap job (metadata-only for a plain parquet scan)
    # amortized over O(log d) shuffle iterations; the per-iteration
    # join/agg widths themselves follow spark.sql.shuffle.partitions +
    # AQE, so this governs only the edge-scan side.
    import math

    n_edges = edges.count()
    target = max(16, math.ceil(n_edges / 2_000_000))
    if edges.rdd.getNumPartitions() > target:
        edges = edges.coalesce(target)
    # undirected: symmetrize once, dedup
    sym = (
        edges.select(F.col("src").alias("a"), F.col("dst").alias("b"))
        .union(edges.select(F.col("dst").alias("a"), F.col("src").alias("b")))
        .union(edges.select(F.col("src").alias("a"), F.col("src").alias("b")))
        .union(edges.select(F.col("dst").alias("a"), F.col("dst").alias("b")))
        .distinct()
    )
    # initial label = min direct neighbor (includes self via self-edges)
    labels = sym.groupBy("a").agg(F.min("b").alias("comp")).select(
        F.col("a").alias("node"), "comp"
    )
    labels = labels.localCheckpoint(eager=True)

    for _ in range(MAX_ITERATIONS):
        # propagate: candidate label for node v = min over neighbors u of label(u)
        neighbor_labels = (
            sym.join(labels, sym.b == labels.node, "inner")
            .select(F.col("a").alias("node"), F.col("comp"))
        )
        new_labels = (
            labels.select("node", "comp")
            .union(neighbor_labels)
            .groupBy("node")
            .agg(F.min("comp").alias("comp"))
        )
        # pointer doubling: comp(v) <- comp(comp(v)).  One-hop propagation
        # alone needs O(diameter) rounds — a path graph of length 300
        # would exhaust MAX_ITERATIONS and return wrong labels.  Labels
        # are monotone non-increasing and always name a live node (self-
        # edges put every node in `labels`), so chasing one extra hop per
        # round gives the usual O(log d) convergence.
        relab = new_labels.select(
            F.col("node").alias("pn"), F.col("comp").alias("pcomp")
        )
        new_labels = (
            new_labels.join(relab, new_labels.comp == relab.pn, "left")
            .select(
                "node",
                F.least(F.col("comp"), F.coalesce("pcomp", "comp")).alias("comp"),
            )
        )
        new_labels = new_labels.localCheckpoint(eager=True)
        # fixpoint test: any node whose label shrank this round?
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), "node")
            .filter(F.col("n.comp") != F.col("o.comp"))
            .limit(1)
            .count()
        )
        labels = new_labels
        if changed == 0:
            return labels
    raise RuntimeError(
        f"connected_components did not converge in {MAX_ITERATIONS} iterations"
        " — raise MAX_ITERATIONS (labels would be silently wrong otherwise)"
    )
