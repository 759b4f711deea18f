"""Tests for connected_components (G1, SURVEY §2.6) and its driver-side
union_find.

The authority cluster lists this operator usually sees (~130k pairs,
CommonMigration.java:152-157 semantics) ride the driver-side union-find;
the distributed min-propagation loop is the path for data-derived edge
sets (dedup-candidate graphs), so it must converge with full parallelism
— these tests force it with a >250k-edge synthetic graph at 64 input
partitions and assert label equality against the closed-form components.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from xmltoldmigration_spark.operators.connected_components import (
    connected_components,
    union_find,
)


def _synthetic_edges(spark, n_components=30_000, star_size=10):
    """Star components: node n belongs to component (n // star_size) *
    star_size, hub = the component minimum.  n_components * (star_size-1)
    edges = 270k > the 250k driver threshold.  A 64-partition repartition
    scrambles any incidental ordering."""
    hubs = spark.range(n_components).select(
        (F.col("id") * star_size).alias("hub"),
        F.explode(F.sequence(F.lit(1), F.lit(star_size - 1))).alias("off"),
    )
    return hubs.select(
        F.col("hub").alias("src"), (F.col("hub") + F.col("off")).alias("dst")
    ).repartition(64)


def test_distributed_cc_converges_at_64_partitions(spark):
    edges = _synthetic_edges(spark)
    assert edges.count() == 270_000  # forces the distributed path
    assert edges.rdd.getNumPartitions() == 64
    got = connected_components(edges).withColumn(
        "want", (F.col("node") - F.pmod(F.col("node"), F.lit(10)))
    )
    n_nodes = got.count()
    assert n_nodes == 300_000
    assert got.filter(F.col("comp") != F.col("want")).count() == 0


def test_distributed_cc_sizing_scales_with_edges(spark):
    """The coalesce target must grow with the edge count: a graph big
    enough for the distributed path but far under 2M edges coalesces to
    the 16-partition floor, while the math for a billion-edge graph
    (ceil(n/2M)) keeps hundreds of partitions — guard the formula so the
    fixed cap can't silently come back."""
    import math

    assert max(16, math.ceil(270_000 / 2_000_000)) == 16
    assert max(16, math.ceil(2_000_000_000 / 2_000_000)) == 1000


def test_distributed_cc_chain_needs_iterations(spark):
    """A 300-node path graph (diameter 299) exercises the iterative
    propagation (O(log d) rounds with doubling via relabeled neighbors —
    min-label propagation needs multiple rounds here, unlike stars).
    Padded with star edges to stay on the distributed path."""
    chain_base = 10_000_000
    chain = spark.range(299).select(
        (F.col("id") + chain_base).alias("src"),
        (F.col("id") + chain_base + 1).alias("dst"),
    )
    edges = _synthetic_edges(spark).unionByName(chain)
    labels = connected_components(edges)
    chain_labels = labels.filter(F.col("node") >= chain_base)
    assert chain_labels.count() == 300
    assert (
        chain_labels.filter(F.col("comp") != F.lit(chain_base)).count() == 0
    )


def test_union_find_maps_to_min_id():
    """The driver-side helper shared by connected_components and the
    pipeline's authority canonicalization: every node maps to the minimum
    id reachable from it, whatever order the edges arrive in."""
    chain = [(4, 5), (3, 4), (2, 3), (1, 2)]  # reverse order
    assert union_find(chain) == {n: 1 for n in range(1, 6)}
    stars = [(10, 11), (10, 12), (20, 21), (20, 22), (22, 12)]
    assert union_find(stars) == {n: 10 for n in (10, 11, 12, 20, 21, 22)}
    assert union_find([(7, 7), (9, 8)]) == {7: 7, 8: 8, 9: 8}


def test_authority_rep_pairs_only_rewritten_nodes():
    """_rep_pairs feeds _canonicalize's rewrite join: it must hold only
    node != representative pairs, representative = min id."""
    from xmltoldmigration_spark.plans.pipeline import _rep_pairs

    clusters = {"WA3": "WA1", "WA2": "WA3", "WA9": "WA8", "WA5": "WA5"}
    assert _rep_pairs(clusters) == (("WA2", "WA1"), ("WA3", "WA1"), ("WA9", "WA8"))
    assert _rep_pairs({}) == ()
