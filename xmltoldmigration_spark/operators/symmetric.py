"""Symmetric / inverse edge completion (A1, SURVEY §2.5).

The reference keeps a global mutable map of queued inverse triples
(helpers/SymetricNormalization.java:209-269): for each relation triple it
either queues the inverse into the destination graph (symmetric mode) or
drops the non-canonical direction (one-direction mode). Here both modes are
set-oriented:

- symmetric completion: union the inverted edges, dropDuplicates.
- one-direction: keep only the canonical predicate direction; an edge seen
  only in the non-canonical direction is flipped, then dedup'd.

Gender-aware kinship inverses (getKinSymInfo, reference
SymetricNormalization.java:91-196) need the *target* node's gender — they
are resolved record-locally during person migration
(kg/common.py `_kin_sym_info`), not by this generic operator.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

EDGE_COLS = ["src", "pred", "dst"]


def complete_symmetric(edges: DataFrame, inverse_map: dict[str, str]) -> DataFrame:
    """Union edges[src, pred, dst] with their inverses per `inverse_map`
    (pred -> inverse pred), dropping duplicates. Edges whose predicate has
    no inverse pass through unchanged."""
    spark = edges.sparkSession
    inv = spark.createDataFrame(
        [(k, v) for k, v in inverse_map.items()], ["_p", "_inv_p"]
    )
    inverted = (
        edges.join(F.broadcast(inv), edges["pred"] == F.col("_p"), "inner")
        .select(
            F.col("dst").alias("src"),
            F.col("_inv_p").alias("pred"),
            F.col("src").alias("dst"),
        )
    )
    return edges.select(*EDGE_COLS).union(inverted).dropDuplicates(EDGE_COLS)


def normalize_one_direction(edges: DataFrame, canonical_of: dict[str, str]) -> DataFrame:
    """Keep one canonical direction per symmetric predicate pair of
    edges[src, pred, dst].

    `canonical_of` maps non-canonical predicate -> canonical predicate
    (e.g. teacherOf -> studentOf when the student direction is kept). Edges
    already in the canonical direction pass through; non-canonical edges are
    flipped into it; the union is dedup'd so a pair asserted both ways
    yields one edge.
    """
    spark = edges.sparkSession
    flip = spark.createDataFrame(
        [(k, v) for k, v in canonical_of.items()], ["_p", "_canon_p"]
    )
    non_canon = edges.join(F.broadcast(flip), edges["pred"] == F.col("_p"), "inner").select(
        F.col("dst").alias("src"), F.col("_canon_p").alias("pred"), F.col("src").alias("dst")
    )
    canon = edges.join(
        F.broadcast(flip), edges["pred"] == F.col("_p"), "left_anti"
    ).select(*EDGE_COLS)
    return canon.union(non_canon).dropDuplicates(EDGE_COLS)
