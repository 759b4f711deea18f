"""Alternate output branches over the graph table (K5).

The reference's titles CSV export (WorkMigration.exportTitleInfo:831-902,
flag MigrationApp.java:89,743-747) walks every work model collecting
(abstract RID, instance RID, title+lang, creators).  Here it is a plain
declarative projection over the triple table — joins stay broadcast-free
because everything pivots on the `graph` column the table is already
organized by.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from xmltoldmigration_spark.kg.model import BDO, RDFS

RDFS_LABEL = RDFS + "label"


def export_title_info(triples: DataFrame) -> DataFrame:
    """-> (wa_rid, mw_rid, titles, creators) one row per instance graph."""
    inst_of = triples.filter(
        (F.col("predicate") == BDO + "instanceOf") & (F.col("o_kind") == "iri")
    ).select(
        F.col("graph").alias("mw_rid"),
        F.regexp_extract("o_value", r"([^/]+)$", 1).alias("wa_rid"),
    )
    title_nodes = triples.filter(F.col("predicate") == BDO + "hasTitle").select(
        F.col("graph").alias("mw_rid"), F.col("o_value").alias("title_node")
    )
    labels = triples.filter(F.col("predicate") == RDFS_LABEL).select(
        F.col("subject").alias("title_node"),
        F.concat_ws("@", "o_value", "o_lang").alias("title"),
    )
    titles = (
        title_nodes.join(labels, "title_node")
        .groupBy("mw_rid")
        .agg(F.sort_array(F.collect_set("title")).alias("titles"))
    )
    creator_nodes = triples.filter(F.col("predicate") == BDO + "creator").select(
        F.col("graph").alias("wa_rid_g"), F.col("o_value").alias("creator_node")
    )
    agents = triples.filter(F.col("predicate") == BDO + "agent").select(
        F.col("subject").alias("creator_node"),
        F.regexp_extract("o_value", r"([^/]+)$", 1).alias("agent"),
    )
    creators = (
        creator_nodes.join(agents, "creator_node")
        .groupBy("wa_rid_g")
        .agg(F.sort_array(F.collect_set("agent")).alias("creators"))
    )
    return (
        inst_of.join(titles, "mw_rid", "left")
        .join(creators, inst_of.wa_rid == creators.wa_rid_g, "left")
        .select(
            "wa_rid",
            "mw_rid",
            F.coalesce("titles", F.array().cast("array<string>")).alias("titles"),
            F.coalesce("creators", F.array().cast("array<string>")).alias("creators"),
        )
        .orderBy("mw_rid")
    )
