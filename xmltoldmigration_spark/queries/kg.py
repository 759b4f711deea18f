"""KG-construction pipeline embodiments for the driver harness.

These run the real pipeline over the deterministic synthetic corpus
(sources/corpus.py) — XML parsing is not expressible in the DuckDB
oracle's SQL over the testdata views, so these entries are rows-only
checks (oracle=None), as the driver contract allows for genuinely
non-SQL ops.  Determinism: the corpus is a pure function of (seed, i),
so row counts and values are stable across runs and partitionings
(asserted by tests/test_kg_pipeline.py::test_synthetic_corpus_deterministic).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from xmltoldmigration_spark.queries import register

_N_BY_SF = {"0.001": 200, "0.01": 1000, "0.1": 4000}


def _n_for(sf_dir: str) -> int:
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    return _N_BY_SF.get(sf, 1000)


def _src(spark: SparkSession, sf_dir: str) -> DataFrame:
    from xmltoldmigration_spark.sources.corpus import load_synthetic_src

    return load_synthetic_src(spark, _n_for(sf_dir))


@register(
    "kg_parse_triple_extraction",
    oracle=None,
    survey_ref="S1/S2 + §3.2 parse stage: XML -> candidate triples via mapInArrow",
)
def kg_parse_triple_extraction(spark: SparkSession, sf_dir: str) -> DataFrame:
    from xmltoldmigration_spark.kg.parse import parse_src, split_streams

    parsed = parse_src(_src(spark, sf_dir))
    triples = split_streams(parsed)["triples"]
    return (
        triples.groupBy("predicate")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("predicate")
    )


@register(
    "kg_symmetric_completion",
    oracle=None,
    survey_ref="A1: inverse-edge completion (union + semi-join + dedup)",
)
def kg_symmetric_completion(spark: SparkSession, sf_dir: str) -> DataFrame:
    from xmltoldmigration_spark.kg.parse import parse_src, split_streams
    from xmltoldmigration_spark.plans.pipeline import inverse_edges

    streams = split_streams(parse_src(_src(spark, sf_dir)).cache())
    graphs = streams["triples"].select("graph").distinct()
    inverse = inverse_edges(streams["symmetric"], graphs)
    return inverse.groupBy("predicate").agg(F.count(F.lit(1)).alias("n")).orderBy("predicate")


@register(
    "kg_dangling_link_report",
    oracle=None,
    survey_ref="J3: referential-integrity anti-join over extracted links",
)
def kg_dangling_link_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    from xmltoldmigration_spark.kg.parse import parse_src, split_streams
    from xmltoldmigration_spark.plans.pipeline import dangling_links

    streams = split_streams(parse_src(_src(spark, sf_dir)).cache())
    return (
        dangling_links(streams)
        .groupBy("prop")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("prop")
    )


# One shared pipeline run per (Spark app, corpus size): both full-pipeline
# entries consume the same output dir — the second invocation resumes off
# the first run's _DONE markers instead of re-executing the whole chain
# (the driver harness calls every entry in one session, so without this it
# paid two end-to-end pipeline runs for two small aggregates).
_PIPELINE_OUT: dict[tuple[str, int], str] = {}


def _session_tmpdir(prefix: str) -> str:
    """mkdtemp that is removed at interpreter exit (process-lifetime cache
    dirs must not leak on disk across driver invocations)."""
    import atexit
    import shutil
    import tempfile

    d = tempfile.mkdtemp(prefix=prefix)
    atexit.register(shutil.rmtree, d, ignore_errors=True)
    return d


def _shared_pipeline_final(spark: SparkSession, sf_dir: str) -> DataFrame:
    from xmltoldmigration_spark.plans.pipeline import Pipeline

    key = (spark.sparkContext.applicationId, _n_for(sf_dir))
    fresh = key not in _PIPELINE_OUT
    if fresh:
        _PIPELINE_OUT[key] = _session_tmpdir("kgq_")
    out = _PIPELINE_OUT[key]
    try:
        # resume=True on a warm dir just re-reads the final stage's parquet
        return Pipeline(spark, out).run(_src(spark, sf_dir), resume=not fresh)
    except Exception:
        # A failed first run must not be cached as "warm": a later caller
        # would silently resume from a half-written dir.
        if fresh:
            _PIPELINE_OUT.pop(key, None)
        raise


@register(
    "kg_full_pipeline_by_type",
    oracle=None,
    survey_ref="§3.4 stages 1-5 end-to-end: triples per rdf-type partition",
)
def kg_full_pipeline_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    final = _shared_pipeline_final(spark, sf_dir)
    return (
        final.groupBy("type_part").agg(F.count(F.lit(1)).alias("n")).orderBy("type_part")
    )


@register(
    "kg_title_export",
    oracle=None,
    survey_ref="K5: titles export branch over the graph table",
)
def kg_title_export(spark: SparkSession, sf_dir: str) -> DataFrame:
    from xmltoldmigration_spark.plans.exports import export_title_info

    final = _shared_pipeline_final(spark, sf_dir)
    return export_title_info(final).select(
        "wa_rid", "mw_rid", F.size("titles").alias("n_titles")
    )


# The synthetic TTL corpus is a pure function of n_works, so one dir per
# size serves every invocation in the process (mirrors _PIPELINE_OUT).
_RKTS_DIRS: dict[int, str] = {}


@register(
    "kg_rkts_transfer",
    oracle=None,
    survey_ref="J20: rKTs TTL corpus merged as a second triple source",
)
def kg_rkts_transfer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TTL parsing is non-SQL -> rows-only.  Deterministic: the synthetic
    TTL directory is a pure function of its generator parameters."""
    from xmltoldmigration_spark.kg.transfers.rkts import (
        rkts_parsed,
        write_synthetic_ttl_dir,
    )

    n_works = max(10, _n_for(sf_dir) // 20)
    d = _RKTS_DIRS.get(n_works)
    if d is None:
        d = _session_tmpdir("rkts_")
        write_synthetic_ttl_dir(d, n_works=n_works)
        _RKTS_DIRS[n_works] = d
    parsed = rkts_parsed(spark, d)
    return (
        parsed.groupBy("stream", "graph")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("stream", "graph")
    )


@register(
    "kg_canonical_serialization",
    oracle=None,
    survey_ref="K1: canonical per-graph serialization, partition-invariant sha256",
)
def kg_canonical_serialization(spark: SparkSession, sf_dir: str) -> DataFrame:
    from xmltoldmigration_spark.kg.parse import parse_src, split_streams
    from xmltoldmigration_spark.kg.serialize import serialize_graphs

    triples = split_streams(parse_src(_src(spark, sf_dir)))["triples"]
    return serialize_graphs(triples).select("graph", "sha256").orderBy("graph")
