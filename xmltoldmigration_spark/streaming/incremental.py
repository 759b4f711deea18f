"""Incremental KG construction: stream new src records -> triple table.

`readStream` on the src directory (parquet; Iceberg streaming scan in
production) -> the same mapInArrow parse stage as batch -> append sink.
The streaming checkpoint gives exactly-once file-level progress, which is
the streaming twin of the batch pipeline's per-stage lineage markers.

Cross-record stages (symmetric completion, canonicalization) are not
incremental here: they are periodic batch compactions over the appended
triple deltas — the standard lambda shape for KG maintenance at scale.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from xmltoldmigration_spark.kg.parse import parse_src
from xmltoldmigration_spark.sources.corpus import SRC_SCHEMA


def stream_parse(
    spark: SparkSession,
    src_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    available_now: bool = True,
):
    """Start the incremental parse; returns the StreamingQuery.

    With available_now=True the query drains the current backlog and
    stops — the deterministic mode used by tests and backfills.
    """
    src = (
        spark.readStream.schema(SRC_SCHEMA)
        .option("maxFilesPerTrigger", 64)
        .parquet(src_dir)
    )
    parsed = parse_src(src)
    writer = (
        parsed.writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
