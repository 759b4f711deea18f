"""Driver contract for the spark-graft builder (PySpark target).

entry(spark)   — flagship query smoke check at sf0.001.
queries()      — one callable per implemented operator (SURVEY.md §2 +
                 training-data ops), (spark, sf_dir) -> DataFrame.
oracle_sql()   — matching ANSI-SQL for DuckDB over the same parquet views;
                 omitted keys get a rows-only check.
"""

from __future__ import annotations

import sys
from collections.abc import Callable
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession

_REPO = str(Path(__file__).resolve().parent)
if _REPO not in sys.path:
    sys.path.insert(0, _REPO)

from xmltoldmigration_spark.session import export_pythonpath  # noqa: E402

# a session the caller builds after this import gets importable workers
export_pythonpath()


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    from xmltoldmigration_spark.queries import registry

    return registry()["q1_pricing_summary"].fn(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    from xmltoldmigration_spark.queries import registry

    return {name: spec.fn for name, spec in registry().items()}


def oracle_sql() -> dict[str, str]:
    from xmltoldmigration_spark.queries import registry

    return {name: spec.oracle for name, spec in registry().items() if spec.oracle is not None}
