"""Spark wrapper for the CSV transfer pipelines (S5).

A transfer source is just another `src` shape: a CSV DataFrame mapped
through the same record-local emitters via mapInArrow, then unioned
into the triple stream before stages 2-5 — the reference's per-source
`transfer*()` loops (e.g. EAPTransfer.transferEAP:82-107) collapse into
one extra scan.
"""

from __future__ import annotations

import importlib

from pyspark.sql import DataFrame

from xmltoldmigration_spark.kg.common import Ctx
from xmltoldmigration_spark.kg.parse import PARSED_SCHEMA, emitter_rows, error_row, to_batches


def transfer_to_parsed(csv_df: DataFrame, transfer_name: str, auth) -> DataFrame:
    """CSV rows -> tagged parse-output rows (same schema as kg/parse.py).

    `transfer_name` is one of eap/cudl/gretil/nsi/hodgson/femc; columns of
    `csv_df` must be the positional columns of the source CSV (c0..cN).
    `auth` is the run's Authority; it travels in the function, as in
    `parse_src`.  Transfers keep both directions of every symmetric pair
    (normalizeOneDirection(false, false)).
    """
    from_line = importlib.import_module(
        f"xmltoldmigration_spark.kg.transfers.{transfer_name}"
    ).resources_from_line
    return csv_df.mapInArrow(
        lambda batches: to_batches(_transfer_rows(batches, from_line, auth)),
        schema=PARSED_SCHEMA,
    )


def _transfer_rows(batches, from_line, auth):
    for rb in batches:
        for row in zip(*(col.to_pylist() for col in rb.columns)):
            line = [("" if v is None else str(v)) for v in row]
            ctx = Ctx(auth=auth, one_direction=False)
            try:
                emitters = from_line(line, ctx)
            except Exception as e:
                yield error_row(line[0], line[0], "transfer", e)
                continue
            yield from emitter_rows(emitters, ctx.result.symmetric)
