"""Vectorized parse stage: src table -> tagged output rows (stage 1).

One Arrow-native mapInArrow pass replaces the reference's per-type
sequential migrators (MigrationApp.migrateType:572-638).  Each input
record is record-local (SURVEY.md §3.2), so the stage is embarrassingly
parallel; mega-records (outlines emitting 1e4+ triples) are bounded by
spark.sql.execution.arrow.maxRecordsPerBatch and by chunked yields here.

Output is a single tagged union (column `stream`) so one scan feeds all
downstream stages:

    stream='triple'     graph/subject/predicate/o_kind/o_value/o_lang/o_datatype
    stream='symmetric'  subject=dest RID, predicate=prop local, o_value=src RID
    stream='error'      subject=rid, predicate=etype, o_value=message
    stream='link'       subject=src rid, predicate=prop, o_value=dst rid
    stream='status'     subject=rid, o_value=status           (J3 input)
    stream='redirect'   subject=old rid, o_value=new rid      (J1 runtime input)
    stream='content'    subject=id, o_value=text              (K3 side outputs)
"""

from __future__ import annotations

from collections.abc import Iterable, Iterator
from itertools import islice

from pyspark.sql import DataFrame

PARSED_SCHEMA = (
    "stream string, graph string, subject string, predicate string, "
    "o_kind string, o_value string, o_lang string, o_datatype string"
)
PARSED_COLS = PARSED_SCHEMA.replace(" string", "").split(", ")

_CHUNK = 20000


def error_row(graph: str, subject: str, etype: str, err) -> tuple:
    """One `stream='error'` row; `err` is the exception or the message."""
    msg = f"{type(err).__name__}: {err}" if isinstance(err, BaseException) else err
    return ("error", graph, subject, etype, None, msg, None, None)


def emitter_rows(emitters, symmetric=()) -> Iterator[tuple]:
    """Migrated emitters -> `triple` rows; queued inverse edges
    (dest, prop, src) -> `symmetric` rows."""
    for em in emitters:
        for (g, s, p, k, v, lang, dt) in em.rows():
            yield ("triple", g, s, p, k, v, lang, dt)
    for (dest, prop, src) in symmetric:
        yield ("symmetric", dest, dest, prop, None, src, None, None)


def to_batches(rows: Iterable[tuple]) -> Iterator:
    """Tagged rows -> Arrow string batches of at most _CHUNK rows.

    Rows are pulled lazily and each batch builds its string arrays
    directly (one zip pass -> pa.array), with no pandas round trip.  A
    mega-record (outline with 1e4-1e5 nodes, SURVEY §7.3) can emit more
    rows than _CHUNK on its own, and one oversized Arrow batch is exactly
    the per-batch memory spike the chunking exists to prevent."""
    import pyarrow as pa

    rows = iter(rows)
    while chunk := list(islice(rows, _CHUNK)):
        yield pa.RecordBatch.from_arrays(
            [pa.array(col, type=pa.string()) for col in zip(*chunk)], names=PARSED_COLS
        )


def _parse_record(path: str, content, auth) -> Iterator[tuple]:
    """Parse ONE record into tagged output rows, with the run's Authority.

    `content` may be str or bytes — ElementTree accepts both, and the
    Arrow path hands in a zero-decode bytes view of the record."""
    from xmltoldmigration_spark.kg.common import Ctx
    from xmltoldmigration_spark.kg.migrators import migrate_record, must_be_migrated
    from xmltoldmigration_spark.sources.corpus import rtype_from_path

    rid = path.rsplit("/", 1)[-1].removesuffix(".xml")
    ctx = Ctx(auth=auth, app_mode=True, src_path=path)
    try:
        rtype = rtype_from_path(path)
        emitters = migrate_record(rtype, content, ctx)
    except Exception as e:  # record-level failure -> error row
        yield error_row(rid, rid, "parse", e)
        return
    # status was captured during migrate_record — no second parse; a
    # skipped record yields no row at all, so links to it are J3 rows
    if not must_be_migrated(rtype, rid, ctx.result.status):
        return
    yield ("status", rid, rid, None, None, ctx.result.status, None, None)
    yield from emitter_rows(emitters, ctx.result.symmetric)
    for (etype, erid, sub, prop, msg) in ctx.result.errors:
        yield error_row(erid, sub, etype + ":" + (prop or ""), msg)
    for (src, prop, dst) in ctx.result.links:
        yield ("link", rid, src, prop, None, dst, None, None)
    for (kind, payload) in ctx.result.contents:
        if kind == "ridReplacement":
            old, _, new = payload.partition(",")
            yield ("redirect", rid, old, None, None, new, None, None)
        else:
            yield ("content", rid, kind, None, None, payload, None, None)


def _parse_rows(batches, auth) -> Iterator[tuple]:
    import pyarrow as pa

    for rb in batches:
        paths = rb.column(0)
        contents = rb.column(1)
        # record XML stays in the incoming Arrow buffer until ElementTree
        # needs it: the string column is viewed as binary (zero-copy cast)
        # and each record holds ONE bytes object at a time, parsed and
        # freed before the next
        if pa.types.is_string(contents.type):
            contents = contents.cast(pa.binary())
        elif pa.types.is_large_string(contents.type):
            contents = contents.cast(pa.large_binary())
        for i in range(rb.num_rows):
            yield from _parse_record(paths[i].as_py(), contents[i].as_py(), auth)


def _parse_batches(batches, auth):
    """Arrow-native batch iterator: pa.RecordBatch(path, content) in ->
    tagged pa.RecordBatch out."""
    return to_batches(_parse_rows(batches, auth))


def parse_src(src: DataFrame, auth=None) -> DataFrame:
    """src(repo,path,commit,lang,content) -> tagged parse output, migrated
    with `auth` (default `get_authority()`), which travels in the function."""
    if auth is None:
        from xmltoldmigration_spark.kg.authority import get_authority

        auth = get_authority()
    return src.select("path", "content").mapInArrow(
        lambda batches: _parse_batches(batches, auth), schema=PARSED_SCHEMA
    )


def split_streams(parsed: DataFrame) -> dict[str, DataFrame]:
    """Split the tagged union into per-stream DataFrames.

    Caller should persist `parsed` first so each filter doesn't re-run the
    parse (plans/pipeline.py checkpoints it to parquet, which also gives
    resumability)."""
    from pyspark.sql import functions as F

    out = {}
    out["triples"] = parsed.filter(F.col("stream") == "triple").select(
        "graph", "subject", "predicate", "o_kind", "o_value", "o_lang", "o_datatype"
    )
    out["symmetric"] = parsed.filter(F.col("stream") == "symmetric").select(
        F.col("subject").alias("dest_rid"),
        F.col("predicate").alias("prop"),
        F.col("o_value").alias("src_rid"),
    )
    out["errors"] = parsed.filter(F.col("stream") == "error").select(
        F.col("graph").alias("rid"),
        F.col("subject").alias("sub_rid"),
        F.col("predicate").alias("etype"),
        F.col("o_value").alias("message"),
    )
    out["links"] = parsed.filter(F.col("stream") == "link").select(
        F.col("subject").alias("src_rid"),
        F.col("predicate").alias("prop"),
        F.col("o_value").alias("dst_rid"),
    )
    out["statuses"] = parsed.filter(F.col("stream") == "status").select(
        F.col("subject").alias("rid"), F.col("o_value").alias("status")
    )
    out["redirects"] = parsed.filter(F.col("stream") == "redirect").select(
        F.col("subject").alias("old_rid"), F.col("o_value").alias("new_rid")
    )
    out["contents"] = parsed.filter(F.col("stream") == "content").select(
        F.col("graph").alias("rid"),
        F.col("subject").alias("kind"),
        F.col("o_value").alias("payload"),
    )
    return out
