"""Replicates the driver's correctness gate locally: every queries() entry
with an oracle must match DuckDB on row count, column names, and
order-insensitive values at sf0.01 (TESTDATA.md: t2 correctness scale).

Value comparison is strict: floats must match to near-bit precision (the
queries are designed for determinism — decimal-cast aggregation, sequential
double folds), everything else exactly.
"""

from __future__ import annotations

import json
import math

import duckdb
import pytest

SF_DIR = "/root/testdata/sf0.01"
TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


@pytest.fixture(scope="module")
def ddb():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_DIR}/{t}.parquet')"
        )
    yield con
    con.close()


def _canon(rows, cols):
    """Sort columns by name, then rows; normalize values for comparison."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])

    def norm(v):
        if v is None:
            return ("\x00null",)
        if isinstance(v, bool):
            return ("b", v)
        if isinstance(v, float):
            if math.isnan(v):
                return ("f", "nan")
            return ("f", f"{v:.10g}")
        if isinstance(v, int):
            return ("i", v)
        return ("s", str(v))

    return sorted(tuple(norm(r[i]) for i in order) for r in rows)


def _spec_items():
    from xmltoldmigration_spark.queries import registry

    return sorted(registry().items())


@pytest.mark.parametrize("name", [n for n, s in _spec_items() if s.oracle is not None])
def test_query_matches_oracle(spark, ddb, name):
    from xmltoldmigration_spark.queries import registry

    spec = registry()[name]
    sdf = spec.fn(spark, SF_DIR)
    srows = [tuple(r) for r in sdf.collect()]
    scols = [c.lower() for c in sdf.columns]

    ores = ddb.execute(spec.oracle)
    ocols = [d[0].lower() for d in ores.description]
    orows = ores.fetchall()

    assert sorted(scols) == sorted(ocols), f"{name}: column mismatch {scols} vs {ocols}"
    assert len(srows) == len(orows), f"{name}: row count {len(srows)} vs {len(orows)}"
    sc, oc = _canon(srows, scols), _canon(orows, ocols)
    mismatches = [(a, b) for a, b in zip(sc, oc) if a != b]
    assert not mismatches, f"{name}: first value mismatch {mismatches[:3]}"


def test_sessionization_fractional_gap_matches_oracle(spark, tmp_path):
    """A 1800.753 s gap starts a new session, as the oracle's fractional
    epoch(ts) says; an exact 1800 s gap does not.  Measuring in whole
    seconds floors the first gap to 1800 and merges the sessions."""
    import datetime as dt

    import pyarrow as pa
    import pyarrow.parquet as pq

    from xmltoldmigration_spark.queries import registry

    t0 = dt.datetime(2024, 1, 1)
    t1 = t0 + dt.timedelta(seconds=1800, microseconds=753_000)
    t2 = t1 + dt.timedelta(seconds=1800)
    pq.write_table(
        pa.table({
            "event_id": pa.array([1, 2, 3], pa.int64()),
            "ts": pa.array([t0, t1, t2], pa.timestamp("us")),
            "user_id": pa.array([5, 5, 5], pa.int64()),
        }),
        tmp_path / "events.parquet",
    )
    spec = registry()["stream_sessionization"]
    sdf = spec.fn(spark, str(tmp_path))
    scols = [c.lower() for c in sdf.columns]
    con = duckdb.connect()
    con.execute(f"CREATE VIEW events AS SELECT * FROM read_parquet('{tmp_path}/events.parquet')")
    ores = con.execute(spec.oracle)
    ocols = [d[0].lower() for d in ores.description]
    want = _canon(ores.fetchall(), ocols)
    con.close()
    assert _canon([tuple(r) for r in sdf.collect()], scols) == want
    assert len(want) == 2


@pytest.mark.parametrize("name", [n for n, s in _spec_items() if s.oracle is None])
def test_rows_only_queries_run(spark, name):
    from xmltoldmigration_spark.queries import registry

    spec = registry()[name]
    sdf = spec.fn(spark, SF_DIR)
    # force FULL evaluation (count() would prune unreferenced UDF columns)
    rows = sdf.collect()
    assert len(rows) >= 0
    assert len(sdf.columns) > 0


def test_entry_smoke(spark):
    import __spark_entry__ as e

    df = e.entry(spark)
    assert df.count() > 0
    # every oracle key must exist in queries()
    q, o = e.queries(), e.oracle_sql()
    assert set(o).issubset(set(q))


def test_hashed_shingles_equal_string_shingles(spark):
    """The dedup pipeline carries shingles as xxhash64 longs; that is only
    oracle-equivalent if jaccard over hashed-shingle sets equals jaccard
    over the joined-string sets for every doc pair.  Pin it on a crafted
    corpus that exercises repeats, multi-space runs, <3-token docs, and
    token-boundary-shift lookalikes ("a b"+"c" vs "a"+"b c" can't occur —
    tokens are whitespace-split — but near-identical docs can)."""
    from pyspark.sql import functions as F

    from xmltoldmigration_spark.queries.dedup import _SHINGLES_EXPR

    texts = [
        (1, "the quick brown fox jumps over the lazy dog"),
        (2, "the  quick   brown fox jumps over the lazy dog"),  # same tokens
        (3, "the quick brown fox leaps over the lazy dog"),
        (4, "one two"),  # <3 tokens: no shingles
        (5, "x y z x y z x y z"),  # repeated shingles collapse via distinct
        (6, "completely different text with no overlap at all here"),
    ]
    docs = spark.createDataFrame(texts, "doc_id long, text string")
    toks = docs.select(
        "doc_id", F.filter(F.split("text", r"\s+"), lambda x: x != "").alias("toks")
    )
    string_expr = """
    CASE WHEN size(toks) >= 3 THEN
      transform(sequence(0, size(toks) - 3),
                j -> concat_ws(' ', toks[j], toks[j+1], toks[j+2]))
    ELSE array() END
    """

    def jaccards(expr):
        sh = toks.select(
            "doc_id", F.explode(F.expr(expr)).alias("shingle")
        ).distinct()
        sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
        a = sh.select(F.col("doc_id").alias("a"), F.col("shingle").alias("s"))
        b = sh.select(F.col("doc_id").alias("b"), F.col("shingle").alias("s"))
        inter = (
            a.join(b, ["s"])
            .filter(F.col("a") < F.col("b"))
            .groupBy("a", "b")
            .agg(F.count(F.lit(1)).alias("i"))
        )
        rows = (
            inter.join(sizes.withColumnRenamed("doc_id", "a").withColumnRenamed("n", "na"), "a")
            .join(sizes.withColumnRenamed("doc_id", "b").withColumnRenamed("n", "nb"), "b")
            .select("a", "b", (F.col("i") / (F.col("na") + F.col("nb") - F.col("i"))).alias("j"))
            .collect()
        )
        return {(r["a"], r["b"]): r["j"] for r in rows}

    j_str, j_hash = jaccards(string_expr), jaccards(_SHINGLES_EXPR)
    assert j_str == j_hash
    assert (1, 2) in j_str and j_str[(1, 2)] == 1.0  # whitespace runs collapse
    assert all(v <= 1.0 for v in j_str.values())


def test_no_quadratic_joins_in_any_plan(spark):
    """Scale gate: no registry query may plan a CartesianProduct, and
    BroadcastNestedLoopJoin is allowed only where the build side is a
    literal prop-inverse dim (tools/plan_audit.py allowlist).  Plans are
    compiled at plan_audit.SF_DIR (sf0.001), the scale the snapshot was
    written at — join strategy shape doesn't depend on sf, and
    a strategy flip (e.g. a lost equi-join condition turning a join
    quadratic) fails here before it ships.

    The same plans must also match the committed `.plan_audit.json`
    snapshot: shuffle and broadcast counts, pushed filters and each
    scan's column count, so a new exchange or a lost pushdown fails the
    suite and not just `git diff`."""
    from tools import plan_audit
    from tools.plan_audit import _BNLJ_OK, _SKIP, OUT, audit_plan
    from xmltoldmigration_spark.queries import registry

    snapshot = json.loads(OUT.read_text())["queries"]
    bad = []
    for name, spec in sorted(registry().items()):
        if name in _SKIP:
            continue
        plan = spec.fn(spark, plan_audit.SF_DIR)._jdf.queryExecution().executedPlan().toString()
        facts = audit_plan(plan)
        if facts["cartesian"]:
            bad.append(f"{name}: CartesianProduct")
        if facts["bnlj"] and name not in _BNLJ_OK:
            bad.append(f"{name}: BroadcastNestedLoopJoin outside allowlist")
        bad.extend(_snapshot_diffs(name, facts, snapshot.get(name)))
    assert not bad, "\n".join(bad)


def _gated_facts(facts: dict) -> dict:
    return {
        "shuffle_exchanges": facts["shuffle_exchanges"],
        "broadcast_exchanges": facts["broadcast_exchanges"],
        "pushed_filters": facts["pushed_filters"],
        "read_cols": [scan["read_cols"] for scan in facts["scans"]],
    }


def _snapshot_diffs(name: str, facts: dict, snap: dict | None) -> list[str]:
    """Gated plan facts that differ from the `.plan_audit.json` entry."""
    regen = "regenerate with `python tools/plan_audit.py` if intended"
    if snap is None:
        return [f"{name}: missing from .plan_audit.json; {regen}"]
    got, want = _gated_facts(facts), _gated_facts(snap)
    return [
        f"{name}.{field}: plan {got[field]} != snapshot {want[field]}; {regen}"
        for field in got
        if got[field] != want[field]
    ]
