"""End-to-end Spark tests for the KG pipeline (parse -> link -> symmetric
-> canonicalize -> write, with resume)."""

from __future__ import annotations

import shutil
from pathlib import Path

import pytest
from pyspark.sql import functions as F

from xmltoldmigration_spark.plans.pipeline import Pipeline
from xmltoldmigration_spark.sources import corpus


@pytest.fixture(scope="module")
def spark():
    from xmltoldmigration_spark.session import get_spark

    s = get_spark("kg-pipeline-test", master="local[4]", shuffle_partitions=8)
    yield s


@pytest.fixture(scope="module")
def fixture_out(spark, tmp_path_factory):
    if not corpus.XML_DIR.exists():
        pytest.skip("no golden corpus")
    out = tmp_path_factory.mktemp("kgpipe")
    src = corpus.load_fixture_src(spark)
    pipe = Pipeline(spark, str(out))
    final = pipe.run(src, resume=False)
    return out, pipe, final


def _synthetic_src(spark):
    # person, work and place records, no reference data needed
    return corpus.load_synthetic_src(spark, 300, seed=42)


@pytest.fixture(scope="module")
def synthetic_out(spark, tmp_path_factory):
    out = tmp_path_factory.mktemp("kgsynth")
    pipe = Pipeline(spark, str(out))
    final = pipe.run(_synthetic_src(spark), resume=False)
    return out, pipe, final


@pytest.mark.skipif(not corpus.XML_DIR.exists(), reason="no golden corpus")
def test_fixture_corpus_parity(spark, fixture_out):
    """Full-pipeline output vs the union of golden triple sets: P/R>=0.95
    (BASELINE.json).  Small deltas come from legitimate cross-record
    passes (symmetric completion adds inverse edges between fixture
    records that single-record golden files cannot contain)."""
    from xmltoldmigration_spark.kg.compare import precision_recall
    from xmltoldmigration_spark.kg.ttl import parse_ttl_file

    out, pipe, final = fixture_out
    rows = final.collect()
    ours = [(r.subject, r.predicate, r.o_kind, r.o_value, r.o_lang, r.o_datatype) for r in rows]
    golden = []
    for name in corpus.FIXTURE_TYPES:
        p = corpus.XML_DIR.parent / "ttl" / f"{name}.xml"
        ttl = corpus.XML_DIR.parent / "ttl" / f"{name}.ttl"
        if ttl.exists():
            golden.extend(parse_ttl_file(str(ttl)))
    pr = precision_recall(ours, golden)
    assert pr.precision >= 0.95 and pr.recall >= 0.95, (
        f"P={pr.precision:.3f} R={pr.recall:.3f} "
        f"missing={pr.missing[:3]} extra={pr.extra[:3]}"
    )


def test_pipeline_resume(spark, synthetic_out):
    out, pipe, final = synthetic_out
    n1 = final.count()
    written = ("parsed", "graph", "errors", "dangling", "conflicts")
    before = {s: (out / "_lineage" / f"{s}.json").read_bytes() for s in written}
    # resume run must reuse every stage (markers present) and agree
    pipe2 = Pipeline(spark, str(out))
    final2 = pipe2.run(_synthetic_src(spark), resume=True)
    assert final2.count() == n1
    stages = {row["stage"] for row in pipe2.lineage()}
    assert {"parsed", "linked", "completed", "graph"} <= stages
    # no stage was rewritten: each write records its own wall_s
    after = {s: (out / "_lineage" / f"{s}.json").read_bytes() for s in written}
    assert after == before


def test_side_stages_marked_co_scheduled(synthetic_out, spark):
    """At >= 4 cores the side tables are submitted concurrently with the
    main graph write, so their lineage wall_s is elapsed-under-sharing —
    the co_scheduled marker must be present (and absent below 4 cores,
    where the pipeline takes the sequential path) so lineage consumers
    don't read it as exclusive stage cost.  The expectation is derived
    from the session's actual parallelism rather than hard-coding the
    conftest master, so lowering the fixture doesn't fail opaquely."""
    _, pipe, _ = synthetic_out
    expect_co = spark.sparkContext.defaultParallelism >= 4
    rows = {r["stage"]: r for r in pipe.lineage()}
    for stage in ("errors", "dangling", "conflicts"):
        assert rows[stage].get("co_scheduled", False) is expect_co, stage
    assert "co_scheduled" not in rows["graph"]


def test_lineage_truncation_marked(spark, tmp_path):
    """A >512-file stage write must mark truncation in the lineage JSON
    (total file count + row sum of the unlisted remainder) so per-file
    lineage never silently becomes a sample at cluster scale."""
    pipe = Pipeline(spark, str(tmp_path / "trunc"))
    df = spark.range(2000).repartition(600)
    pipe._write_stage("manyfiles", df)
    row = [r for r in pipe.lineage() if r["stage"] == "manyfiles"][0]
    assert row["truncated"] is True
    assert row["n_files_total"] > 512
    assert len(row["partitions"]) == 512
    listed = sum(p["rows"] for p in row["partitions"])
    assert listed + row["rows_in_unlisted_files"] == 2000 == row["rows"]


def test_partition_layout(synthetic_out):
    out, pipe, final = synthetic_out
    assert "type_part" in final.columns and "subject_bucket" in final.columns
    parts = {r.type_part for r in final.select("type_part").distinct().collect()}
    assert "Person" in parts and "Place" in parts


def test_synthetic_corpus_deterministic(spark, tmp_path):
    """Same synthetic corpus at two parallelism levels -> identical triple
    sets (partition-count invariance, the property behind the N-vs-4N
    scaling claim)."""
    n = 120
    a = corpus.load_synthetic_src(spark, n, num_partitions=2)
    b = corpus.load_synthetic_src(spark, n, num_partitions=8)
    out_a = tmp_path / "a"
    out_b = tmp_path / "b"
    fa = Pipeline(spark, str(out_a)).run(a, resume=False)
    fb = Pipeline(spark, str(out_b)).run(b, resume=False)
    cols_a = ", ".join(c for c in fa.columns if c != "subject_bucket")
    ha = fa.select(F.expr(f"bit_xor(xxhash64({cols_a}))")).collect()[0][0]
    hb = fb.select(F.expr(f"bit_xor(xxhash64({cols_a}))")).collect()[0][0]
    assert fa.count() == fb.count() > 0
    assert ha == hb


def test_symmetric_completion_applied(spark, tmp_path):
    """A synthetic teacherOf edge between two migrated persons must
    produce the inverse studentOf in the destination graph (A1)."""
    src = corpus.load_synthetic_src(spark, 40, num_partitions=2)
    final = Pipeline(spark, str(tmp_path / "sym")).run(src, resume=False)
    bdo = "http://purl.bdrc.io/ontology/core/"
    inv = final.filter(F.col("predicate") == bdo + "personStudentOf").count()
    assert inv > 0


def test_title_export(spark, fixture_out):
    """K5: titles CSV export branch over the graph table."""
    from xmltoldmigration_spark.plans.exports import export_title_info

    out, pipe, final = fixture_out
    rows = export_title_info(final).collect()
    assert len(rows) > 0
    by_mw = {r.mw_rid: r for r in rows}
    assert "MW1FPL2837" in by_mw
    assert any("kun rig rnam bshad/@bo-x-ewts" in t for t in by_mw["MW1FPL2837"].titles)


def test_canonical_serialization(spark, fixture_out):
    """K1: per-graph canonical serialization is deterministic and stable
    across partitionings (sha256 per graph identical)."""
    from xmltoldmigration_spark.kg.serialize import serialize_graphs

    out, pipe, final = fixture_out
    a = {r.graph: r.sha256 for r in serialize_graphs(final).collect()}
    b = {
        r.graph: r.sha256
        for r in serialize_graphs(final.repartition(13)).collect()
    }
    assert a == b and len(a) > 10
    body = next(
        r.body for r in serialize_graphs(final).collect() if r.graph == "P1331"
    )
    assert "<http://purl.bdrc.io/resource/P1331>" in body
    # canonical order: (subject, predicate priority, predicate) non-decreasing
    from xmltoldmigration_spark.kg.serialize import _PRIORITY

    keys = []
    for line in body.splitlines():
        subj = line[1 : line.index(">")]
        rest = line[line.index(">") + 2 :]
        pred = rest[1 : rest.index(">")]
        keys.append((subj, _PRIORITY.get(pred, 9), pred))
    assert keys == sorted(keys) and len(keys) > 1


def test_malformed_records_degrade_to_error_rows(spark, tmp_path):
    """A corrupt record must become an error row, never a task failure
    (the 100 TB operational property)."""
    from xmltoldmigration_spark.kg.parse import parse_src, split_streams
    from xmltoldmigration_spark.sources.corpus import SRC_SCHEMA

    rows = [
        ("tbrc", "tbrc-persons/P9XBAD.xml", "v1", "xml", "<p:person broken"),
        ("tbrc", "weird-dir/X1.xml", "v1", "xml", "<x/>"),
        ("tbrc", "tbrc-persons/P9XOK.xml", "v1", "xml",
         '<p:person xmlns:p="http://www.tbrc.org/models/person#" RID="P9XOK" status="released">'
         '<p:name lang="tibetan" encoding="extendedWylie">blo gros</p:name></p:person>'),
    ]
    src = spark.createDataFrame(rows, schema=SRC_SCHEMA)
    streams = split_streams(parse_src(src).cache())
    errors = {r.rid: r.etype for r in streams["errors"].collect()}
    assert "P9XBAD" in errors and "X1" in errors
    graphs = {r.graph for r in streams["triples"].select("graph").distinct().collect()}
    assert "P9XOK" in graphs


def _mega_outline_xml(n_nodes: int) -> str:
    """One outline record expanding into n_nodes text nodes (the SURVEY
    §7.3 mega-record skew case: a single XML record emitting 1e4-1e5
    triples)."""
    ns = "http://www.tbrc.org/models/outline#"
    parts = [
        f'<o:outline xmlns:o="{ns}" RID="O9MEGA0001" pagination="absolute" status="released">',
        "<o:name>mega outline</o:name>",
        '<o:isOutlineOf work="W9MEGA" type="collectedWorks">mega</o:isOutlineOf>',
    ]
    for i in range(n_nodes):
        parts.append(
            f'<o:node RID="O9MEGAN{i:06d}" type="text">'
            f'<o:title encoding="extendedWylie" lang="tibetan" type="bibliographicalTitle">chos tshan {i}/</o:title>'
            f'<o:location page="{i + 1}" vol="1" work="W9MEGA"/>'
            "</o:node>"
        )
    parts.append("</o:outline>")
    return "".join(parts)


def test_mega_record_bounded_batches_and_batch_size_invariance(spark):
    """Mega-record skew proof (SURVEY §7.3): a 10^4-node outline must

    1. stream out of the parse stage in Arrow batches bounded by _CHUNK
       rows — a single record may never produce one unbounded batch (the
       per-batch memory spike that kills an executor at 100 TB), and
    2. produce an IDENTICAL triple set whichever Arrow input batch size
       delivers it (maxRecordsPerBatch 2 vs the 10k default), i.e. the
       chunked yields are a pure streaming concern, invisible in the data.
    """
    import pyarrow as pa

    from pyspark.sql import functions as F

    from xmltoldmigration_spark.kg.parse import _CHUNK, _parse_batches, parse_src
    from xmltoldmigration_spark.sources.corpus import SRC_SCHEMA, synthetic_rows_partition

    mega = _mega_outline_xml(10_000)
    rows = [("tbrc", "tbrc-outlines/O9MEGA0001.xml", "v1", "xml", mega)]
    rows += list(synthetic_rows_partition(0, 20))

    # 1. driver-side generator probe: every yielded batch is <= _CHUNK rows
    rb = pa.RecordBatch.from_arrays(
        [pa.array([r[1] for r in rows]), pa.array([r[4] for r in rows])],
        names=["path", "content"],
    )
    sizes = [b.num_rows for b in _parse_batches([rb])]
    assert sum(sizes) > _CHUNK  # the mega record alone overflows one chunk
    assert max(sizes) <= _CHUNK

    # 2. end-to-end through Spark at two Arrow batch sizes: identical output
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    prev = spark.conf.get(key)

    def tagged_hash(max_records: int) -> tuple:
        spark.conf.set(key, str(max_records))
        try:
            df = parse_src(spark.createDataFrame(rows, schema=SRC_SCHEMA))
            agg = df.agg(
                F.count(F.lit(1)).alias("rows"),
                F.expr(
                    "bit_xor(xxhash64(" + ", ".join(df.columns) + "))"
                ).alias("content_hash"),
            ).collect()[0]
            return agg["rows"], agg["content_hash"]
        finally:
            spark.conf.set(key, prev)

    small, big = tagged_hash(2), tagged_hash(10_000)
    assert small == big
    assert small[0] > 10_000  # the mega outline really expanded


def test_work_admin_propagates_to_etext(spark, tmp_path):
    """J13: the work's archiveInfo access overrides the IE instance's
    default adm:access (work W9X5 is restrictedSealed; etext UT9X9
    references it)."""
    src = corpus.load_synthetic_src(spark, 20, num_partitions=2)
    final = Pipeline(spark, str(tmp_path / "adm")).run(src, resume=False)
    adm = "http://purl.bdrc.io/ontology/admin/"
    rows = final.filter(
        (F.col("graph") == "IE9X1") | (F.col("graph") == "IE9X5")
    ).collect()
    access = {
        (r.graph, r.o_value)
        for r in final.filter(F.col("predicate") == adm + "access").collect()
    }
    assert ("IE9X5", "http://purl.bdrc.io/admindata/AccessRestrictedSealed") in access
    assert ("IE9X15", "http://purl.bdrc.io/admindata/AccessOpen") in access


def test_etext_backlinks(spark, tmp_path):
    """J14: the work instance graph gains instanceHasReproduction to the
    etext instance created from its TEI record."""
    src = corpus.load_synthetic_src(spark, 20, num_partitions=2)
    final = Pipeline(spark, str(tmp_path / "bl")).run(src, resume=False)
    bdo = "http://purl.bdrc.io/ontology/core/"
    rows = final.filter(
        (F.col("predicate") == bdo + "instanceHasReproduction")
        & (F.col("graph") == "MW9X5")
    ).collect()
    assert any(r.o_value.endswith("/IE9X5") for r in rows)


def test_iceberg_adapter_parquet_fallback(spark, tmp_path):
    """sources/iceberg.py: without an Iceberg catalog the adapter reads/
    writes parquet with the same partition layout the Iceberg branch
    declares (type_part dirs + materialized subject_bucket)."""
    from xmltoldmigration_spark.sources import corpus
    from xmltoldmigration_spark.sources.iceberg import (
        iceberg_available,
        load_src,
        write_graph_table,
    )

    assert not iceberg_available(spark)
    src = corpus.load_synthetic_src(spark, 20, num_partitions=2)
    p = str(tmp_path / "src_parquet")
    src.write.parquet(p)
    back = load_src(spark, p)
    assert back.count() == 20 and set(back.columns) == set(src.columns)
    final = Pipeline(spark, str(tmp_path / "pipe")).run(back, resume=False)
    out = str(tmp_path / "graph_table")
    write_graph_table(final, out)
    import pathlib

    parts = {d.name for d in pathlib.Path(out).iterdir() if d.is_dir()}
    assert any(d.startswith("type_part=") for d in parts)
    again = spark.read.parquet(out)
    assert again.count() == final.count()
    assert "subject_bucket" in again.columns


def test_etext_page_name_translation(spark, tmp_path):
    """App-mode UCB-OCR etexts (EtextBodyMigration.java:108-120): page `n`
    attributes are image names; seqNum comes from the image's position in
    the imagegroup's ondisk list via the distributed join — the leading
    cover image shifts every page by one, the no-extension entry consumes
    no position, and a missing image degrades to an ET_GEN error row."""
    src = corpus.load_synthetic_src(spark, 60, num_partitions=2)
    out = tmp_path / "pnt"
    final = Pipeline(spark, str(out)).run(src, resume=False)
    bdo = "http://purl.bdrc.io/ontology/core/"
    g = "UT9XU29_I9XE29_0001"
    rows = final.filter(F.col("graph") == g).collect()
    assert rows, "UCB etext graph missing"
    pages = {r.o_value for r in rows if r.predicate == bdo + "eTextHasPage"}
    page_seqs = sorted(
        int(r.o_value)
        for r in rows
        if r.predicate == bdo + "seqNum" and r.subject in pages
    )
    # pages 1..k translate to ondisk positions 2..k+1 (cover at 1)
    assert page_seqs and page_seqs[0] == 2
    assert page_seqs == list(range(2, 2 + len(page_seqs)))
    errors = spark.read.parquet(str(out / "errors"))
    msgs = [r.message for r in errors.filter(F.col("etype") == "ET_GEN:page").collect()]
    assert any("IMG29-9999.tif" in m for m in msgs)


def test_empty_source_gives_empty_graph(spark, tmp_path):
    """A zero-row source writes zero-row stages (no parquet schema to infer
    from) and returns an empty graph, fresh and on resume."""
    src = corpus.load_synthetic_src(spark, 10, num_partitions=2).limit(0)
    out = str(tmp_path / "empty")
    pipe = Pipeline(spark, out)
    assert pipe.run(src, resume=False).count() == 0
    lineage = {r["stage"]: r for r in pipe.lineage()}
    assert lineage["graph"]["rows"] == 0
    assert all(r["rows"] == 0 for r in lineage.values())
    assert Pipeline(spark, out).run(src, resume=True).count() == 0


def test_multimodal_resize_and_features(spark):
    """Resize and feature-extract plumbing: fixed-size binary out, unit-sum
    float histogram feeding the ANN operators' expected schema."""
    from pyspark.sql import functions as F
    from xmltoldmigration_spark.operators.multimodal import (
        extract_features,
        resize_images,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").limit(50)
    media = docs.select("doc_id", F.encode("text", "utf-8").alias("payload"))
    r = resize_images(media, target_w=8, target_h=4).collect()
    assert len(r) == 50 and all(len(x.resized) == 32 for x in r)
    f = extract_features(media).collect()
    assert len(f) == 50
    assert all(len(x.features) == 16 for x in f)
    assert all(abs(sum(x.features) - 1.0) < 1e-3 for x in f)
    # counts mode: exact integers, sums to the byte length
    c = extract_features(media, normalize=False).collect()
    lens = {x.doc_id: x for x in media.select(
        "doc_id", F.octet_length("payload").alias("n")).collect()}
    assert all(sum(x.features) == lens[x.doc_id].n for x in c)
    # non-power-of-two bins: every byte must land in SOME bin (the old
    # bit-shift binning left the top bins of n_bins=10 permanently empty)
    c10 = extract_features(media, n_bins=10, normalize=False).collect()
    assert all(len(x.features) == 10 for x in c10)
    assert all(sum(x.features) == lens[x.doc_id].n for x in c10)


def test_documents_corpus_is_ascii(spark):
    """The multimodal_frame_sample DuckDB oracle compares VARCHAR-substring
    windows against the Spark side's BYTE windows — identical only while
    byte offsets == character offsets, i.e. the documents text is pure
    ASCII.  Assert that precondition across every shipped sf dir so a
    future non-ASCII corpus fails loudly here instead of silently
    diverging the oracle (queries/multimodal.py frame-sample entry)."""
    import os

    from pyspark.sql import functions as F

    for sf in ("sf0.001", "sf0.01", "sf0.1"):
        path = f"/root/testdata/{sf}/documents.parquet"
        if not os.path.exists(path):
            continue
        docs = spark.read.parquet(path)
        # ASCII iff the utf-8 byte length equals the character length
        non_ascii = docs.filter(
            F.octet_length("text") != F.length("text")
        ).count()
        assert non_ascii == 0, f"{sf}: {non_ascii} non-ASCII documents"


def test_errors_table_resume_idempotent(spark, tmp_path):
    """Join-derived error rows (missing back-link targets, unresolvable
    page images) must appear in the errors side table even when the
    triple chain is RESUMED from its markers rather than rebuilt."""
    import shutil as _shutil

    src = corpus.load_synthetic_src(spark, 60, num_partitions=2)
    out = tmp_path / "erridem"
    Pipeline(spark, str(out)).run(src, resume=False)
    fresh = spark.read.parquet(str(out / "errors"))
    fresh_counts = {r["etype"]: r["count"] for r in fresh.groupBy("etype").count().collect()}
    assert "ET_GEN:page" in fresh_counts  # UCB etext with a missing image
    # wipe ONLY the errors stage; resume must regenerate it identically
    _shutil.rmtree(out / "errors")
    Pipeline(spark, str(out)).run(src, resume=True)
    again = spark.read.parquet(str(out / "errors"))
    again_counts = {r["etype"]: r["count"] for r in again.groupBy("etype").count().collect()}
    assert again_counts == fresh_counts


def test_run_pipeline_cli_smoke(tmp_path):
    """jobs/run_pipeline.py end-to-end via subprocess: synthetic corpus +
    FEMC seed + rKTs dir, resumable output, one JSON result line.  Runs
    from a foreign cwd with no PYTHONPATH, so the job itself must make
    the package importable in its Python workers."""
    import json as _json
    import os
    import subprocess
    import sys

    from xmltoldmigration_spark.kg.transfers import rkts

    rkts_dir = tmp_path / "rkts"
    rkts.write_synthetic_ttl_dir(str(rkts_dir), n_works=3)
    out = tmp_path / "cli_out"
    repo = str(Path(__file__).resolve().parent.parent)
    cmd = [
        sys.executable, f"{repo}/jobs/run_pipeline.py",
        "--synthetic", "30", "--out", str(out),
        "--femc-seed", "--rkts-dir", str(rkts_dir),
    ]
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    r = subprocess.run(cmd, capture_output=True, text=True, timeout=420,
                       cwd=tmp_path, env=env)
    assert r.returncode == 0, r.stderr[-2000:]
    payload = _json.loads(r.stdout.strip().splitlines()[-1])
    assert payload["triples"] > 0
    assert any(row["stage"] == "graph" for row in payload["lineage"])
    graphs = {d.name for d in (out / "graph").iterdir() if d.is_dir()}
    assert any(g.startswith("type_part=") for g in graphs)


def test_killed_run_resumes_to_same_graph(tmp_path, synthetic_out):
    """SIGKILL the CLI after the parsed stage is done and before the graph
    stage is, then rerun it: the rerun resumes from the parsed marker and
    writes the same graph as an uninterrupted run (the xor value_hash does
    not depend on partitioning)."""
    import contextlib
    import json as _json
    import os
    import signal
    import subprocess
    import sys
    import time

    repo = str(Path(__file__).resolve().parent.parent)
    out = tmp_path / "killed"
    cmd = [sys.executable, f"{repo}/jobs/run_pipeline.py",
           "--synthetic", "300", "--out", str(out)]
    parsed_done, graph_done = out / "parsed" / "_DONE", out / "graph" / "_DONE"
    p = subprocess.Popen(cmd, stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL,
                         start_new_session=True)
    try:
        deadline = time.monotonic() + 420
        while not parsed_done.exists():
            assert p.poll() is None, f"first run exited ({p.returncode}) before parsed was done"
            assert time.monotonic() < deadline, "parsed stage not done within 420 s"
            time.sleep(0.02)
    finally:
        with contextlib.suppress(ProcessLookupError):
            os.killpg(p.pid, signal.SIGKILL)
        p.wait()
    if graph_done.exists():
        pytest.fail("the first run finished its graph stage before the kill "
                    "landed, so this run did not test a resume")
    parsed_lineage = (out / "_lineage" / "parsed.json").read_bytes()

    r = subprocess.run(cmd, capture_output=True, text=True, timeout=420)
    assert r.returncode == 0, r.stderr[-2000:]
    # resumed from the marker: the parsed stage was not written again
    assert (out / "_lineage" / "parsed.json").read_bytes() == parsed_lineage

    def graph_lineage(d):
        row = _json.loads((d / "_lineage" / "graph.json").read_text())
        return row["rows"], row["value_hash"]

    assert graph_lineage(out) == graph_lineage(synthetic_out[0])


# Two Pipeline.run calls in one session, counting Janino compilations
# around each; prints the two counts as a JSON list.
_COMPILE_PROBE = """
import json, sys
sys.path.insert(0, sys.argv[1])
from xmltoldmigration_spark.plans.pipeline import Pipeline
from xmltoldmigration_spark.session import get_spark
from xmltoldmigration_spark.sources import corpus

spark = get_spark("codegen-probe", master="local[4]", shuffle_partitions=8)
compiled = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()
counts = []
for i in range(2):
    src = corpus.load_synthetic_src(spark, 300, seed=42)
    before = compiled.getCount()
    Pipeline(spark, f"{sys.argv[2]}/run{i}").run(src, resume=False)
    counts.append(compiled.getCount() - before)
print(json.dumps(counts))
spark.stop()
"""


def test_second_run_reuses_generated_classes(tmp_path):
    """A repeated kg run compiles less than a fifth of the classes the
    first run compiles: the session's codegen cache holds the chain's
    working set of about 146 generated classes.  At Spark's default of
    100 entries both runs compile about as many (145, then 136).  With
    the cache sized the second run compiled 6 to 16: AQE can still pick
    a plan the first run did not, so the bound leaves room for that.
    Runs in a fresh JVM,
    because this test session's cache already holds the pipeline's
    classes from earlier tests, and the cache size is fixed by the first
    session a JVM builds."""
    import json as _json
    import os
    import subprocess
    import sys

    repo = str(Path(__file__).resolve().parent.parent)
    env = {**os.environ, "SPARK_GRAFT_DRIVER_MEM": "2g"}
    r = subprocess.run([sys.executable, "-c", _COMPILE_PROBE, repo, str(tmp_path)],
                       capture_output=True, text=True, timeout=420, cwd=tmp_path, env=env)
    assert r.returncode == 0, r.stderr[-2000:]
    first, second = _json.loads(r.stdout.strip().splitlines()[-1])
    assert second < first / 5, f"compiled {first} classes, then {second}"


def test_transfer_to_parsed_matches_driver_expansion(spark):
    """A CSV transfer run through Spark (workers call the transfer's
    resources_from_line) yields exactly the rows of the same expansion
    done on the driver."""
    from collections import Counter

    from xmltoldmigration_spark.kg.common import Ctx
    from xmltoldmigration_spark.kg.parse import PARSED_COLS, emitter_rows
    from xmltoldmigration_spark.kg.transfers import femc
    from xmltoldmigration_spark.kg.transfers.spark import transfer_to_parsed

    line = ["WA1FEMC0001", "km title", "twktt title", "", "", "T1KG123", "LangKm"]
    df = spark.createDataFrame([tuple(line)], [f"c{i}" for i in range(len(line))])
    parsed = transfer_to_parsed(df, "femc")
    assert parsed.columns == PARSED_COLS
    ctx = Ctx(one_direction=False, prefer_many=False)
    want = Counter(emitter_rows(femc.resources_from_line(line, ctx), ctx.result.symmetric))
    assert Counter(tuple(r) for r in parsed.collect()) == want
    assert sum(want.values()) > 5


def test_ivf_topk_recall_and_determinism(spark):
    """IVF probing (the second ANN scale path): deterministic across runs
    (seeded quantizer + sorted-order Lloyd means + id tie-breaks) and
    recall >= 0.6 vs brute force at n_probe=8/16 on embeddings with no
    planted cluster structure (the hard case for IVF)."""
    from xmltoldmigration_spark.operators.similarity import (
        brute_force_topk,
        ivf_topk,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    qs = emb.filter(F.col("vec_id") < 10)
    bf = {(r.query_id, r.neighbor_id) for r in brute_force_topk(emb, qs, k=5).collect()}
    a = {(r.query_id, r.neighbor_id, r.rk)
         for r in ivf_topk(emb, qs, k=5, n_centroids=16, n_probe=8).collect()}
    b = {(r.query_id, r.neighbor_id, r.rk)
         for r in ivf_topk(emb, qs, k=5, n_centroids=16, n_probe=8).collect()}
    assert a == b
    pairs = {(q, n) for q, n, _ in a}
    recall = len(pairs & bf) / len(bf)
    print(f"ivf recall@5 (n_probe=8/16): {recall:.3f}")
    assert recall >= 0.6


def test_ann_parameter_edges(spark):
    """ivf_topk clamps n_probe to the quantizer size instead of crashing
    on mismatched probe arrays; lsh_bucket_topk's Hamming-distance-2
    probing scans a strict superset of the distance-1 buckets, so its
    result set recall can only grow."""
    from xmltoldmigration_spark.operators.similarity import (
        brute_force_topk,
        ivf_topk,
        lsh_bucket_topk,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    qs = emb.filter(F.col("vec_id") < 10)
    assert ivf_topk(emb, qs.filter(F.col("vec_id") < 3),
                    k=5, n_centroids=8, n_probe=16).count() == 15
    bf = {(r.query_id, r.neighbor_id)
          for r in brute_force_topk(emb, qs, k=5).collect()}
    r1 = {(r.query_id, r.neighbor_id)
          for r in lsh_bucket_topk(emb, qs, k=5, n_flip=1).collect()}
    r2 = {(r.query_id, r.neighbor_id)
          for r in lsh_bucket_topk(emb, qs, k=5, n_flip=2).collect()}
    assert len(r2 & bf) >= len(r1 & bf)


def test_exact_cosine_pairs_block_invariance(spark):
    """The blocked all-pairs result must not depend on the block grid:
    identical pair sets at rows_per_block 64 (many block pairs) and 4096
    (single block), and no group ever holds more than 2*rows_per_block
    rows (the bounded-memory contract that replaced whole-block
    collect_list rows)."""
    from xmltoldmigration_spark.operators.similarity import exact_cosine_pairs

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    a = {(r.id_a, r.id_b, r.cos_sim)
         for r in exact_cosine_pairs(emb, 0.4, rows_per_block=64).collect()}
    b = {(r.id_a, r.id_b, r.cos_sim)
         for r in exact_cosine_pairs(emb, 0.4, rows_per_block=4096).collect()}
    assert a == b and len(a) > 0


def test_lsh_bucket_topk_recall(spark):
    """Hyperplane-LSH buckets (the first ANN scale path): recall floor vs
    brute force at sf0.01.  8 planes / 256 buckets over 500 vectors is an
    aggressive partition (avg <2 vectors/bucket) so the floor is modest;
    the operator trades recall for a 1/buckets scan fraction."""
    from xmltoldmigration_spark.operators.similarity import (
        brute_force_topk,
        lsh_bucket_topk,
    )

    emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    qs = emb.filter(F.col("vec_id") < 10)
    bf = {(r.query_id, r.neighbor_id) for r in brute_force_topk(emb, qs, k=5).collect()}
    got = {(r.query_id, r.neighbor_id)
           for r in lsh_bucket_topk(emb, qs, k=5, n_planes=4).collect()}
    recall = len(got & bf) / len(bf)
    print(f"lsh recall@5 (n_planes=4/16 buckets): {recall:.3f}")
    assert recall >= 0.3


def test_lsh_or_amplified_recall_floor(spark):
    """OR-amplification contract (the 100 TB recall lever): the shipped
    ann_lsh_bucketed config (112 tables x 14 planes, Hamming-1 probe)
    must reach recall >= 0.6 vs brute force while scanning <= 15% of the
    query-corpus pairs — measured on the structure-free sf0.01
    embeddings, where single-table multi-probe topped out at 0.33 for
    14.5% scan and the round-4 32x12 config at 0.52 for 12.7%.
    Deterministic: fixed md5-seeded planes, fixed data."""
    from xmltoldmigration_spark.operators.similarity import (
        brute_force_topk,
        lsh_bucket_topk,
        lsh_candidates,
    )

    emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    n_corpus = emb.count()
    qs = emb.filter(F.col("vec_id") < 10)
    nq = qs.count()
    cfg = dict(n_planes=14, n_flip=1, n_tables=112)
    n_cand = lsh_candidates(emb, qs, **cfg).count()
    scan = n_cand / ((n_corpus - 1) * nq)
    bf = {(r.query_id, r.neighbor_id) for r in brute_force_topk(emb, qs, k=5).collect()}
    got = {(r.query_id, r.neighbor_id)
           for r in lsh_bucket_topk(emb, qs, k=5, **cfg).collect()}
    recall = len(got & bf) / len(bf)
    print(f"or-amplified lsh: recall@5={recall:.3f} scan={scan:.3f}")
    assert scan <= 0.15
    assert recall >= 0.6
