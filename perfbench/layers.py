"""Per-layer metrics of a traced run.

Sources: the spans the benchmark records around calls into each layer's
public function, and the Spark event log folded by perfbench.eventlog.
A workload reports 0 for a layer it does not call.
"""

from __future__ import annotations

import statistics
import time
import xml.etree.ElementTree as ET
from pathlib import Path

from perfbench import eventlog

PIPELINE_STAGES = ("parsed", "graphs_list", "graph", "errors", "dangling", "conflicts")
STAGE_METRICS = {
    "wall_s": "s", "task_s": "s", "jvm_cpu_s": "s", "gc_s": "s", "core_wait_s": "s",
    "shuffle_write_mb": "MB", "spill_mb": "MB", "output_mb": "MB", "jobs": "count",
}
MODULE_METRICS = {"task_s": "s", "jvm_cpu_s": "s", "shuffle_write_mb": "MB"}
MIGRATOR_SAMPLE = 300


def headline_modules() -> dict[str, str]:
    """Headline query name -> short name of the module that defines it."""
    from perfbench.workloads import headline
    from xmltoldmigration_spark.queries import registry

    reg = registry()
    return {n: reg[n].fn.__module__.rsplit(".", 1)[-1] for n in headline()}


def spec() -> list[tuple[str, str]]:
    """Every per-layer metric as (name, unit), in report order."""
    out = [
        ("session.start_s", "s"),
        ("corpus.gen_s", "s"), ("corpus.records", "count"), ("corpus.src_mb", "MB"),
        ("migrators.etree_cpu_ms_per_record", "ms"),
        ("migrators.migrate_cpu_ms_per_record", "ms"),
        ("migrators.triples_per_record", "count"),
        ("parse.wall_s", "s"), ("parse.task_s", "s"), ("parse.jvm_cpu_s", "s"),
        ("parse.python_s", "s"), ("parse.rows_out", "count"), ("parse.error_rows", "count"),
    ]
    out += [(f"pipeline.{s}.{m}", u) for s in PIPELINE_STAGES for m, u in STAGE_METRICS.items()]
    out += [(f"pipeline.rows.{s}", "count") for s in ("parsed", "linked", "completed", "graph")]
    out += [("pipeline.graph.dedup_kept_ratio", "ratio"),
            ("pipeline.graph.shuffle_bytes_per_triple", "B"),
            ("pipeline.driver_s", "s"), ("pipeline.jobs", "count"),
            ("pipeline.sql_executions", "count")]
    mods = headline_modules()
    out += [(f"queries.{n}.wall_s", "s") for n in mods]
    out += [(f"queries.{m}.{k}", u) for m in dict.fromkeys(mods.values())
            for k, u in MODULE_METRICS.items()]
    out.append(("trace.wall_s", "s"))
    return out


def _median_rows(rows: list[dict]) -> dict[str, float]:
    return {k: statistics.median(r[k] for r in rows) for k in rows[0]} if rows else {}


def migrators_probe(seed: int) -> dict[str, float]:
    """Single-thread, in-process CPU per record over a fixed corpus sample:
    ElementTree alone, and migrate_record minus that ElementTree share
    (migrate_record parses the XML itself)."""
    from xmltoldmigration_spark.kg.common import Ctx
    from xmltoldmigration_spark.kg.migrators import migrate_record
    from xmltoldmigration_spark.sources.corpus import rtype_from_path, synthetic_rows_partition

    sample = [(r[1], r[4]) for r in synthetic_rows_partition(0, MIGRATOR_SAMPLE, seed)]
    passes = []
    for _ in range(3):
        etree = migrate = 0.0
        triples = 0
        for path, content in sample:
            c0 = time.process_time()
            ET.fromstring(content)
            c1 = time.process_time()
            emitters = migrate_record(rtype_from_path(path), content,
                                      Ctx(app_mode=True, src_path=path))
            c2 = time.process_time()
            triples += sum(1 for em in emitters for _ in em.rows())
            etree += c1 - c0
            migrate += (c2 - c1) - (c1 - c0)
        passes.append({"etree": etree, "migrate": migrate, "triples": triples})
    m = _median_rows(passes)
    n = len(sample)
    return {
        "migrators.etree_cpu_ms_per_record": 1000 * m["etree"] / n,
        "migrators.migrate_cpu_ms_per_record": 1000 * m["migrate"] / n,
        "migrators.triples_per_record": m["triples"] / n,
    }


def parse_probe(spark, src, spans) -> dict[str, float]:
    """parse_src(src) forced through the noop sink, rows counted by an
    Observation on the way."""
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    from xmltoldmigration_spark.kg.parse import parse_src

    obs = Observation("perfbench_parse")
    with spans.span("parse.parse_src"):
        parse_src(src).observe(
            obs, F.count(F.lit(1)).alias("rows"),
            F.sum(F.when(F.col("stream") == "error", 1).otherwise(0)).alias("errors"),
        ).write.format("noop").mode("overwrite").save()
    return {"parse.rows_out": obs.get["rows"], "parse.error_rows": obs.get["errors"] or 0}


def fold(log_dir: Path, spans, wl, probes: dict[str, float], base: dict[str, float],
         timed_iterations: list[int]) -> dict[str, float]:
    """All per-layer metrics: probe results and `base` (session, corpus,
    trace walls) plus the event-log folds over the timed iterations."""
    log = eventlog.load(log_dir)
    out = {name: 0.0 for name, _ in spec()}
    out.update(base)
    out.update(probes)
    it = {r["iteration"]: r for r in spans.named("iteration")}

    parse = spans.named("parse.parse_src")
    if parse:
        w = eventlog.fold_window(log, parse[0]["start"], parse[0]["end"])
        out.update({"parse.wall_s": w["wall_s"], "parse.task_s": w["task_s"],
                    "parse.jvm_cpu_s": w["jvm_cpu_s"],
                    "parse.python_s": max(w["task_s"] - w["jvm_cpu_s"], 0.0)})

    if "pipeline" in wl.layers:
        per_iter = []
        for i in timed_iterations:
            t0, t1 = it[i]["start"], it[i]["end"]
            stages = eventlog.fold_by_output(log, wl.out_dirs[i], t0, t1)
            row = {f"pipeline.{'graphs_list' if s == '' else s}.{m}": v[m]
                   for s, v in stages.items() for m in STAGE_METRICS}
            row["pipeline.driver_s"] = eventlog.driver_s(log, t0, t1)
            row["pipeline.jobs"] = eventlog.fold_window(log, t0, t1)["jobs"]
            row["pipeline.sql_executions"] = len(eventlog.executions_in(log, t0, t1))
            per_iter.append(row)
        keys = set().union(*per_iter) if per_iter else set()
        out.update({k: statistics.median(r.get(k, 0.0) for r in per_iter) for k in keys})
        rows = {r["stage"]: r["rows"] for r in wl.lineage}
        for s in ("parsed", "linked", "completed", "graph"):
            out[f"pipeline.rows.{s}"] = rows.get(s, 0)
        if rows.get("completed"):
            out["pipeline.graph.dedup_kept_ratio"] = rows["graph"] / rows["completed"]
        if rows.get("graph"):
            out["pipeline.graph.shuffle_bytes_per_triple"] = (
                out["pipeline.graph.shuffle_write_mb"] * 2**20 / rows["graph"])

    if "queries" in wl.layers:
        mods = headline_modules()
        per_iter = []
        for i in timed_iterations:
            row = {}
            for s in spans.named_in(i, "queries."):
                name = s["name"].split(".", 1)[1]
                w = eventlog.fold_window(log, s["start"], s["end"])
                row[f"queries.{name}.wall_s"] = w["wall_s"]
                for k in MODULE_METRICS:
                    key = f"queries.{mods[name]}.{k}"
                    row[key] = row.get(key, 0.0) + w[k]
            per_iter.append(row)
        out.update(_median_rows(per_iter))
    return out
