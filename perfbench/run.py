#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload kg_build --seed 1 --seconds 10 --trace 0

Workloads: kg_build, kg_relink, queries_headline (see METHOD.md).  The
last line of standard output is one JSON object
{"correct", "attempted", "failed", "metrics"}: the end-to-end metrics with
--trace 0, the per-layer metrics with --trace 1.  The line before it is a
JSON report with the run context, the set-up breakdown, every iteration
and every output check.  Scratch files go under .perfbench_work/ at the
root of the checkout.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(ROOT))

SETUP_REPS = 3
DRIVER_MEM = "2g"


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=["kg_build", "kg_relink", "queries_headline"])
    ap.add_argument("--seed", type=int, default=42)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    return ap.parse_args(argv)


def host_fit(work: Path) -> dict[str, str]:
    """Size the session to this host instead of the library's defaults
    (a 16g driver, every core): all cores this process may use, a 2g
    driver, and the scratch space of Spark, Python and every JVM (the
    launcher's too) inside the work directory."""
    env = {
        "SPARK_GRAFT_CPUS": str(len(os.sched_getaffinity(0))),
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        "SPARK_LOCAL_DIRS": str(work / "spark-local"),
        "TMPDIR": str(work / "tmp"),
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={work / 'tmp'} -XX:-UsePerfData",
    }
    for key in ("SPARK_LOCAL_DIRS", "TMPDIR"):
        Path(env[key]).mkdir(parents=True, exist_ok=True)
    os.environ.update(env)
    return env


def source_digest() -> str:
    files = sorted(ROOT.glob("xmltoldmigration_spark/**/*.py")) + [
        ROOT / "bench.py", ROOT / "__spark_entry__.py"]
    h = hashlib.sha1()
    for p in files:
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()


def git_commit() -> str | None:
    try:
        out = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                             text=True, timeout=10)
    except (OSError, subprocess.SubprocessError):
        return None
    return out.stdout.strip() if out.returncode == 0 else None


def run_context() -> dict:
    """Inputs and host state a result depends on, so that runs which
    differ in them are never compared as if they were the same."""
    from tools.cpu_control import single
    from xmltoldmigration_spark.kg import authority

    auth = authority.get_authority()
    return {
        "nproc": len(os.sched_getaffinity(0)),
        "git_commit": git_commit(),
        "source_sha1": source_digest(),
        "reference_resources": str(authority.RESOURCES),
        "reference_present": authority.RESOURCES.exists(),
        "authority_rows": {k: len(v) for k, v in vars(auth).items()
                           if isinstance(v, (dict, set))},
        "cpu_control_s_before": single(),
    }


def start_session(work: Path, trace: bool):
    from xmltoldmigration_spark.session import get_spark

    conf = {}
    if trace:
        (work / "eventlog").mkdir()
        conf = {
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": (work / "eventlog").as_uri(),
            "spark.eventLog.compress": "false",
        }
    return get_spark(app_name="perfbench", extra_conf=conf)


def stop_session(spark) -> None:
    """Stop Spark, then end the JVM PySpark launched (it exits when its
    stdin closes) and wait until it and its Python workers are gone."""
    from pyspark import SparkContext

    from perfbench import proc

    children = [p for p in proc.tree() if p != os.getpid()]
    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        gateway.proc.stdin.close()
        try:
            gateway.proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            gateway.proc.kill()
            gateway.proc.wait()
    proc.wait_gone(children, timeout_s=60)


def timed(fn) -> float:
    t0 = time.perf_counter()
    fn()
    return time.perf_counter() - t0


class Tally:
    """Attempts, failures, and what went wrong in each failure."""

    def __init__(self) -> None:
        self.attempted = self.failed = 0
        self.problems: dict[str, list[str]] = {}

    def record(self, what: str, problems: list[str]) -> None:
        self.attempted += 1
        if problems:
            self.failed += 1
            self.problems[what] = problems


def measure(wl, seconds: float, tally: Tally) -> dict:
    """Warm-up iteration, then timed iterations for `seconds` (at least
    one).  A failed iteration is counted and the loop goes on; after three
    failures with no success it gives up.  Only iterations that completed
    are timed."""
    from perfbench import proc

    t0 = time.perf_counter()
    rows, found = wl.iterate(0)
    out = {"warmup_s": time.perf_counter() - t0, "walls_s": [], "cpus_s": [], "rows": rows,
           "timed_iterations": []}
    tally.record("iteration 0", found)
    deadline = time.perf_counter() + seconds
    i = 0
    while (i < 3 and not out["walls_s"]) or time.perf_counter() < deadline:
        i += 1
        c0, t0 = proc.cpu_s(), time.perf_counter()
        try:
            rows, found = wl.iterate(i)
        except Exception:  # noqa: BLE001 - a failed iteration is counted, not fatal
            tally.record(f"iteration {i}", [traceback.format_exc(limit=3)])
            continue
        out["walls_s"].append(time.perf_counter() - t0)
        out["cpus_s"].append(proc.cpu_s() - c0)
        out["rows"] = rows
        out["timed_iterations"].append(i)
        tally.record(f"iteration {i}", found)
    return out


def probe_layers(spark, wl, seed: int, spans, setup_reps: list[float]) -> dict[str, float]:
    """Per-layer numbers taken outside the timed loop of a traced run."""
    from perfbench import layers

    out: dict[str, float] = {}
    if "parse" in wl.layers:
        out.update(layers.parse_probe(spark, wl.src, spans))
    if "migrators" in wl.layers:
        out.update(layers.migrators_probe(seed))
    if "corpus" in wl.layers:
        out.update({"corpus.records": wl.src.count(), "corpus.src_mb": wl.src_mb,
                    "corpus.gen_s": statistics.median(setup_reps)})
    return out


def main(argv=None) -> int:
    args = parse_args(argv)
    try:
        import bench  # noqa: F401  (the headline query list lives there)
        import xmltoldmigration_spark  # noqa: F401
    except ImportError as exc:
        print(f"perfbench: the program is not in this checkout ({exc})", file=sys.stderr)
        return 2
    from perfbench import layers, proc
    from perfbench.spans import Spans
    from perfbench.workloads import WORKLOADS
    from tools.cpu_control import single

    work = ROOT / ".perfbench_work" / args.workload
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    report = {"workload": args.workload, "seed": args.seed, "trace": args.trace,
              "host_fit": host_fit(work), "context": run_context()}
    spans, tally, probes = Spans(), Tally(), {}

    with proc.RssSampler() as rss:
        with spans.span("session.get_spark"):
            t0 = time.perf_counter()
            spark = start_session(work, args.trace)
            session_s = time.perf_counter() - t0
        try:
            wl = WORKLOADS[args.workload](spark, args.seed, work, spans)
            setup_reps = [timed(wl.setup) for _ in range(SETUP_REPS)]
            prepare_s = timed(wl.prepare)
            run = measure(wl, args.seconds, tally)
            if hasattr(wl, "check"):
                for name, found in wl.check().items():
                    tally.record(f"check {name}", found)
            if args.trace:
                probes = probe_layers(spark, wl, args.seed, spans, setup_reps)
        finally:
            stop_session(spark)
    report["context"]["cpu_control_s_after"] = single()
    report.update({"setup": {"session_s": session_s, "setup_reps_s": setup_reps,
                             "prepare_s": prepare_s, "warmup_s": run["warmup_s"]},
                   **run, "fail_ratio": tally.failed / tally.attempted,
                   "problems": tally.problems})
    spans.write(work / "spans.json")
    (work / "report.json").write_text(json.dumps(report, default=str, indent=1))
    for name in ("src", "tables", "kg", "spark-local", "tmp"):
        shutil.rmtree(work / name, ignore_errors=True)
    if not run["walls_s"]:
        print("perfbench: every timed iteration failed; see report.json", file=sys.stderr)
        return 1

    wall_s = statistics.median(run["walls_s"])
    if args.trace:
        values = layers.fold(work / "eventlog", spans, wl, probes,
                             {"session.start_s": session_s, "trace.wall_s": wall_s},
                             run["timed_iterations"])
        metrics = {k: {"value": values[k], "unit": u} for k, u in layers.spec()}
    else:
        setup_s = session_s + statistics.median(setup_reps) + prepare_s + run["warmup_s"]
        metrics = {
            "setup_s": {"value": setup_s, "unit": "s"},
            "wall_s": {"value": wall_s, "unit": "s"},
            "rows_per_s": {"value": run["rows"] / wall_s, "unit": "rows/s"},
            "cpu_s": {"value": statistics.median(run["cpus_s"]), "unit": "s"},
            "peak_rss_mb": {"value": rss.peak_mb, "unit": "MB"},
        }
    print(json.dumps(report, default=str))
    print(json.dumps({"correct": tally.failed == 0, "attempted": tally.attempted,
                      "failed": tally.failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
