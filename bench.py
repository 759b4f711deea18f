#!/usr/bin/env python
"""Measure the engine: headline queries, kg throughput, N -> 4N scaling.

    python bench.py [headline]       # kg best-of-2, then the HEADLINE queries
    python bench.py kg [--n N]       # one kg run (also one scaling leg)
    python bench.py scaling [--n N]  # fresh-JVM kg legs at 4N, N, 4N cores

Each prints ONE JSON line.  Inputs: the tables at $SPARK_GRAFT_SF_DIR
(default sf0.1) and local[$SPARK_GRAFT_CPUS] (default: the cores this
process may use).  `--n` is the kg corpus size; its default follows the
scale factor.  Every run carries its host window: a single-core control
before and after (`host_ctl_s`) and a parallel memory-streaming control
(`mem_ctl_s`), because this VM's speed swings with hypervisor load and
cross-run comparisons must normalize by both (BENCH.md).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import tempfile
import time
from pathlib import Path

REPO = Path(__file__).resolve().parent
sys.path.insert(0, str(REPO))

from tools.cpu_control import parallel, single  # noqa: E402
from xmltoldmigration_spark.session import local_cores  # noqa: E402
from xmltoldmigration_spark.tables import DEFAULT_SF_DIR as SF_DIR  # noqa: E402

HOST_CPUS = len(os.sched_getaffinity(0))

SF = SF_DIR.rstrip("/").rsplit("sf", 1)[-1]
# kg corpus records per scale factor of the tables dir
KG_RECORDS = {"0.001": 300, "0.01": 3000, "0.1": 50000}.get(SF, 3000)

# scale-meaningful subset (dedup_ngram_jaccard is deliberately excluded at
# sf0.1: the exact inverted-index pair join is the quadratic baseline that
# minhash_lsh exists to replace)
HEADLINE = [
    "q1_pricing_summary",
    "j7_shuffle_join_revenue",
    "j1_redirect_rewrite",
    "a1_symmetric_completion",
    "a2_preflabel_window",
    "window_topk_orders",
    "skew_salted_two_phase_agg",
    "g1_connected_components",
    "g2_representative_rewrite",
    "dedup_exact",
    "dedup_minhash_lsh",
    "dedup_simhash",
    "ann_cosine_topk",
    "ann_lsh_bucketed",
    "text_token_count",
    "text_quality_score",
    "text_fingerprint",
    "stream_tumbling_window_agg",
    "stream_sessionization",
    "multimodal_binary_metadata",
    "c12_imagelist_rle",
    "dedup_embedding_cosine",
    "stream_stateful_sessionization",
]

_SPLIT_KEY = "spark.sql.files.maxPartitionBytes"


def width(cpus: int) -> int:
    """Shuffle partitions, and half the kg source file count, of a session
    at local[cpus]: sized for the larger of that session and the host, so
    every scaling leg on one host shuffles the same number of partitions
    and scans the same parquet layout."""
    return max(cpus, HOST_CPUS)


def run_queries(spark, names: list[str]) -> dict[str, float]:
    """Seconds per query, each forced end-to-end through the noop sink
    (full computation, no driver-side collect)."""
    from xmltoldmigration_spark.queries import registry

    reg = registry()
    out: dict[str, float] = {}
    for name in names:
        t0 = time.perf_counter()
        reg[name].fn(spark, SF_DIR).write.format("noop").mode("overwrite").save()
        out[name] = round(time.perf_counter() - t0, 3)
    return out


def run_kg(spark, n: int) -> dict:
    """One full Pipeline.run over an n-record synthetic corpus; triples/s.

    The corpus is written as parquet OUTSIDE the timed window and read back
    as a columnar scan: the engine's real input is a table of raw records,
    not an in-job generator.  Parquet splits at file granularity here, so
    the file count floors the parse stage's parallelism; it is 2 * width,
    the same on every scaling leg.  The default 128 MB split would bin a
    bench-sized corpus into a couple of tasks, so splits are sized to one
    file each for this run and restored afterwards (the headline queries
    that follow must see the default scan sizing).  /dev/shm stands in for
    a cluster node's executor-local disk."""
    from xmltoldmigration_spark.plans.pipeline import Pipeline
    from xmltoldmigration_spark.sources.corpus import load_synthetic_src

    n_files = 2 * width(spark.sparkContext.defaultParallelism)
    base = "/dev/shm" if os.path.isdir("/dev/shm") else None
    out = tempfile.mkdtemp(prefix="kgbench_", dir=base)
    src_dir = tempfile.mkdtemp(prefix="kgbenchsrc_", dir=base)
    prev_split = spark.conf.get(_SPLIT_KEY, None)
    try:
        load_synthetic_src(spark, n, num_partitions=n_files).write.mode(
            "overwrite"
        ).parquet(src_dir)
        total = sum(f.stat().st_size for f in Path(src_dir).glob("*.parquet"))
        spark.conf.set(_SPLIT_KEY, str(max(total // n_files, 2**20)))
        src = spark.read.parquet(src_dir)
        t0 = time.perf_counter()
        pipe = Pipeline(spark, out)
        pipe.run(src, resume=False)
        wall = time.perf_counter() - t0
        lineage = pipe.lineage()
    finally:
        try:
            if prev_split is None:
                spark.conf.unset(_SPLIT_KEY)
            else:
                spark.conf.set(_SPLIT_KEY, prev_split)
        except Exception as exc:  # noqa: BLE001 - a failed restore must be visible,
            # not silently leave the session with a tiny scan split
            print(f"WARN: could not restore {_SPLIT_KEY}: {exc!r}", file=sys.stderr)
        shutil.rmtree(out, ignore_errors=True)
        shutil.rmtree(src_dir, ignore_errors=True)
    # the triple count comes from the write's observe() lineage: a count()
    # here would re-scan the table just written
    triples = next(r["rows"] for r in lineage if r["stage"] == "graph")
    return {
        "kg_records": n,
        "kg_triples": triples,
        "kg_wall_s": round(wall, 3),
        "kg_triples_per_s": round(triples / wall, 1),
        # the fused stages have row counts but no wall of their own
        "kg_stage_wall_s": {r["stage"]: r["wall_s"] for r in lineage if "wall_s" in r},
    }


def scaling_efficiency(t_high_before: float, t_low: float, t_high_after: float,
                       low: int, high: int) -> dict:
    """T(high)-T(low)-T(high) sandwich: the low leg is paired with the mean
    of the two high legs around it, so a host window that drifts during
    the run biases neither side."""
    speedup = t_low / ((t_high_before + t_high_after) / 2)
    return {"speedup": round(speedup, 3),
            "scaling_efficiency": round(speedup / (high / low), 3)}


def _mem_ctl(cpus: int) -> float:
    """Mean per-proc seconds of a 128 MB copy loop run cpus-wide.  The
    single-core control misses memory-bandwidth saturation entirely, and
    that is the dimension this VM degrades hardest.  Run after
    spark.stop(): cpus children next to a resident JVM risk the OOM killer
    taking out the bench after its measurements."""
    try:
        return parallel(cpus, mem=True, small=True)["mean"]
    except Exception as exc:  # noqa: BLE001 - the control is context, never a reason to fail
        print(f"WARN: memory control failed: {exc!r}", file=sys.stderr)
        return -1.0


def measured(app: str, body) -> dict:
    """body(spark) in a fresh session at local[local_cores()], bracketed
    by the host controls; returns body's dict plus the controls."""
    from xmltoldmigration_spark.session import get_spark

    ctl_before = single()
    spark = get_spark(app_name=app, shuffle_partitions=width(local_cores()))
    cpus = spark.sparkContext.defaultParallelism
    try:
        result = body(spark)
        ctl_after = single()
    finally:
        spark.stop()
    return {**result, "cpus": cpus, "host_ctl_s": [ctl_before, ctl_after],
            "mem_ctl_s": _mem_ctl(cpus)}


def headline(spark, n: int) -> dict:
    # warm the JVM/parquet footers so per-query numbers measure the queries
    spark.read.parquet(f"{SF_DIR}/lineitem.parquet").count()
    # kg first, before 23 queries churn the JVM heap, and best-of-2: the
    # steady-state number is the one that predicts cluster throughput
    kg = min((run_kg(spark, n) for _ in range(2)), key=lambda r: r["kg_wall_s"])
    del kg["kg_stage_wall_s"]  # reported by `bench.py kg`; the headline keys stay fixed
    t0 = time.perf_counter()
    times = run_queries(spark, HEADLINE)
    return {
        "metric": "headline_queries_total",
        "value": round(time.perf_counter() - t0, 3),
        "unit": "sec",
        "queries": times,
        "sf": float(SF) if SF.replace(".", "").isdigit() else SF,
        **kg,
    }


def scaling(n: int) -> dict:
    """Fresh JVM per leg, so executor-thread count is the only variable:
    the legs share the host-sized shuffle width and parquet layout (see
    width), and all spill to /dev/shm, the stand-in for the executor-local
    NVMe of a cluster node (on one shared virtio disk the write stages
    stop scaling at about 2x, whatever the core count)."""
    if HOST_CPUS < 4:
        sys.exit(f"bench.py scaling: N -> 4N needs 4 cores, this host has {HOST_CPUS}")
    low = HOST_CPUS // 4
    high = 4 * low
    env = dict(os.environ)
    if os.path.isdir("/dev/shm"):
        env.setdefault("SPARK_LOCAL_DIRS", "/dev/shm/spark")
    legs = []
    for cpus in (high, low, high):
        out = subprocess.run(
            [sys.executable, str(REPO / "bench.py"), "kg", "--n", str(n)],
            stdout=subprocess.PIPE, text=True, check=True,
            env={**env, "SPARK_GRAFT_CPUS": str(cpus)},
        )
        legs.append(json.loads(out.stdout.strip().splitlines()[-1]))
    return {
        "kg_records": n,
        "cpus_low": low,
        "cpus_high": high,
        "legs": legs,
        **scaling_efficiency(*(leg["kg_wall_s"] for leg in legs), low=low, high=high),
        "stage_scaling_efficiency": {
            stage: scaling_efficiency(*(leg["kg_stage_wall_s"][stage] for leg in legs),
                                      low=low, high=high)["scaling_efficiency"]
            # the side stages run concurrently with the graph write from
            # 4 cores up, so their walls overlap it and do not scale alone
            for stage in ("parsed", "graph")
        },
    }


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__,
                                 formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("command", nargs="?", default="headline",
                    choices=("headline", "kg", "scaling"))
    ap.add_argument("--n", type=int, default=KG_RECORDS, help="kg corpus records")
    args = ap.parse_args()
    if args.command == "headline":
        result = measured("bench", lambda spark: headline(spark, args.n))
    elif args.command == "kg":
        result = measured("bench-kg", lambda spark: run_kg(spark, args.n))
    else:
        result = scaling(args.n)
    print(json.dumps(result))


if __name__ == "__main__":
    main()
