"""KG-pipeline throughput bench (triples/sec) + N-vs-4N scaling probe.

BASELINE.json's metric is triples/sec with >=0.8 throughput scaling
efficiency between N and 4N executors.  In this sandbox the stand-in is
the same job at local[8] vs local[32] (per the driver instruction): the
corpus is deterministic and identical at both parallelism levels
(sources/corpus.py), so the ratio measures the engine, not the data.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import tempfile
import time
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent.parent

# records per benchmark corpus keyed by scale factor of the driver dir
_N_BY_SF = {"0.001": 300, "0.01": 3000, "0.1": 50000}


def corpus_size_for(sf_dir: str) -> int:
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    return _N_BY_SF.get(sf, 3000)


def bench_kg_pipeline(spark, n: int | None = None) -> dict:
    """Run the full pipeline over the synthetic corpus; report triples/sec."""
    from xmltoldmigration_spark.plans.pipeline import Pipeline
    from xmltoldmigration_spark.sources.corpus import load_synthetic_src

    n = n or corpus_size_for(os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    # RAM-disk output: the single-box stand-in for executor-local NVMe,
    # same as the scaling probe
    out_base = "/dev/shm" if os.path.isdir("/dev/shm") else None
    out = tempfile.mkdtemp(prefix="kgbench_", dir=out_base)
    src_dir = tempfile.mkdtemp(prefix="kgbenchsrc_", dir=out_base)
    prev_split = None  # set below; finally must not NameError on early failure
    try:
        # write the source out OUTSIDE the timed window and read it
        # back as a columnar scan — the engine's real input is a
        # parquet/Iceberg table of raw records, not an in-job generator
        # (same methodology as tools/scaling_bench.py --src parquet).
        # Scan-split sizing: at 100 TB the default 128 MB splits give
        # thousands of parse tasks, but a ~150 MB bench corpus bin-packs
        # into ~2 partitions and the shuffle-free parse stage collapses
        # to 2-wide (measured: 16 s -> 94-113 s at sf0.1/local[32]).
        # Size splits so the scan yields >= 2 tasks per core — this is
        # the knob a real deployment sets per corpus, not a bench hack.
        par = spark.sparkContext.defaultParallelism
        # 2 files per core: parquet effectively splits at row-group (=
        # file, here) granularity, so the file count floors the parse
        # parallelism no matter how small maxPartitionBytes goes
        load_synthetic_src(spark, n, num_partitions=2 * par).write.mode(
            "overwrite"
        ).parquet(src_dir)
        total = sum(f.stat().st_size for f in Path(src_dir).glob("*.parquet"))
        split = max(total // (2 * par), 1 * 1024 * 1024)
        prev_split = spark.conf.get("spark.sql.files.maxPartitionBytes", None)
        spark.conf.set("spark.sql.files.maxPartitionBytes", str(split))
        src = spark.read.parquet(src_dir)
        t0 = time.perf_counter()
        pipe = Pipeline(spark, out)
        pipe.run(src, resume=False)
        # triple count comes from the write's observe() lineage — a
        # count() here would re-scan the table just written
        triples = next(r["rows"] for r in pipe.lineage() if r["stage"] == "graph")
        wall = time.perf_counter() - t0
        return {
            "kg_records": n,
            "kg_triples": triples,
            "kg_wall_s": round(wall, 3),
            "kg_triples_per_s": round(triples / wall, 1),
        }
    finally:
        # restore the split size: the bench session goes on to run the
        # headline queries, which should see the default scan sizing
        try:
            if prev_split is not None:
                spark.conf.set("spark.sql.files.maxPartitionBytes", prev_split)
            else:
                spark.conf.unset("spark.sql.files.maxPartitionBytes")
        except Exception as exc:  # noqa: BLE001 - a failed restore must be visible,
            # not silently leave the session with a tiny scan split
            print(f"WARN: could not restore maxPartitionBytes: {exc!r}", file=sys.stderr)
        shutil.rmtree(out, ignore_errors=True)
        shutil.rmtree(src_dir, ignore_errors=True)


def run_scaling_probe(n: int = 400000, cpus_low: int = 8, cpus_high: int = 32) -> dict:
    """Same job, two parallelism levels, fresh JVM each -> scaling
    efficiency = T(low)/T(high) / (high/low).  Invoked by tools/scaling_bench.py."""
    results = {}
    # both legs scan the identical parquet layout, sized for the high leg
    n_files = max(16, 2 * cpus_high)
    for cpus in (cpus_low, cpus_high):
        cmd = [
            sys.executable,
            str(REPO / "tools" / "scaling_bench.py"),
            "--cpus", str(cpus), "--n", str(n),
            "--n-files", str(n_files),
        ]
        out = subprocess.run(cmd, capture_output=True, text=True, cwd=str(REPO))
        line = out.stdout.strip().splitlines()[-1]
        results[cpus] = json.loads(line)
    low, high = results[cpus_low], results[cpus_high]
    speedup = low["wall_s"] / high["wall_s"]
    efficiency = speedup / (cpus_high / cpus_low)
    return {
        "records": n,
        "cpus_low": cpus_low,
        "cpus_high": cpus_high,
        "wall_s_low": low["wall_s"],
        "wall_s_high": high["wall_s"],
        "triples": high["triples"],
        "throughput_low": round(low["triples"] / low["wall_s"], 1),
        "throughput_high": round(high["triples"] / high["wall_s"], 1),
        "speedup": round(speedup, 3),
        "scaling_efficiency": round(efficiency, 3),
    }
