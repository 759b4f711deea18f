"""bench.py: the scaling arithmetic and the shared kg run."""

from __future__ import annotations

import json
import os
import subprocess

import pytest

import bench
from xmltoldmigration_spark.plans.pipeline import Pipeline
from xmltoldmigration_spark.session import local_cores


def test_scaling_efficiency_matches_recorded_sandwich():
    # the r4 T4-T1-T4 sandwich recorded in .scaling_result.json
    # (headline_pair_matched_window): 4 / 1 / 4 cores
    got = bench.scaling_efficiency(89.076, 299.532, 92.819, low=1, high=4)
    assert got == {"speedup": 3.293, "scaling_efficiency": 0.823}


def test_run_kg_counts_written_graph_and_restores_split(spark, monkeypatch):
    key = "spark.sql.files.maxPartitionBytes"
    spark.conf.set(key, "64m")
    written = []
    run = Pipeline.run

    def counting_run(self, src, **kw):
        final = run(self, src, **kw)
        written.append(final.count())
        return final

    monkeypatch.setattr(Pipeline, "run", counting_run)
    try:
        r = bench.run_kg(spark, 200)
        assert spark.conf.get(key) == "64m"
    finally:
        spark.conf.unset(key)
    assert r["kg_records"] == 200
    assert r["kg_triples"] > 0
    assert {"parsed", "graph"} <= set(r["kg_stage_wall_s"])
    # lineage's observe() count is the number of rows the graph table holds
    assert written == [r["kg_triples"]]


def test_run_kg_restores_unset_split_after_failure(spark, monkeypatch):
    key = "spark.sql.files.maxPartitionBytes"
    spark.conf.unset(key)

    def failing_run(self, src, **kw):
        assert int(spark.conf.get(key)) >= 2**20  # the bench split is in force
        raise RuntimeError("pipeline failed")

    monkeypatch.setattr(Pipeline, "run", failing_run)
    with pytest.raises(RuntimeError, match="pipeline failed"):
        bench.run_kg(spark, 20)
    assert spark.conf.get(key, None) is None


def test_scaling_legs_run_n_4n_with_one_layout(monkeypatch):
    # legs at 4N, N, 4N cores, each spilling to the same local dir and
    # sizing its shuffle and parquet layout from the host, not the leg
    monkeypatch.setattr(bench, "HOST_CPUS", 4)
    monkeypatch.delenv("SPARK_LOCAL_DIRS", raising=False)
    walls = {"4": [10.0, 12.0], "1": [33.0]}
    seen = []

    def fake_leg(cmd, env, **kw):
        cpus = env["SPARK_GRAFT_CPUS"]
        seen.append((cpus, env.get("SPARK_LOCAL_DIRS")))
        t = walls[cpus].pop(0)
        leg = {"kg_wall_s": t,
               "kg_stage_wall_s": {"parsed": t / 2, "graph": t / 2, "errors": 1.0}}
        return subprocess.CompletedProcess(cmd, 0, stdout=json.dumps(leg) + "\n")

    monkeypatch.setattr(bench.subprocess, "run", fake_leg)
    got = bench.scaling(100)
    shm = "/dev/shm/spark" if os.path.isdir("/dev/shm") else None
    assert seen == [("4", shm), ("1", shm), ("4", shm)]
    assert (got["cpus_low"], got["cpus_high"]) == (1, 4)
    assert got["speedup"] == 3.0 and got["scaling_efficiency"] == 0.75
    assert got["stage_scaling_efficiency"] == {"parsed": 0.75, "graph": 0.75}
    assert bench.width(1) == bench.width(4) == bench.HOST_CPUS


def test_scaling_refuses_hosts_without_4n(monkeypatch):
    monkeypatch.setattr(bench, "HOST_CPUS", 3)
    with pytest.raises(SystemExit, match="needs 4 cores"):
        bench.scaling(100)


def test_local_cores_resolves_star_to_usable_cores(monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "*")
    assert local_cores() == len(os.sched_getaffinity(0))
    monkeypatch.delenv("SPARK_GRAFT_CPUS")
    assert local_cores() == len(os.sched_getaffinity(0))
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "3")
    assert local_cores() == 3
