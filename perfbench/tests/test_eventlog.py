"""The event-log folder against a small captured pipeline run.

Run with `python -m pytest perfbench/tests`; re-capture the fixture with
perfbench/tests/capture_eventlog.py.
"""

from __future__ import annotations

import json
import math
from pathlib import Path

import pytest

from perfbench import eventlog

DATA = Path(__file__).resolve().parent / "data"
WRITTEN = {"parsed", "graph", "errors", "dangling", "conflicts"}


@pytest.fixture(scope="module")
def log():
    return eventlog.load(DATA / "eventlog")


@pytest.fixture(scope="module")
def lineage():
    return json.loads((DATA / "lineage.json").read_text())


@pytest.fixture(scope="module")
def stages(log, lineage):
    return eventlog.fold_by_output(log, lineage["out_root"], 0, math.inf)


def test_executions_are_named_by_output_directory(stages):
    # the corpus write goes outside the pipeline's root and is left out;
    # the graph-list checkpoint is the one execution that writes nothing
    assert set(stages) == WRITTEN | {""}
    assert stages[""]["rows_written"] == 0


def test_rows_written_per_stage_equal_lineage(stages, lineage):
    rows = {r["stage"]: r["rows"] for r in lineage["stages"]}
    assert {s: stages[s]["rows_written"] for s in WRITTEN} == {s: rows[s] for s in WRITTEN}


def test_stage_totals_fit_inside_the_whole_window(log, stages):
    whole = eventlog.fold_window(log, 0, math.inf)
    assert sum(s["task_s"] for s in stages.values()) <= whole["task_s"] + 1e-9
    assert sum(s["jobs"] for s in stages.values()) <= whole["jobs"]
    for s in stages.values():
        assert s["wall_s"] > 0 and s["jobs"] >= 1
        assert 0 <= s["jvm_cpu_s"] and 0 <= s["core_wait_s"]


def test_graph_stage_shuffles_and_side_stages_run_beside_it(log, stages):
    assert stages["graph"]["shuffle_write_mb"] > 0
    graph = next(x for x in log.executions.values()
                 if x.out_path and x.out_path.endswith("/graph"))
    sides = [x for x in log.executions.values()
             if x.out_path and x.out_path.rsplit("/", 1)[-1] in {"errors", "dangling", "conflicts"}]
    assert any(x.start < graph.end and graph.start < x.end for x in sides)


def test_driver_time_is_the_uncovered_part_of_a_window(log):
    starts = [x.start for x in log.executions.values()]
    ends = [x.end for x in log.executions.values()]
    t0, t1 = min(starts) - 1.0, max(ends) + 2.0
    d = eventlog.driver_s(log, t0, t1)
    assert 3.0 - 1e-6 <= d < t1 - t0


def test_union_of_intervals():
    assert eventlog._union_s([(0, 2), (1, 3), (5, 6)]) == 4
    assert eventlog._union_s([]) == 0
