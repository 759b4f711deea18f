"""BENCHMARK.json lists exactly the per-layer metrics a traced run emits."""

from __future__ import annotations

import json
from pathlib import Path

from perfbench import layers

ROOT = Path(__file__).resolve().parents[2]


def test_per_layer_metrics_match_the_traced_run():
    listed = json.loads((ROOT / "BENCHMARK.json").read_text())["per_layer"]
    assert [(m["name"], m["unit"]) for m in listed] == layers.spec()
    assert len(listed) <= 128
