"""Every session the engine builds carries ``session.ENGINE_CONF``."""

from __future__ import annotations

import json
import subprocess
import sys
from pathlib import Path

from xmltoldmigration_spark.session import ENGINE_CONF

REPO = Path(__file__).resolve().parent.parent


def test_spark_fixture_carries_engine_conf(spark):
    got = {k: spark.conf.get(k, None) for k in ENGINE_CONF}
    assert got == ENGINE_CONF


# Runs jobs/run_pipeline.py as __main__ with Pipeline.run replaced by a
# probe that prints the session's ENGINE_CONF values and exits, so the
# session under test is the one the job itself builds.
_CLI_PROBE = """
import json, runpy, sys
sys.path.insert(0, sys.argv[1])
from xmltoldmigration_spark.plans import pipeline
from xmltoldmigration_spark.session import ENGINE_CONF

def probe(self, src, **kw):
    print(json.dumps({k: self.spark.conf.get(k, None) for k in ENGINE_CONF}))
    sys.exit(0)

pipeline.Pipeline.run = probe
job = sys.argv[1] + "/jobs/run_pipeline.py"
sys.argv = [job, "--synthetic", "10", "--out", sys.argv[2]]
runpy.run_path(job, run_name="__main__")
"""


def test_run_pipeline_session_carries_engine_conf(tmp_path):
    """The spark-submit job's session gets the same settings.  A static
    conf such as the codegen cache size takes effect only in a new JVM,
    so this runs in a fresh process."""
    r = subprocess.run(
        [sys.executable, "-c", _CLI_PROBE, str(REPO), str(tmp_path / "out")],
        capture_output=True, text=True, timeout=300, cwd=tmp_path,
    )
    assert r.returncode == 0, r.stderr[-2000:]
    assert json.loads(r.stdout.strip().splitlines()[-1]) == ENGINE_CONF
