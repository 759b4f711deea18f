#!/usr/bin/env python3
"""Re-capture the event-log fixture of test_eventlog.py.

    python3 perfbench/tests/capture_eventlog.py

Runs the KG pipeline over a 200-record synthetic corpus at local[4] (the
side tables run beside the graph write from 4 cores up) with
the uncompressed event log on, then writes to perfbench/tests/data/:

* eventlog/eventlog_v2_capture/events_1_capture: the events the folder
  reads, cut down to the fields it reads;
* lineage.json: Pipeline.lineage() of the same run.

Absolute paths are rewritten under the placeholder root /kg, so the
fixture does not depend on where it was captured.
"""

from __future__ import annotations

import json
import re
import shutil
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parents[2]
sys.path.insert(0, str(ROOT))

DATA = Path(__file__).resolve().parent / "data"
PLACEHOLDER = "/kg"
_SQL = "org.apache.spark.sql.execution.ui."


def _trim(e: dict) -> dict | None:
    kind = e["Event"]
    if kind == _SQL + "SparkListenerSQLExecutionStart":
        m = re.search(r"\(\d+\) Execute InsertIntoHadoopFsRelationCommand\n.*?Arguments: [^\n]*",
                      e["physicalPlanDescription"], re.S)
        return {"Event": kind, "executionId": e["executionId"],
                "rootExecutionId": e["rootExecutionId"], "time": e["time"],
                "physicalPlanDescription": m.group(0) if m else ""}
    if kind == _SQL + "SparkListenerSQLExecutionEnd":
        return {"Event": kind, "executionId": e["executionId"], "time": e["time"]}
    if kind == "SparkListenerJobStart":
        props = {k: v for k, v in e["Properties"].items() if k == "spark.sql.execution.id"}
        return {"Event": kind, "Job ID": e["Job ID"], "Submission Time": e["Submission Time"],
                "Stage IDs": e["Stage IDs"], "Properties": props}
    if kind == "SparkListenerStageSubmitted":
        info = e["Stage Info"]
        return {"Event": kind, "Stage Info": {"Stage ID": info["Stage ID"],
                                              "Submission Time": info["Submission Time"]}}
    if kind == "SparkListenerTaskEnd" and e.get("Task Metrics"):
        m = e["Task Metrics"]
        keep = ("Executor Run Time", "Executor CPU Time", "JVM GC Time", "Disk Bytes Spilled")
        return {"Event": kind, "Stage ID": e["Stage ID"],
                "Task Info": {"Launch Time": e["Task Info"]["Launch Time"]},
                "Task Metrics": {**{k: m[k] for k in keep},
                                 "Shuffle Write Metrics": {"Shuffle Bytes Written":
                                     m["Shuffle Write Metrics"]["Shuffle Bytes Written"]},
                                 "Output Metrics": m["Output Metrics"]}}
    return None


def main() -> None:
    from perfbench.eventlog import log_files
    from xmltoldmigration_spark.plans.pipeline import Pipeline
    from xmltoldmigration_spark.session import get_spark
    from xmltoldmigration_spark.sources.corpus import load_synthetic_src

    work = (ROOT / ".perfbench_work" / "capture").resolve()
    shutil.rmtree(work, ignore_errors=True)
    (work / "eventlog").mkdir(parents=True)
    spark = get_spark(app_name="capture", master="local[4]", shuffle_partitions=4, extra_conf={
        "spark.eventLog.enabled": "true", "spark.eventLog.compress": "false",
        "spark.eventLog.dir": (work / "eventlog").as_uri()})
    try:
        load_synthetic_src(spark, 200, num_partitions=2).write.parquet(str(work / "src"))
        pipe = Pipeline(spark, str(work / "out"))
        pipe.run(spark.read.parquet(str(work / "src")), resume=False)
        lineage = [{k: v for k, v in r.items() if k != "partitions"} for r in pipe.lineage()]
    finally:
        spark.stop()

    shutil.rmtree(DATA, ignore_errors=True)
    app = DATA / "eventlog" / "eventlog_v2_capture"
    app.mkdir(parents=True)
    with open(app / "events_1_capture", "w") as out:
        for path in log_files(work / "eventlog"):
            for line in open(path):
                e = _trim(json.loads(line))
                if e is not None:
                    out.write(json.dumps(e).replace(str(work), PLACEHOLDER) + "\n")
    (DATA / "lineage.json").write_text(json.dumps(
        {"out_root": f"{PLACEHOLDER}/out", "stages": lineage}, indent=1) + "\n")
    shutil.rmtree(work)


if __name__ == "__main__":
    main()
