"""Plan-quality audit over every queries() entry.

Walks the full registry at a small scale factor, captures each query's
physical plan, and extracts the scale-relevant facts:

- shuffle exchange count, every partitioning kind (every one is a
  full-data network pass at 100 TB)
- broadcast exchange count (fine for dims, a driver OOM for data-derived
  sides — those are listed with their build-side row source)
- cartesian products / broadcast nested-loop joins (quadratic unless the
  build side is a literal dim; anything else fails the audit)
- parquet scans with their ReadSchema width and PushedFilters, so a scan
  reading columns the query never uses, or a filter that failed to push,
  shows up as a diff in the committed snapshot

Output: one JSON line per query to `.plan_audit.json` (committed), so a
plan regression — a new shuffle, a lost pushdown, a join strategy flip —
appears in `git diff` at the round boundary, the same way the golden
fixtures pin values.

Usage: python tools/plan_audit.py [sf_dir]   (default SF_DIR, sf0.001)
"""

from __future__ import annotations

import json
import re
import sys
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

OUT = REPO / ".plan_audit.json"
# the one scale both this snapshot and its pytest gate
# (test_no_quadratic_joins_in_any_plan) compile at
SF_DIR = "/root/testdata/sf0.001"

# queries whose BroadcastNestedLoopJoin build side is a literal/tiny dim
# (a prop-inverse table of a handful of rows), which is the intended plan
_BNLJ_OK = {
    "a1_symmetric_completion",  # 1-row {linkedTo: linkedFrom} prop table
    "a1_one_direction_normalize",  # 1-row {teacherOf: studentOf} prop table
}

# streaming / stateful queries execute through writeStream, not a single
# batch plan; their plan facts are covered by the streaming tests
_SKIP = {"stream_stateful_sessionization"}


def _read_cols(schema: str) -> int:
    """Columns in a ReadSchema struct body.  Plan strings truncate long
    field lists to '..., ... N more fields', so those N count too."""
    more = re.search(r"\.\.\. (\d+) more fields", schema)
    return schema.count(":") + (int(more.group(1)) if more else 0)


def audit_plan(plan: str) -> dict:
    return {
        # every partitioning (hash, range, single, round-robin) is a full
        # network pass; \b keeps BroadcastExchange out
        "shuffle_exchanges": len(re.findall(r"\bExchange ", plan)),
        "broadcast_exchanges": plan.count("BroadcastExchange"),
        "cartesian": plan.count("CartesianProduct"),
        "bnlj": plan.count("BroadcastNestedLoopJoin"),
        "scans": [
            {
                "file": (fm.group(1).rsplit("/", 1)[-1] if fm else "?"),
                "read_cols": (_read_cols(sm.group(1)) if sm else -1),
            }
            for line in plan.splitlines()
            if "FileScan parquet" in line
            for fm in [re.search(r"\[file:([^,\]]+)", line)]
            for sm in [re.search(r"ReadSchema: struct<([^>]*)>", line)]
        ],
        "pushed_filters": len(re.findall(r"PushedFilters: \[[^\]]", plan)),
    }


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else SF_DIR
    from xmltoldmigration_spark.queries import registry
    from xmltoldmigration_spark.session import get_spark

    spark = get_spark(app_name="plan-audit", master="local[8]", shuffle_partitions=8)
    results: dict[str, dict] = {}
    failures: list[str] = []
    for name, spec in sorted(registry().items()):
        if name in _SKIP:
            continue
        df = spec.fn(spark, sf_dir)
        plan = df._jdf.queryExecution().executedPlan().toString()
        facts = audit_plan(plan)
        results[name] = facts
        if facts["cartesian"]:
            failures.append(f"{name}: CartesianProduct in plan")
        if facts["bnlj"] and name not in _BNLJ_OK:
            failures.append(f"{name}: BroadcastNestedLoopJoin outside allowlist")
    spark.stop()

    OUT.write_text(
        json.dumps({"sf_dir": sf_dir, "queries": results}, indent=1, sort_keys=True) + "\n"
    )
    total_shuffles = sum(r["shuffle_exchanges"] for r in results.values())
    print(f"{len(results)} queries audited -> {OUT}")
    print(f"total shuffle exchanges: {total_shuffles}")
    for f in failures:
        print("FAIL:", f)
    if failures:
        sys.exit(1)


if __name__ == "__main__":
    main()
