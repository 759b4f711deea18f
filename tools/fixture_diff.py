#!/usr/bin/env python
"""Dev harness: run one reference fixture through the migrators and diff
against the golden TTL (no Spark needed).

Usage: python tools/fixture_diff.py P1331 [person] [-v]
"""

from __future__ import annotations

import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from xmltoldmigration_spark import REFERENCE_ROOT
from xmltoldmigration_spark.kg.common import Ctx
from xmltoldmigration_spark.kg.compare import precision_recall
from xmltoldmigration_spark.kg.migrators import migrate_record
from xmltoldmigration_spark.kg.ttl import parse_ttl_file

XML_DIR = REFERENCE_ROOT / "src/test/xml"
TTL_DIR = REFERENCE_ROOT / "src/test/ttl"

TYPE_BY_PREFIX = [
    ("PR", "product"),
    ("P", "person"),
    ("G", "place"),
    ("R", "office"),
    ("C", "corporation"),
    ("L", "lineage"),
    ("T", "topic"),
    ("W", "work"),
    ("O", "outline"),
    ("I", "imagegroup"),
]


def guess_type(name: str) -> str:
    specials = {
        "OfficeTest": "office",
        "CorporationTest": "corporation",
        "TopicTest": "topic",
        "TaxonomyTest": "taxonomy",
        "OutlineTest": "outline",
        "PubinfoTest": "pubinfo",
        "ImagegroupTest": "imagegroup",
        "WorkTestFPL": "work",
        "ScanrequestTest": "scanrequest",
        "EtextTest": "etext",
        "withdrawn-test": "person",
    }
    if name in specials:
        return specials[name]
    for pfx, t in TYPE_BY_PREFIX:
        if name.startswith(pfx):
            return t
    raise ValueError(name)


def run_fixture(name: str, rtype: str | None = None):
    rtype = rtype or guess_type(name)
    content = (XML_DIR / f"{name}.xml").read_text(encoding="utf-8")
    from xmltoldmigration_spark.kg.authority import get_authority

    ctx = Ctx(auth=get_authority().without_clusters())
    emitters = migrate_record(rtype, content, ctx)
    ours = []
    for em in emitters:
        ours.extend((s, p, k, v, lang, dt) for (_, s, p, k, v, lang, dt) in em.rows())
    if rtype == "etext":
        golden = parse_ttl_file(str(TTL_DIR / f"{name}-etext.ttl"))
        golden += parse_ttl_file(str(TTL_DIR / f"{name}-item.ttl"))
        expected_content = (TTL_DIR / f"{name}-content.txt").read_text(encoding="utf-8")
        got = next(v for k, v in ctx.result.contents if k.startswith("etext:"))
        assert got == expected_content.strip() or got.strip() == expected_content.strip(), (
            "etext content mismatch:\n" + repr(got[:200]) + "\nvs\n" + repr(expected_content[:200])
        )
    else:
        golden = parse_ttl_file(str(TTL_DIR / f"{name}.ttl"))
    return precision_recall(ours, golden), ctx


def main():
    args = [a for a in sys.argv[1:] if not a.startswith("-")]
    verbose = "-v" in sys.argv
    name = args[0]
    rtype = args[1] if len(args) > 1 else None
    pr, ctx = run_fixture(name, rtype)
    print(
        f"{name}: P={pr.precision:.3f} R={pr.recall:.3f} "
        f"ours={pr.ours} golden={pr.golden} matched={pr.matched}"
    )
    if verbose or pr.precision < 1 or pr.recall < 1:
        for t in pr.missing:
            print("  MISSING", t)
        for t in pr.extra:
            print("  EXTRA  ", t)
    if ctx.result.errors and verbose:
        for e in ctx.result.errors:
            print("  ERRLOG ", e)


if __name__ == "__main__":
    main()
