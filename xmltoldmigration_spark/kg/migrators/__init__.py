"""Per-type record migrators (the reference's xml2files/ package).

Each module exposes `migrate(root, ctx) -> list[Emitter]`: pure Python,
record-local, no Spark — wrapped by kg/parse.py into the vectorized
parse stage and unit-tested against the golden corpus in
tests/test_kg_parity.py.
"""

from __future__ import annotations

import functools
import re
import xml.etree.ElementTree as ET

from xmltoldmigration_spark.kg.common import Ctx

_WITHDRAWN_RE = re.compile(
    r"(?i:withdrawn in ?favou?re? of) +([a-zA-Z]+[0-9]+[a-zA-Z0-9]+).*", re.S
)

TYPE_NS = {
    "person": "http://www.tbrc.org/models/person#",
    "work": "http://www.tbrc.org/models/work#",
    "outline": "http://www.tbrc.org/models/outline#",
    "place": "http://www.tbrc.org/models/place#",
    "topic": "http://www.tbrc.org/models/topic#",
    "office": "http://www.tbrc.org/models/office#",
    "corporation": "http://www.tbrc.org/models/corporation#",
    "lineage": "http://www.tbrc.org/models/lineage#",
    "product": "http://www.tbrc.org/models/product#",
    "pubinfo": "http://www.tbrc.org/models/pubinfo#",
    "imagegroup": "http://www.tbrc.org/models/imagegroup#",
    "scanrequest": "http://www.tbrc.org/models/scanrequest#",
    "taxonomy": "http://www.tbrc.org/models/outline#",
}


@functools.cache
def _dispatch_table() -> dict:
    """Built once per process (the parse UDF calls migrate_record per
    record — a fresh import + dict build per call cost ~3 % of the parse
    stage); imports stay function-local to keep package import light."""
    from xmltoldmigration_spark.kg.migrators import (
        corporation,
        lineage,
        office,
        outline,
        person,
        place,
        etext,
        imagegroup,
        product,
        pubinfo,
        taxonomy,
        topic,
        work,
    )

    return {
        "person": person.migrate,
        "topic": topic.migrate,
        "office": office.migrate,
        "corporation": corporation.migrate,
        "place": place.migrate,
        "lineage": lineage.migrate,
        "work": work.migrate,
        "outline": outline.migrate,
        "product": product.migrate,
        "pubinfo": pubinfo.migrate,
        "imagegroup": imagegroup.migrate,
        "etext": etext.migrate,
        "taxonomy": taxonomy.migrate,
    }


# F5 — products that are never migrated (MigrationApp.java:503-505)
_IGNORED_PRODUCTS = frozenset({"PR99SUBSCRIBERS", "PR88CT000129", "PR01JW33589"})


def must_be_migrated(rtype: str, rid: str, status: str) -> bool:
    """F3 (MigrationHelpers.mustBeMigrated:743-751): the outline
    blacklist and the unreleased `G9GBX*` places are skipped; F5: so are
    the ignored products."""
    if rtype == "outline":
        from xmltoldmigration_spark.kg.migrators.outline import RIDS_TO_IGNORE

        return rid not in RIDS_TO_IGNORE
    if rtype == "place":
        return not rid.startswith("G9GBX") or status == "released"
    return rtype != "product" or rid not in _IGNORED_PRODUCTS


def migrate_record(rtype: str, content: str, ctx: Ctx):
    """Dispatch one XML record to its migrator (MigrationHelpers.xmlToRdf:700-741)."""
    dispatch = _dispatch_table()
    root = ET.fromstring(content)
    ctx.result.status = root.get("status", "")
    if rtype == "scanrequest":
        # "scanrequests don't hold any kind of information"
        # (MigrationApp.java:773-774; ScanrequestMigration.java:44-55)
        from xmltoldmigration_spark.kg.model import BDO, BDR, Emitter, RDF_TYPE, iri

        em = Emitter(graph="TestVolumes")
        em.add(BDR + "TestVolumes", RDF_TYPE, iri(BDO + "Item"))
        return [em]
    fn = dispatch.get(rtype)
    if fn is None:
        raise ValueError(f"unknown record type {rtype!r}")
    status = ctx.result.status
    emitters = fn(root, ctx)
    if status in ("withdrawn", "onHold") and rtype not in ("pubinfo", "scanrequest"):
        _add_withdrawn_redirect(root, ctx, emitters, rtype)
    return emitters


def _add_withdrawn_redirect(root: ET.Element, ctx: Ctx, emitters, rtype: str) -> None:
    """MigrationHelpers.migrateWithdrawn:780-828 (F2): extract the
    `withdrawn in favour of <RID>` redirect from log messages."""
    from xmltoldmigration_spark.kg import common as C
    from xmltoldmigration_spark.kg.model import ADM, BDA, BDR, iri

    rid = root.get("RID", "")
    ns = TYPE_NS.get(rtype, "")
    withdrawn_msg = None
    for log in C.elems(root, ns, "log"):
        for entry in list(log.iter("{%s}entry" % ns)) + list(log.iter("entry")):
            msg = C.text_of(entry)
            if "withdrawn in " in msg.lower():
                withdrawn_msg = msg.strip()
    target = None
    if rid in ctx.auth.rid_replacements:
        target = ctx.auth.rid_replacements[rid]
    elif withdrawn_msg is not None:
        m = _WITHDRAWN_RE.fullmatch(withdrawn_msg)
        if m:
            target = m.group(1).upper()
            ctx.result.contents.append(("ridReplacement", f"{rid},{target}"))
    if target is not None:
        for em in emitters:
            if em.graph == rid:
                em.add(BDA + rid, ADM + "replaceWith", iri(BDR + target))
                break
