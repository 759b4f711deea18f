"""GRETIL transfer — reference: GRETILTransfer.java:42-175 (S5).

Reference quirks preserved: adm:status is asserted on the WORK resource
itself (java:119 addStatus(mA, workA, ...)), and the creator call is a
no-op (java:152 passes workA in the `work` slot of addAgentAsCreator, so
neither branch fires).
"""

from __future__ import annotations

from xmltoldmigration_spark.kg import common as C
from xmltoldmigration_spark.kg.common import Ctx
from xmltoldmigration_spark.kg.model import (
    ADM,
    BDA,
    BDO,
    BDR,
    RDFS,
    SKOS,
    XSD,
    Emitter,
    iri,
    lit,
)
from xmltoldmigration_spark.kg.transfers import abstract_work, rkts_to_bdr

ORIG_URL_BASE = "http://gretil.sub.uni-goettingen.de/gretil.html"


def resources_from_line(line: list[str], ctx: Ctx) -> list[Emitter]:
    em = Emitter(graph=line[0])
    work = C.create_root(em, BDR + line[0], BDO + "EtextInstance")
    adm = C.create_admin_root(em, work)
    emitters = [em]

    # quirk: the whole field is looked up, not its id up to the first
    # comma, so a `K16,K17` list mints a new WA work instead of linking
    # WA0RKI16
    abstract_rid = rkts_to_bdr(ctx, line[2]) if line[2] else None
    _, em_a, work_a = abstract_work(ctx, em, work, abstract_rid, "WA" + line[0][2:],
                                    "LD_GRETIL", emitters)
    if work_a is not None:
        em_a.add(work_a, ADM + "status", iri(BDA + "StatusReleased"))  # quirk

    C.add_released(em, adm)
    em.add(adm, ADM + "metadataLegal", iri(BDA + "LD_GRETIL"))
    em.add(adm, ADM + "access", iri(BDA + "AccessOpen"))
    if line[8]:
        orig = ORIG_URL_BASE + line[8].replace("/", "-")
        em.add(adm, ADM + "originalRecord", lit(orig, None, XSD + "anyURI"))
    em.add(work, BDO + "inCollection", iri(BDR + "PR0GR01"))

    em.add(work, SKOS + "prefLabel", lit(line[1], "en"))
    em.add(work, SKOS + "altLabel", lit(line[3], "sa-x-iast"))
    if work_a is not None:
        em_a.add(work_a, SKOS + "prefLabel", lit(line[1], "en"))
        em_a.add(work_a, SKOS + "altLabel", lit(line[3], "sa-x-iast"))
    node = em.facet_node(C.FACET_TITLE, BDO + "Title")
    em.add(work, BDO + "hasTitle", iri(node))
    em.add(node, RDFS + "label", lit(line[1], "en"))

    # creators: no-op in the reference (see module docstring)

    topic = line[6]
    if topic and work_a is not None and topic.startswith("T"):
        em_a.add(work_a, BDO + "workIsAbout", iri(BDR + topic))

    for idx, prefix in ((9, "Input by "), (10, "Based on ")):
        note = line[idx]
        if note:
            n = em.facet_node(C.FACET_NOTE, BDO + "Note")
            em.add(work, BDO + "note", iri(n))
            em.add(n, BDO + "noteText", lit(prefix + note, "en"))
    return emitters
