"""Hodgson transfer — reference: HodgsonTransfer.java:47-220 (S5).

Quirk preserved: adm:originalRecord is asserted on the WORK resource
(java:164), not its AdminData.
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
from xmltoldmigration_spark.kg.transfers import abstract_work, image_instance, rkts_to_bdr


def resources_from_line(line: list[str], ctx: Ctx) -> list[Emitter]:
    base = line[0].strip()
    em = Emitter(graph="MW" + base)
    work = C.create_root(em, BDR + "MW" + base, BDO + "Instance")
    emitters = [em]

    abstract = abstract_work(ctx, em, work, rkts_to_bdr(ctx, line[5]),
                             "WA" + base, "LD_IA_Metadata", emitters)
    _, em_a, work_a = abstract
    if work_a is not None:
        em_a.add(work_a, BDO + "language", iri(BDR + "LangSa"))

    adm = C.create_admin_root(em, work)
    C.add_released(em, adm)
    em.add(adm, ADM + "metadataLegal", iri(BDA + "LD_IA_Metadata"))

    title = line[2].strip()
    node = em.facet_node(C.FACET_TITLE, BDO + "Title")
    em.add(work, BDO + "hasTitle", iri(node))
    em.add(node, RDFS + "label", lit(title, "sa-x-iast"))
    em.add(work, SKOS + "prefLabel", lit(title, "sa-x-iast"))
    if work_a is not None:
        em_a.add(work_a, SKOS + "prefLabel", lit(title, "sa-x-iast"))
    if line[3].strip():
        title = line[3].strip()
        node = em.facet_node(C.FACET_TITLE, BDO + "Title")
        em.add(work, BDO + "hasTitle", iri(node))
        em.add(node, RDFS + "label", lit(title, "sa-x-iast"))
        em.add(work, SKOS + "altLabel", lit(title, "sa-x-iast"))
        if work_a is not None:
            em_a.add(work_a, SKOS + "altLabel", lit(title, "sa-x-iast"))

    n = em.facet_node(C.FACET_NOTE, BDO + "Note")
    em.add(work, BDO + "note", iri(n))
    em.add(n, BDO + "noteText", lit("From the Hodgson Collection", "en"))
    if len(line) > 9 and line[10].strip():
        n = em.facet_node(C.FACET_NOTE, BDO + "Note")
        em.add(work, BDO + "note", iri(n))
        em.add(n, BDO + "noteText", lit(line[10], "en"))
    if len(line) > 8 and line[9].strip():
        em.add(work, BDO + "colophon", lit(line[9], "sa-x-iast"))
    if len(line) > 7 and line[8].strip():
        em.add(work, BDO + "incipit", lit(line[8], "sa-x-iast"))

    em.add(work, BDO + "printMethod", iri(BDR + "PrintMethod_Manuscript"))
    em.add(work, BDO + "material", iri(BDR + "MaterialPalmLeaf"))
    em.add(work, ADM + "originalRecord",
           lit("https://archive.org/details/" + line[1].strip(), None, XSD + "anyURI"))

    if line[6] and work_a is not None:
        em_a.add(work_a, BDO + "workIsAbout", iri(BDR + line[6].strip()))
    if line[7] and work_a is not None:
        em.add(work, BDO + "workGenre", iri(BDR + line[7].strip()))

    it_em, _, volume = image_instance(ctx, em, work, abstract, "W" + base, "I" + base,
                                      "PR0IA_HOD01", "LD_IA_PD", "LD_IA_Metadata", emitters)
    it_em.add(volume, BDO + "hasIIIFManifest",
              iri("https://iiif.archivelab.org/iiif/" + line[1].strip() + "/manifest.json"))
    return emitters
