"""CUDL transfer — reference: CUDLTransfer.java:50-257 (S5).

Test config normalizeOneDirection(false, false) (CUDLTest.java:29-31).
Reference quirks preserved: the abstract-work model re-creates the
instance's AdminData (CUDLTransfer.java:131 createAdminRoot(work)) and
prefLabels for the abstract work are asserted on the INSTANCE IRI inside
the abstract model (java:160,163).
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
from xmltoldmigration_spark.kg.transfers import image_instance, rkts_to_bdr

ORIG_URL_BASE = "https://cudl.lib.cam.ac.uk/view/"

SCRIPTS = {
    "nepālākṣarā": "ScriptNepaleseHooked",
    "pāla": "ScriptRanj",
    "sinhala": "ScriptSinh",
    "devanāgarī": "ScriptDeva",
    "rañjanā": "ScriptRanj",
    "bengali": "ScriptBeng",
    "naipālanāgarī": "ScriptDeva",
}

_MATERIALS = {
    "palm_leaf": "MaterialPalmyraPalmLeaf",
    "paper": "MaterialPaper",
    "corypha_palm_leaf": "MaterialCoryphaPalmLeaf",
    "mixed": "MaterialMixed",
}


def _add_material(em: Emitter, r: str, mat: str) -> None:
    if mat in _MATERIALS:
        em.add(r, BDO + "material", iri(BDR + _MATERIALS[mat]))
    elif mat == "nep_multi_layered_paper":
        em.add(r, BDO + "material", iri(BDR + "MaterialPaper"))
        em.add(r, BDO + "appliedMaterial", iri(BDR + "AppliedMaterial_Poison"))
    elif mat == "black_paper":
        em.add(r, BDO + "material", iri(BDR + "MaterialPaper"))
        em.add(r, BDO + "appliedMaterial", iri(BDR + "AppliedMaterial_IndigoDye"))


def resources_from_line(line: list[str], ctx: Ctx) -> list[Emitter]:
    rid = line[0]
    em = Emitter(graph="MW0CDL0" + rid)
    work = C.create_root(em, BDR + "MW0CDL0" + rid, BDO + "Instance")
    adm = C.create_admin_root(em, work)
    emitters = [em]
    C.add_released(em, adm)
    em.add(adm, ADM + "metadataLegal", iri(BDA + "LD_CUDL_metadata"))
    orig_url = ORIG_URL_BASE + rid
    em.add(adm, ADM + "originalRecord", lit(orig_url, None, XSD + "anyURI"))

    abstract_rid = rkts_to_bdr(ctx, line[4])
    em_a = None
    work_a = None
    if abstract_rid is None:
        abstract_rid = "WA0CDL0" + rid
        em_a = Emitter(graph=abstract_rid)
        work_a = C.create_root(em_a, BDR + abstract_rid, BDO + "Work")
        # reference quirk: admin root re-created for the INSTANCE in mA
        adm_a = C.create_admin_root(em_a, work)
        emitters.append(em_a)
        em.add(work, BDO + "instanceOf", iri(work_a))
        em_a.add(work_a, BDO + "workHasInstance", iri(work))
        C.add_released(em_a, adm_a)
        em_a.add(adm_a, ADM + "metadataLegal", iri(BDA + "LD_CUDL_metadata"))
    else:
        C.add_symmetric_property(ctx, em, "instanceOf", "MW0CDL0" + rid, abstract_rid)

    em.add(work, BDO + "catalogInfo", lit(line[1], "en"))

    title = line[3]
    main_title = line[6]
    if main_title == title:
        main_title = ""
    alt_title = line[7]
    if title.endswith("@en"):
        tlit = (title[:-3], "en")
    else:
        tlit = (title, "sa-x-iast")
    em.add(work, SKOS + "prefLabel", lit(*tlit))
    node = em.facet_node(C.FACET_TITLE, BDO + "Title")
    em.add(work, BDO + "hasTitle", iri(node))
    em.add(node, RDFS + "label", lit(*tlit))

    if main_title:
        if work_a is None:
            em.add(work, SKOS + "altLabel", lit(main_title, "sa-x-iast"))
        else:
            em_a.add(work, SKOS + "prefLabel", lit(main_title, "sa-x-iast"))
    elif work_a is not None:
        em_a.add(work, SKOS + "prefLabel", lit(*tlit))

    if alt_title:
        for at in alt_title.split(","):
            if work_a is not None:
                em_a.add(work_a, SKOS + "altLabel", lit(at, "sa-x-iast"))
            else:
                em.add(work, SKOS + "altLabel", lit(at, "sa-x-iast"))

    if line[5] and work_a is not None:
        em_a.add(work_a, BDO + "workIsAbout", iri(BDR + line[5]))
    em.add(work, BDO + "printMethod", iri(BDR + "PrintMethod_Manuscript"))
    _add_material(em, work, line[9])
    if line[14]:
        em.add(work, BDO + "script", iri(BDR + SCRIPTS[line[14].lower()]))
        if work_a is not None:
            em_a.add(work_a, BDO + "language", iri(BDR + "LangSa"))
    if line[19]:
        em.add(work, BDO + "dimWidth", lit(line[19].replace(",", ".").strip(), None, XSD + "decimal"))
    if line[18]:
        em.add(work, BDO + "dimHeight", lit(line[18].replace(",", ".").strip(), None, XSD + "decimal"))
    if line[10] and line[11]:
        event = C.get_event(em, work, "CopyEvent", "workEvent", reuse=True)
        em.add(event, BDO + "notAfter", lit(line[11], None, XSD + "integer"))
        em.add(event, BDO + "notBefore", lit(line[10], None, XSD + "integer"))

    it_em, _, volume = image_instance(ctx, em, work, (abstract_rid, em_a, work_a),
                                      "W0CDL0" + rid, "I0CDL0" + rid, "PR0CDL01",
                                      "LD_CUDL_content", "LD_CUDL_metadata", emitters)
    it_em.add(volume, BDO + "hasIIIFManifest", iri(line[8]))
    return emitters
