"""EAP transfer — reference: EAPTransfer.java:82-337 (S5).

One eap.csv row -> instance (bdr:MWEAP…), optional abstract work
(bdr:WAEAP…), image instance (bdr:WEAP…) with its single image group and
IIIF manifest.  Test config: normalizeOneDirection(false, false)
(EAPTest.java:29) — both directions of every symmetric pair are kept.
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
    integer,
    iri,
    lit,
)
from xmltoldmigration_spark.kg.transfers import abstract_work, image_instance, rkts_to_bdr

ORIG_URL_BASE = "https://eap.bl.uk/archive-file/"

_SCRIPTS = {"Newa": "ScriptNewa", "Ranj": "ScriptRanj", "Beng": "ScriptBeng"}
_LANGS = {"san": ["LangSa"], "new": ["LangNew"], "san;new": ["LangNew", "LangSa"]}


def resources_from_line(line: list[str], ctx: Ctx) -> list[Emitter]:
    base_rid = line[2].replace("/", "-")
    rid = "W" + base_rid
    em = Emitter(graph="M" + rid)
    work = C.create_root(em, BDR + "M" + rid, BDO + "Instance")
    emitters = [em]

    abstract = abstract_work(ctx, em, work, rkts_to_bdr(ctx, line[15]),
                             "WA" + base_rid, "LD_EAP_metadata", emitters)
    _, em_a, work_a = abstract

    adm = C.create_admin_root(em, work)
    C.add_released(em, adm)
    em.add(adm, ADM + "metadataLegal", iri(BDA + "LD_EAP_metadata"))
    orig_url = ORIG_URL_BASE + base_rid
    em.add(adm, ADM + "originalRecord", lit(orig_url, None, XSD + "anyURI"))

    # title
    title = line[12]
    title_lang = "sa-x-iast"
    if title.endswith("@en"):
        title = title[:-3]
        title_lang = "en"
    else:
        node = em.facet_node(C.FACET_TITLE, BDO + "Title")
        em.add(work, BDO + "hasTitle", iri(node))
        em.add(node, RDFS + "label", lit(title, title_lang))
    em.add(work, SKOS + "prefLabel", lit(title, title_lang))
    if work_a is not None:
        em_a.add(work_a, SKOS + "prefLabel", lit(title, title_lang))

    # copy event (plain xsd:integer years, EAPTransfer.java:201-212)
    if line[3]:
        start, end = int(line[3]), int(line[4])
        event = C.get_event(em, work, "CopyEvent", "instanceEvent", reuse=True)
        if start == end:
            em.add(event, BDO + "onYear", integer(start))
        else:
            em.add(event, BDO + "notBefore", integer(start))
            em.add(event, BDO + "notAfter", integer(end))

    # note
    note_text = line[8]
    if line[13]:
        note_text += ", date: " + line[13]
    note_text += ", recordID: " + line[0] + ", MDARK: " + line[7]
    node = em.facet_node(C.FACET_NOTE, BDO + "Note")
    em.add(work, BDO + "note", iri(node))
    em.add(node, BDO + "noteText", lit(note_text, "en"))
    em.add(work, BDO + "printMethod", iri(BDR + "PrintMethod_Manuscript"))

    em.add(work, BDO + "script", iri(BDR + _SCRIPTS.get(line[6], "ScriptDeva")))
    for lang in _LANGS.get(line[5], []):
        if work_a is not None:
            em_a.add(work_a, BDO + "language", iri(BDR + lang))
        em.add(work, BDO + "language", iri(BDR + lang))
    if line[5] == "tib" and work_a is not None:
        em_a.add(work_a, BDO + "language", iri(BDR + "LangBo"))
    if line[9]:
        em.add(work, BDO + "dimWidth", lit(line[9], None, XSD + "decimal"))
    if line[10]:
        em.add(work, BDO + "dimHeight", lit(line[10], None, XSD + "decimal"))
    if work_a is not None:
        if len(line) > 16 and line[16]:
            for t in line[16].split(","):
                em_a.add(work_a, BDO + "workIsAbout", iri(BDR + t))
        if len(line) > 17 and line[17]:
            for g in line[17].split(","):
                em_a.add(work_a, BDO + "workGenre", iri(BDR + g))
    em.add(work, BDO + "material", iri(BDR + "MaterialPaper"))

    it_em, _, volume = image_instance(ctx, em, work, abstract, rid, "I0" + base_rid,
                                      "PR0EAP676", "LD_EAP_content", "LD_EAP_metadata",
                                      emitters)
    it_em.add(volume, BDO + "hasIIIFManifest", iri(orig_url + "/manifest"))
    return emitters
