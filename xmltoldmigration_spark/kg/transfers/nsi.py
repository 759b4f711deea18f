"""NSI transfer — reference: NSITransfer.java:76-290 (S5)."""

from __future__ import annotations

from xmltoldmigration_spark.kg import common as C
from xmltoldmigration_spark.kg.common import Ctx
from xmltoldmigration_spark.kg.model import (
    ADM,
    BDA,
    BDO,
    BDR,
    RDF_TYPE,
    RDFS,
    SKOS,
    XSD,
    Emitter,
    gyear,
    integer,
    iri,
    lit,
)
from xmltoldmigration_spark.kg.transfers import abstract_work, image_instance, rkts_to_bdr

LANG_MAP = {
    "Sanskrit;Pracalita": ["Sa"],
    "Nepal Bhasa;Devanagari": ["New"],
    "Sanskrit;Devanagari": ["Sa"],
    "Nepal Bhasa;Pracalita": ["New"],
    "Nepali;Devanagari": ["Ne"],
    "Sanskrit;Bhujimol": ["Sa"],
    "Sanskrit/Nepal Bhasa;Pracalita": ["Sa", "New"],
    "Sanskrit;Nagari": ["Sa"],
    "Sanskrit/Nepal Bhasa;Devanagari": ["Sa", "New"],
    "Sanskrit;Ranjana/Pracalita": ["Sa"],
    "Sanskrit;Ranjana": ["Ranj"],
}
SCRIPT_MAP = {
    "Sanskrit;Pracalita": ["Newa"],
    "Nepal Bhasa;Devanagari": ["Deva"],
    "Sanskrit;Devanagari": ["Deva"],
    "Nepal Bhasa;Pracalita": ["Newa"],
    "Nepali;Devanagari": ["Deva"],
    "Sanskrit;Bhujimol": ["NepaleseHooked"],
    "Sanskrit/Nepal Bhasa;Pracalita": ["Newa"],
    "Sanskrit;Nagari": ["Nagari"],
    "Sanskrit/Nepal Bhasa;Devanagari": ["Deva"],
    "Sanskrit;Ranjana/Pracalita": ["Ranj", "Newa"],
    "Sanskrit;Ranjana": ["Ranj"],
}

SCAN_INFO = (
    "Digitized as part of the Nepalese Buddhist Sanskrit Manuscript Scanning "
    "Initiative, a collaboration with the Nagarjuna Institute of Buddhist "
    "Studies in Kathmandu, Nepal, and with funding from University of the "
    "West and Internet Archive."
)


def resources_from_line(line: list[str], ctx: Ctx) -> list[Emitter]:
    wrid = line[1].strip()
    em = Emitter(graph="M" + wrid)
    work = C.create_root(em, BDR + "M" + wrid, BDO + "Instance")
    adm = C.create_admin_root(em, work)
    C.add_released(em, adm)
    em.add(adm, ADM + "metadataLegal", iri(BDA + "LD_BDRC_CC0"))
    emitters = [em]

    abstract = abstract_work(ctx, em, work, rkts_to_bdr(ctx, line[19]),
                             "WA" + wrid[1:], "LD_BDRC_CC0", emitters)
    abstract_rid, em_a, work_a = abstract
    # reference quirk (NSITransfer.java:150-152): the symmetric call runs
    # again unconditionally once abstractWorkRID is non-null
    C.add_symmetric_property(ctx, em, "instanceOf", "M" + wrid, abstract_rid)

    title = line[4].strip()
    title_lang = "en" if title == "Unidentified" else "sa-x-iast"
    node = em.facet_node(C.FACET_TITLE, BDO + "Title")
    em.add(work, BDO + "hasTitle", iri(node))
    em.add(node, RDFS + "label", lit(title, title_lang))
    em.add(work, SKOS + "prefLabel", lit(title, title_lang))
    if work_a is not None:
        em_a.add(work_a, SKOS + "prefLabel", lit(title, title_lang))

    if line[14].endswith(" CE"):
        date_str = line[14][:-3]
        event = C.get_event(em, work, "CopyEvent", "instanceEvent", reuse=True)
        em.add(event, BDO + "onYear", gyear(int(date_str)))

    note_text = line[6]
    if line[13]:
        note_text += ", indicated date: " + line[13]
    note_text += ", from the collection of  " + line[8]
    n = em.facet_node(C.FACET_NOTE, BDO + "Note")
    em.add(work, BDO + "note", iri(n))
    em.add(n, BDO + "noteText", lit(note_text, "en"))

    em.add(work, BDO + "printMethod", iri(BDR + "PrintMethod_Manuscript"))

    lang_script = line[9].strip() + ";" + line[10].strip()
    if em_a is not None:
        for ls in LANG_MAP.get(lang_script, []):
            em_a.add(work_a, BDO + "language", iri(BDR + "Lang" + ls))
    for ls in SCRIPT_MAP.get(lang_script, []):
        em.add(work, BDO + "script", iri(BDR + "Script" + ls))

    material = line[17].strip()
    if material == "Yellow Paper":
        em.add(work, BDO + "material", iri(BDR + "MaterialPaper"))
        em.add(work, BDO + "appliedMaterial", iri(BDR + "AppliedMaterial_Poison"))
        em.add(work, BDO + "binding", iri(BDR + "Binding_LooseLeaf"))
    elif material == "Bound Mss.":
        em.add(work, BDO + "printMethod", iri(BDR + "PrintMethod_Manuscript"))
        em.add(work, BDO + "binding", iri(BDR + "Binding_Codex_Sewn"))
    elif material == "Thyāsaphū":
        em.add(work, BDO + "binding", iri(BDR + "Binding_Continuous_Leporello"))

    if len(line[15]) > 3 and len(line[16]) > 3:
        dim1 = float(line[15][:-3].strip())
        dim2 = float(line[16][:-3].strip())
        em.add(work, BDO + "dimWidth", lit(_jstr(max(dim1, dim2)), None, XSD + "decimal"))
        em.add(work, BDO + "dimHeight", lit(_jstr(min(dim1, dim2)), None, XSD + "decimal"))

    if em_a is not None and len(line) > 16 and line[16]:
        for t in line[7].split("&"):
            em_a.add(work_a, BDO + "workIsAbout", iri(BDR + t.strip()))

    volume_rid = line[2].strip()
    it_em, item, volume = image_instance(ctx, em, work, abstract, wrid, volume_rid,
                                         "PR1NEPAL00", "LD_BDRC_PD", None, emitters)
    it_em.add(item, BDO + "numberOfVolumes", integer(1))
    it_em.add(item, BDO + "scanInfo", lit(SCAN_INFO, "en"))
    volume_a = BDA + volume_rid
    it_em.add(volume_a, RDF_TYPE, iri(ADM + "AdminData"))
    it_em.add(volume_a, ADM + "adminAbout", iri(volume))
    it_em.add(volume_a, ADM + "legacyImageGroupRID", lit(volume_rid))
    it_em.add(volume, BDO + "volumePagesTbrcIntro", integer(0))
    it_em.add(volume, BDO + "imageList", lit(""))
    it_em.add(volume, BDO + "imageCount", integer(0))
    it_em.add(volume, BDO + "volumePagesTotal", integer(0))
    return emitters


def _jstr(f: float) -> str:
    """Java String.valueOf(float): integral floats keep '.0'."""
    return str(int(f)) + ".0" if f == int(f) else str(f)
