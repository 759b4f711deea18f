"""EAP fonds transfer — reference: EAPFondsTransfer.java:44-418 (S5, G5).

The fonds → series → file hierarchy comes from a flat CSV (two layouts:
full EAP310/EAP039 and 'simplified' eap2): fonds rows become collections,
series rows become instances (+abstract works) whose volumes are the file
rows of the series, matching the reference's prefix-grouping
(getSeriesByFonds:68-86, getVolumes:88-97).  No golden fixture exists in
the reference test corpus, so verification is structural
(tests/test_kg_transfers.py::test_eapfonds_structure).
"""

from __future__ import annotations

from xmltoldmigration_spark.kg import common as C
from xmltoldmigration_spark.kg.common import Ctx
from xmltoldmigration_spark.kg.model import (
    ADM,
    BDA,
    BDO,
    BDR,
    RDF_TYPE,
    SKOS,
    XSD,
    Emitter,
    boolean,
    gyear,
    integer,
    iri,
    lit,
)
from xmltoldmigration_spark.kg.transfers import abstract_work

MANIFEST_PREFIX = "https://eap.bl.uk/archive-file/"
ORIG_URL_BASE = "https://eap.bl.uk/collection/"


def _ident(line: list[str], simplified: bool) -> str:
    return line[1] if simplified else line[4]


def _kind(line: list[str], simplified: bool) -> str:
    return (line[0] if simplified else line[1]).lower()


def _title(line: list[str], simplified: bool) -> str:
    return line[9] if simplified else line[39]


def _literal(title: str):
    """EAPFondsTransfer.getLiteral:128-138."""
    lang = "bo-x-ewts"
    if title and 3840 < ord(title[0]) < 4095:
        lang = "bo"
    if title.endswith("@en"):
        return title[:-3], "en"
    return title, lang


def group_by_fonds(lines: list[list[str]], simplified: bool):
    """G5: fonds -> {series key -> series line} (prefix grouping)."""
    fonds = {}
    for line in lines:
        if _kind(line, simplified) == "fonds":
            key = line[1] if simplified else line[0]
            fonds[key] = {"fondsline": line}
    for key, mp in fonds.items():
        for line in lines:
            if (not simplified and len(line) > 3 and line[3] == key) or (
                simplified
                and _kind(line, simplified).startswith("serie")
                and line[1].startswith(key + "/")
            ):
                mp[line[1] if simplified else line[0]] = line
    return fonds


def _volumes(lines, serie, simplified):
    out = []
    for line in lines:
        if (not simplified and len(line) > 3 and line[3] == serie) or (
            simplified
            and _kind(line, simplified).startswith("file")
            and line[1].startswith(serie + "/")
        ):
            out.append(line)
    return out


def _add_event(em: Emitter, line, work: str, simplified: bool):
    not_before = line[3] if simplified else line[38]
    not_after = line[4] if simplified else line[17]
    if not_before and not_after:
        event = BDR + "E" + C._local(work) + "_01"
        em.add(work, BDO + "workEvent", iri(event))
        em.add(event, RDF_TYPE, iri(BDO + "CopyEvent"))
        if simplified and line[13]:
            em.add(event, BDO + "eventWhere", iri(BDR + line[13]))
        if not_before == not_after:
            em.add(event, BDO + "onYear", gyear(int(not_before)))
        else:
            em.add(event, BDO + "notBefore", gyear(int(not_before)))
            em.add(event, BDO + "notAfter", gyear(int(not_after)))


def _add_note(em: Emitter, line, work: str, simplified: bool):
    note = (line[10] + line[11] + line[12]) if simplified else line[36]
    if note:
        n = em.facet_node(C.FACET_NOTE, BDO + "Note")
        em.add(n, BDO + "noteText", lit(note, "en"))
        em.add(work, BDO + "note", iri(n))


def _abstract_block(ctx: Ctx, em: Emitter, work: str, ref: str, emitters: list):
    abstract_rid = "WA" + ref
    other = ctx.auth.constraint_wa("MW" + ref, abstract_rid)
    if other == abstract_rid:
        other = None
    _, em_a, work_a = abstract_work(ctx, em, work, other, abstract_rid,
                                    "LD_EAP_metadata", emitters)
    if work_a is not None:
        em_a.add(work_a, BDO + "language", iri(BDR + "LangBo"))
    return abstract_rid


def resources_from_lines(lines: list[list[str]], ctx: Ctx, simplified: bool) -> list[Emitter]:
    emitters: list[Emitter] = []
    fonds = group_by_fonds(lines, simplified)
    for key, mp in sorted(fonds.items()):
        fondsline = mp["fondsline"]
        serie_id = _ident(fondsline, simplified).replace("/", "-")
        prrid = "PR0" + serie_id
        # collection (writeProduct:362-377)
        em_p = Emitter(graph=prrid)
        p = C.create_root(em_p, BDR + prrid, BDO + "Collection")
        adm_p = C.create_admin_root(em_p, p)
        em_p.add(adm_p, ADM + "metadataLegal", iri(BDA + "LD_EAP_metadata"))
        name = _title(fondsline, simplified)
        if name.endswith("@en"):
            name = name[:-3]
        em_p.add(p, SKOS + "prefLabel", lit(name, "en"))
        em_p.add(p, ADM + "originalRecord",
                 lit(ORIG_URL_BASE + serie_id, None, XSD + "anyURI"))
        emitters.append(em_p)
        for serie, serie_line in sorted(mp.items()):
            if serie == "fondsline":
                continue
            if _kind(serie_line, simplified).startswith("seriesc"):
                _add_series_c(ctx, emitters, lines, serie_line, serie, prrid, simplified)
            else:
                _add_series(ctx, emitters, lines, serie_line, serie, prrid, simplified)
    return emitters


def _add_series_c(ctx, emitters, lines, serie_line, serie, prrid, simplified):
    """addSeriesC:184-280 — one instance whose volumes are the series files."""
    ref = _ident(serie_line, simplified).replace("/", "-")
    em = Emitter(graph="MW" + ref)
    work = C.create_root(em, BDR + "MW" + ref, BDO + "Instance")
    adm = C.create_admin_root(em, work)
    emitters.append(em)
    abstract_rid = _abstract_block(ctx, em, work, ref, emitters)
    C.add_released(em, adm)
    em.add(adm, ADM + "metadataLegal", iri(BDA + "LD_EAP_metadata"))
    em.add(adm, ADM + "originalRecord",
           lit(ORIG_URL_BASE + ref, None, XSD + "anyURI"))
    _add_note(em, serie_line, work, simplified)
    em.add(work, SKOS + "prefLabel", lit(*_literal(_title(serie_line, simplified))))
    _add_event(em, serie_line, work, simplified)

    it_em = Emitter(graph="W" + ref)
    item = C.create_root(it_em, BDR + "W" + ref, BDO + "ImageInstance")
    adm_item = C.create_admin_root(it_em, item)
    emitters.append(it_em)
    em.add(work, BDO + "instanceHasReproduction", iri(item))
    it_em.add(item, BDO + "instanceReproductionOf", iri(work))
    C.add_released(it_em, adm_item)
    it_em.add(adm_item, ADM + "contentLegal", iri(BDA + "LD_EAP_content"))
    it_em.add(adm_item, ADM + "metadataLegal", iri(BDA + "LD_EAP_metadata"))
    it_em.add(adm_item, ADM + "restrictedInChina", boolean(False))
    it_em.add(adm_item, ADM + "access", iri(BDA + "AccessOpen"))
    it_em.add(item, BDO + "instanceOf", iri(BDR + abstract_rid))
    it_em.add(item, BDO + "inCollection", iri(BDR + prrid))

    num_vol = 0
    for volume in _volumes(lines, serie, simplified):
        ref_v = _ident(volume, simplified).replace("/", "-")
        vol = BDR + "I0" + ref_v
        it_em.add(item, BDO + "instanceHasVolume", iri(vol))
        it_em.add(vol, RDF_TYPE, iri(BDO + "ImageGroup"))
        it_em.add(vol, BDO + "hasIIIFManifest", iri(MANIFEST_PREFIX + ref_v + "/manifest"))
        it_em.add(vol, SKOS + "prefLabel", lit(*_literal(_title(volume, simplified))))
        try:
            voln = int(_ident(volume, simplified).rsplit("/", 1)[-1]) if simplified else int(volume[37])
        except ValueError:
            voln = num_vol + 1
        it_em.add(vol, BDO + "volumeNumber", integer(voln))
        it_em.add(vol, BDO + "volumeOf", iri(item))
        adm_vol = BDA + "I0" + ref_v
        it_em.add(adm_vol, RDF_TYPE, iri(ADM + "AdminData"))
        it_em.add(adm_vol, ADM + "adminAbout", iri(vol))
        num_vol += 1
    it_em.add(item, BDO + "numberOfVolumes", integer(num_vol))
    em.add(work, BDO + "numberOfVolumes", integer(num_vol))


def _add_series(ctx, emitters, lines, serie_line, serie, prrid, simplified):
    """addSeries:282-360 — each file row becomes its own work/instance."""
    for work_line in _volumes(lines, serie, simplified):
        ref = _ident(work_line, simplified).replace("/", "-")
        em = Emitter(graph="MW" + ref)
        work = C.create_root(em, BDR + "MW" + ref, BDO + "Instance")
        adm = C.create_admin_root(em, work)
        emitters.append(em)
        abstract_rid = _abstract_block(ctx, em, work, ref, emitters)
        C.add_released(em, adm)
        em.add(adm, ADM + "metadataLegal", iri(BDA + "LD_EAP_metadata"))
        em.add(adm, ADM + "originalRecord",
               lit(MANIFEST_PREFIX + ref, None, XSD + "anyURI"))
        _add_note(em, serie_line, work, simplified)
        _add_event(em, serie_line, work, simplified)
        em.add(work, SKOS + "prefLabel", lit(*_literal(_title(work_line, simplified))))

        it_em = Emitter(graph="W" + ref)
        item = C.create_root(it_em, BDR + "W" + ref, BDO + "ImageInstance")
        adm_item = C.create_admin_root(it_em, item)
        emitters.append(it_em)
        em.add(work, BDO + "instanceHasReproduction", iri(item))
        it_em.add(item, BDO + "inCollection", iri(BDR + prrid))
        it_em.add(item, BDO + "instanceReproductionOf", iri(BDR + "MW" + ref))
        C.add_released(it_em, adm_item)
        it_em.add(adm_item, ADM + "restrictedInChina", boolean(False))
        it_em.add(adm_item, ADM + "access", iri(BDA + "AccessOpen"))
        it_em.add(adm_item, ADM + "contentLegal", iri(BDA + "LD_EAP_content"))
        it_em.add(adm_item, ADM + "metadataLegal", iri(BDA + "LD_EAP_metadata"))
        vol = BDR + "I" + ref
        it_em.add(item, BDO + "instanceHasVolume", iri(vol))
        it_em.add(vol, RDF_TYPE, iri(BDO + "ImageGroup"))
        it_em.add(vol, BDO + "hasIIIFManifest", iri(MANIFEST_PREFIX + ref + "/manifest"))
        it_em.add(vol, BDO + "volumeNumber", integer(1))
        it_em.add(vol, BDO + "volumeOf", iri(item))
        adm_vol = BDA + "I" + ref
        it_em.add(adm_vol, RDF_TYPE, iri(ADM + "AdminData"))
        it_em.add(adm_vol, ADM + "adminAbout", iri(vol))
        it_em.add(adm_vol, ADM + "originalRecord",
                  lit(MANIFEST_PREFIX + ref, None, XSD + "anyURI"))
