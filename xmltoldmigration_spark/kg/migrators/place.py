"""Place migrator — reference: xml2files/PlaceMigration.java:199-438."""

from __future__ import annotations

import json
import xml.etree.ElementTree as ET

from xmltoldmigration_spark.kg import common as C
from xmltoldmigration_spark.kg.common import Ctx
from xmltoldmigration_spark.kg.model import (
    ADM,
    BDA,
    BDO,
    BDR,
    VCARD,
    Emitter,
    FACET_EVENT,
    boolean,
    iri,
    lit,
)

NS = "http://www.tbrc.org/models/place#"

FACET_VCARD_ADDR = ("VA", VCARD)

_NORMALIZE_TYPE = {
    "khul": "khul",
    "placeTypes:townshipSeats": "shang",
    "placeTypes:srolRgyunSaMing": "srolRgyunGyiSaMing",
    "placeTypes:tshoPa": "tshoBa",
    "placeTypes:rgyalKhams": "rgyalKhab",
    "placeTypes:traditionalPlaceName": "srolRgyunGyiSaMing",
    "placeTypes:residentialHouse": "gzimsKhang",
    "placeTypes:notSpecified": "notSpecified",
}

# PlaceMigration.typeToLocalName:80-167 (87-entry code table, C22)
_TYPE_CODE = {
    "yulSde": 1, "rangSkyongKhul": 2, "rangSkyongLjongs": 3, "zamPa": 4,
    "rong": 5, "durKhrod": 6, "skor": 7, "grongKhyer": 8, "dengRabsSaGnas": 9,
    "rgyalKhab": 10, "rdzong": 11, "chus": 12, "cholKha": 13, "saKhul": 14,
    "gzhisKa": 15, "gruKha": 16, "nagsTshal": 17, "mkharRnying": 18,
    "beHu": 19, "sdeTsho": 20, "riKhrod": 21, "sbasYul": 22, "smanKhang": 23,
    "gzimsKhang": 24, "khyimTshang": 25, "gling": 26, "rgyalPhran": 27,
    "mtsho": 28, "yulChen": 29, "dpeMdzodKhang": 30, "mda'": 31,
    "khriSde": 32, "maNiRdoPhung": 33, "gzimsShag": 34, "tshong'Dus": 35,
    "sgrubPhug": 36, "dgonPa": 37, "bshadGrwa": 38, "khamsTshan": 39,
    "grwaTshang": 40, "blaBrang": 41, "riBo": 42, "laKha": 43, "riRgyud": 44,
    "grongRdal": 45, "khriSkor": 46, "rangByung'KhorYug": 47, "'brogSde": 48,
    "btsunDgon": 50, "phoBrang": 51, "glingKha": 52, "gnasChen": 53,
    "rdoRing": 54, "thang": 55, "sngarGyiRdzong": 56, "khul": 57,
    "sdeDponMnga'Ris": 58, "parKhang": 59, "zhingChen": 60, "ru": 61,
    "sgang": 62, "rtenGzhiYulLung": 63, "sgrubGrwa": 64, "chuBo": 65,
    "chuRgyud": 66, "slobGrwa": 67, "tshoBa": 68, "brtenPaGnasKhang": 69,
    "yulPhran": 70, "chuMig": 71, "mchodRten": 72, "stongSde": 73,
    "lhaKhang": 74, "gtsugLagKhang": 75, "bangSo": 76, "shang": 77,
    "srolRgyunGyiSaMing": 78, "srolRgyunSaKhul": 79, "gterGnas": 80,
    "ruSde": 81, "phu": 82, "lungPa": 83, "grongTsho": 84, "grongSde": 85,
    "rdzongSridGzhungGnasSa": 86,
}

_GIS_ID = {
    "fromLex": ADM + "place_id_lex",
    "fromTBRC": ADM + "place_id_TBRC",
    "chgis_id": BDO + "placeChgisId",
    "gb2260-2013": BDO + "placeGB2260-2013",
    "WB_area_sq_km": BDO + "placeWBArea",
    "WB_pop_2000": BDO + "placeWB2000",
    "WB_pop_2010": BDO + "placeWB2010",
}


def _place_type(ctx: Ctx, root: ET.Element, rid: str) -> str | None:
    type_value = ""
    for current in C.elems(root, NS, "info"):
        type_value = C.attr(current, "type").strip()
        if type_value:
            break
    if not type_value:
        ctx.error("gen", rid, rid, "info/type", "missing place type")
        return None
    if type_value == "notSpecified":
        ctx.error("gen", rid, rid, "info/type", "original type: notSpecified")
        return None
    norm = _NORMALIZE_TYPE.get(type_value, type_value[11:] if type_value.startswith("placeTypes:") else type_value)
    code = _TYPE_CODE.get(norm)
    return None if code is None else BDR + "PT%04d" % code


def migrate(root: ET.Element, ctx: Ctx) -> list[Emitter]:
    rid = C.attr(root, "RID")
    em = Emitter(graph=rid)
    main = C.create_root(em, BDR + rid, BDO + "Place")
    adm = C.create_admin_root(em, main)
    if rid in ctx.auth.ric:
        em.add(adm, ADM + "restrictedInChina", boolean(True))
    ptype = _place_type(ctx, root, rid)
    if ptype:
        em.add(main, BDO + "placeType", iri(ptype))
    C.add_status(em, adm, C.attr(root, "status"))
    em.add(adm, ADM + "metadataLegal", iri(BDA + "LD_BDRC_CC0"))
    C.add_names(ctx, em, root, main, NS)
    C.add_notes(ctx, em, root, main, NS)
    C.add_externals(ctx, em, root, main, NS)
    C.add_descriptions(ctx, em, root, main, NS)
    _add_events(ctx, em, root, main, rid)
    C.add_log(ctx, em, root, adm, NS)

    for gis in C.elems(root, NS, "gis"):
        _add_gis(ctx, em, gis, main, adm)

    _simple_object_prop(ctx, em, root, main, "isLocatedIn", "placeLocatedIn")
    _simple_object_prop(ctx, em, root, main, "near", "placeIsNear")
    _simple_object_prop(ctx, em, root, main, "contains", "placeContains")

    for current in C.elems(root, NS, "address"):
        address = em.facet_node(FACET_VCARD_ADDR, VCARD + "Address")
        em.add(main, BDO + "placeAddress", iri(address))
        for a, p in (
            ("city", "locality"),
            ("country", "country-name"),
            ("postal", "postal-code"),
            ("state", "region"),
        ):
            v = C.attr(current, a)
            if v:
                em.add(address, VCARD + p, lit(v))
        street = C.attr(current, "number").strip() + " " + C.attr(current, "street").strip()
        em.add(address, VCARD + "street-address", lit(street))

    for current in C.elems(root, NS, "tlm"):
        _add_tlm(em, adm, current)

    C.finalize_graph(em, adm, "place")
    return [em]


def _simple_object_prop(ctx: Ctx, em: Emitter, root, main: str, tag: str, prop: str):
    """PlaceMigration.addSimpleObjectProp:300-311 (early `return` on
    empty/NONE aborts the whole loop — reference behavior preserved)."""
    rid = em.graph
    for current in C.elems(root, NS, tag):
        value = C.attr(current, "place").strip()
        if not value or value == "NONE":
            return
        value = ctx.auth.sanitize_rid(value)
        if not ctx.auth.is_disconnected(value):
            C.add_symmetric_property(ctx, em, prop, rid, value)


def _add_tlm(em: Emitter, adm: str, tlm: ET.Element):
    for a, p in (("accession", "place_TLM_accession"), ("code", "place_TLM_code"), ("num", "place_TLM_num")):
        v = C.attr(tlm, a)
        if v:
            em.add(adm, ADM + p, lit(v))
    for current in C.elems(tlm, NS, "taxonomy"):
        em.add(adm, ADM + "place_TLM_taxonomy", iri(BDR + C.attr(current, "rid")))
    for current in C.elems(tlm, NS, "groups"):
        for a, p in (
            ("admin", "place_TLM_admin"),
            ("adminEmail", "place_TLM_adminEmail"),
            ("librarian", "place_TLM_librarian"),
            ("librarianEmail", "place_TLM_librarianEmail"),
        ):
            v = C.attr(current, a)
            if v:
                em.add(adm, ADM + p, lit(v))


def _add_gis(ctx: Ctx, em: Emitter, gis: ET.Element, main: str, adm: str):
    for current in C.elems(gis, NS, "id"):
        t = C.attr(current, "type")
        if t == "chgis_id":
            # our CHGIS ids are wrong; mint TBRC_<rid> (PlaceMigration.java:334-338)
            C.add_identifier(em, main, BDR + "CHGISId", "TBRC_" + em.graph)
            continue
        prop = _GIS_ID.get(t, "")
        if not prop:
            continue
        value = C.attr(current, "value").strip()
        target = adm if "admin" in prop else main
        em.add(target, prop, lit(value))
    for current in C.elems(gis, NS, "coords"):
        for a, p in (("lat", "placeLat"), ("long", "placeLong"), ("accuracy", "placeAccuracy")):
            v = C.attr(current, a).strip()
            if v:
                em.add(main, BDO + p, lit(v))
        poly = C.text_of(current).strip()
        if poly:
            try:
                json.loads(poly)
                em.add(main, BDO + "placeRegionPoly", lit(poly))
            except ValueError:
                pass


def _add_events(ctx: Ctx, em: Emitter, root: ET.Element, main: str, rid: str):
    for current in C.elems(root, NS, "event"):
        value = C.attr(current, "type")
        if not value:
            value = BDO + "PlaceEventNotSpecified"
            ctx.error("gen", rid, rid, "event", "missing type for an event")
        else:
            sub = value[16:]  # strip "placeEventTypes:"
            value = BDO + "Place" + sub[0].upper() + sub[1:]
        event = em.facet_node(FACET_EVENT, value)
        C.add_dates(em, C.attr(current, "circa"), event)
        em.add(main, BDO + "placeEvent", iri(event))
        _add_affiliations(ctx, em, current, event, rid)
        C.add_notes(ctx, em, current, event, NS)
        C.add_descriptions(ctx, em, current, event, NS)


def _add_affiliations(ctx: Ctx, em: Emitter, event_el: ET.Element, event: str, rid: str):
    for current in C.elems(event_el, NS, "affiliation"):
        t = C.attr(current, "type")
        value = C.attr(current, "rid")
        if not value:
            continue
        if t != "placeEventAffiliationTypes:lineage":
            ctx.error("gen", rid, rid, "event/affiliation",
                      f"invalid affiliation type value: `{t}` (should be `placeEventAffiliationTypes:lineage`)")
        if not value.startswith("lineage:"):
            ctx.error("gen", rid, rid, "event/affiliation",
                      f"invalid affiliation rid value: `{value}` (should be `lineage:`)")
        else:
            if value == "lineage:Kadampa":
                value = "lineage:Kadam"
            if value == "lineage:Shije":
                value = "lineage:Zhije"
            sub = value[8:]
            em.add(event, BDO + "associatedTradition",
                   iri(BDR + "Tradition" + sub[0].upper() + sub[1:]))
