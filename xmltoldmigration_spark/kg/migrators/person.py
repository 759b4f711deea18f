"""Person migrator — reference: xml2files/PersonMigration.java:86-400."""

from __future__ import annotations

import xml.etree.ElementTree as ET

from xmltoldmigration_spark.kg import common as C
from xmltoldmigration_spark.kg.common import Ctx
from xmltoldmigration_spark.kg.model import (
    ADM,
    BDA,
    BDO,
    BDR,
    Emitter,
    FACET_EVENT,
    FACET_NAME,
    RDF_TYPE,
    RDFS,
    SKOS,
    XSD,
    boolean,
    iri,
    lit,
)

NS = "http://www.tbrc.org/models/person#"


def _uri_from_type_subtype(type_: str, subtype: str) -> str:
    """PersonMigration.getUriFromTypeSubtype:55-76."""
    if type_ == "name":
        if subtype in ("chineseName", "sanskrit"):
            return BDO + "PersonOtherName"
        return BDO + "Person" + subtype[0].upper() + subtype[1:]
    if type_ == "gender":
        return BDR + "Gender" + subtype[0].upper() + subtype[1:]
    if type_ == "event":
        if subtype == "NotSpecified":
            return BDO + "PersonEventNotSpecified"
        return BDO + "Person" + subtype[0].upper() + subtype[1:]
    if type_ == "incarnationOf":
        return BDO + "incarnation" + subtype[0].upper() + subtype[1:]
    return ""


def _add_rel(ctx: Ctx, em: Emitter, root: ET.Element, rid: str, xml_tag: str, prop: str):
    """teacherOf/studentOf loops (PersonMigration.java:172-227)."""
    for current in C.elems(root, NS, xml_tag):
        val = C.attr(current, "pid")
        if not val:
            continue
        parts = val.split(" ") if " " in val else [val]
        for part in parts:
            if part.startswith("#"):
                ctx.error("gen", rid, rid, xml_tag, f"value contains unparsed strings: `{part}`")
                continue
            if not part.startswith("P"):
                ctx.error("gen", rid, rid, xml_tag, f"cannot parse `{val}` correctly")
                continue
            part = ctx.auth.sanitize_rid(part)
            if not ctx.auth.is_disconnected(part):
                C.add_symmetric_property(ctx, em, prop, rid, part)


def migrate(root: ET.Element, ctx: Ctx) -> list[Emitter]:
    rid = C.attr(root, "RID")
    em = Emitter(graph=rid)
    main = C.create_root(em, BDR + rid, BDO + "Person")
    adm = C.create_admin_root(em, main)
    if rid in ctx.auth.ric:
        em.add(adm, ADM + "restrictedInChina", boolean(True))
    if rid in ctx.auth.tol:
        em.add(adm, ADM + "seeOtherToL", lit(ctx.auth.tol[rid], None, XSD + "anyURI"))
    for tlname in ctx.auth.person_traditions.get(rid, []):
        em.add(main, BDO + "associatedTradition", iri(BDR + "Tradition" + tlname))
    C.add_status(em, adm, C.attr(root, "status"))
    em.add(adm, ADM + "metadataLegal", iri(BDA + "LD_BDRC_CC0"))
    gender = None

    # names (PersonMigration.java:112-136): first label per 2-letter lang
    # wins prefLabel; primaryTitle overrides a non-primaryTitle holder.
    label_for_lang: dict[str, tuple] = {}
    label_type_for_lang: dict[str, str] = {}
    for current in C.elems(root, NS, "name"):
        if not C.text_of(current).strip():
            continue
        subtype = C.attr(current, "type").strip() or "primaryName"
        name_node = em.facet_node(FACET_NAME, _uri_from_type_subtype("name", subtype))
        em.add(main, BDO + "personName", iri(name_node))
        lv = C.get_literal(ctx, current, C.EWTS, subtype, rid, None)
        if lv is None:
            continue
        em.add(name_node, RDFS + "label", lit(lv[0], lv[1]))
        lang2 = (lv[1] or "")[:2]
        if lang2 not in label_for_lang or (
            subtype == "primaryTitle" and label_type_for_lang.get(lang2) != "primaryTitle"
        ):
            label_for_lang[lang2] = lv
            label_type_for_lang[lang2] = subtype
    for lv in label_for_lang.values():
        em.add(main, SKOS + "prefLabel", lit(lv[0], lv[1]))

    # gender
    for current in C.elems(root, NS, "info"):
        genderval = C.attr(current, "gender")
        if genderval:
            em.add(main, BDO + "personGender", iri(_uri_from_type_subtype("gender", genderval)))
            if genderval in ("male", "female"):
                gender = genderval

    # events (PersonMigration.addEvent:305-367)
    for current in C.elems(root, NS, "event"):
        _add_event(ctx, em, main, current, rid)

    # seat (PersonMigration.addSeat:385-398)
    for current in C.elems(root, NS, "seat"):
        event = C.get_event(em, main, _local_event_type("occupiesSeat"), "personEvent")
        C.add_dates(em, C.attr(current, "circa"), event)
        for place in C.elems(current, NS, "place"):
            pid = ctx.auth.sanitize_rid(C.attr(place, "pid").strip())
            if not ctx.auth.is_disconnected(pid):
                em.add(event, BDO + "eventWhere", iri(BDR + pid))
                ctx.link(rid, "seat", pid)

    _add_rel(ctx, em, root, rid, "teacherOf", "personTeacherOf")
    _add_rel(ctx, em, root, rid, "studentOf", "personStudentOf")

    # kinship (PersonMigration.addKinship:369-383)
    for current in C.elems(root, NS, "kinship"):
        relation = C.attr(current, "relation")
        if not relation:
            ctx.error("gen", rid, rid, "kinship", "missing kinship type")
            relation = "hasUnknownKinship"
        if relation == "hasConsort":
            relation = "personHasConsort"
        with_ = C.attr(current, "person")
        if with_:
            with_ = ctx.auth.sanitize_rid(with_)
            if not ctx.auth.is_disconnected(with_):
                C.add_symmetric_property(ctx, em, relation, rid, with_, gender or "u")

    # ofSect
    for current in C.elems(root, NS, "ofSect"):
        em.add(main, BDO + "personOfSect", iri(BDR + C.attr(current, "sect")))

    # incarnationOf (PersonMigration.addIncarnation:265-295)
    for current in C.elems(root, NS, "incarnationOf"):
        being = C.attr(current, "being").strip()
        if not being:
            ctx.error("gen", rid, rid, "incarnationOf",
                      f"no RID for incarnation, text reads: `{C.text_of(current)}`")
            continue
        being = ctx.auth.sanitize_rid(being)
        relation = C.attr(current, "relation")
        if relation:
            if relation == "yangsi":
                relation = "yangtse"
            em.add(main, _uri_from_type_subtype("incarnationOf", relation), iri(BDR + being))
        else:
            em.add(main, _uri_from_type_subtype("incarnationOf", "general"), iri(BDR + being))
        secondary = C.attr(current, "secondary")
        if secondary:
            if secondary == "yangsi":
                secondary = "yangtse"
            if not ctx.auth.is_disconnected(being):
                em.add(main, _uri_from_type_subtype("incarnationOf", secondary), iri(BDR + being))

    C.add_notes(ctx, em, root, main, NS)
    C.add_externals(ctx, em, root, main, NS)
    C.add_log(ctx, em, root, adm, NS)
    C.finalize_graph(em, adm, "person")
    return [em]


def _local_event_type(subtype: str) -> str:
    return "Person" + subtype[0].upper() + subtype[1:]


def _add_event(ctx: Ctx, em: Emitter, main: str, e: ET.Element, rid: str) -> None:
    type_value = C.attr(e, "type")
    if not type_value:
        type_value = "NotSpecified"
        ctx.error("gen", rid, rid, "event", "missing type")
    if type_value == "assumeOffice":
        type_value = "assumesOffice"
    if type_value == "residence":
        type_value = "inResidence"
    if type_value == "foundsMonastery":
        # record into placeEvents (J11) then treat as assumesOffice;
        # return early when no office child (PersonMigration.java:315-334)
        circa = None
        place = None
        from xmltoldmigration_spark.functions.text import normalize_string

        circa = normalize_string(C.attr(e, "circa"))
        for pl in C.elems(e, NS, "place"):
            place = ctx.auth.sanitize_rid(C.attr(pl, "pid").strip())
            break
        if place and circa:
            ctx.result.contents.append(("placeEvent", f"{place}|{rid}|{circa}"))
        type_value = "assumesOffice"
        if not C.elems(e, NS, "office"):
            return
    event = C.get_event(em, main, _uri_from_type_subtype("event", type_value)[len(BDO):], "personEvent")
    C.add_dates(em, C.attr(e, "circa"), event)
    for tag, prop, hint in (
        ("place", "eventWhere", "event/place"),
        ("office", "role", "event/office"),
        ("corp", "corporation", "event/corporation"),
    ):
        for current in C.elems(e, NS, tag):
            pid = ctx.auth.sanitize_rid(C.attr(current, "pid").strip())
            if not ctx.auth.is_disconnected(pid):
                em.add(event, BDO + prop, iri(BDR + pid))
                ctx.link(rid, hint, pid)
