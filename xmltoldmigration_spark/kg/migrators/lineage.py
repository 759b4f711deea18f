"""Lineage migrator — reference: xml2files/LineageMigration.java:73-251."""

from __future__ import annotations

import re
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
    FACET_NOTE,
    iri,
    lit,
)

NS = "http://www.tbrc.org/models/lineage#"

FACET_LINEAGE_HOLDER = ("LH", BDR)

_DIGITS = re.compile(r"[0-9\-]+")


def abstract_for_rid(rid: str) -> str:
    """WorkMigration.getAbstractForRid:119-121 — W… -> WA…"""
    return "WA" + rid[1:]


def _cluster_wa(ctx: Ctx, rid: str) -> str:
    """Shared W->WA + cluster-canonicalization hop (J5)."""
    if rid.startswith("W") and not rid.startswith("WA"):
        mw = "M" + rid
        rid = abstract_for_rid(rid)
        other = ctx.auth.constraint_wa(mw, rid)
        if other is not None:
            rid = other
    return rid


def _get_type_str(root: ET.Element) -> str:
    value = None
    for current in C.elems(root, NS, "info"):
        value = C.attr(current, "type")
        if not value:
            value = "lineageTypes:NotSpecified"
        if value == "lineageTypes:rlung":
            value = "lineageTypes:lung"
        value = value[13:]
        value = C.normalize_prop_name(value, "Class")
    return value if value is not None else "NotSpecified"


def migrate(root: ET.Element, ctx: Ctx) -> list[Emitter]:
    rid = C.attr(root, "RID")
    em = Emitter(graph=rid)
    type_str = _get_type_str(root)
    if type_str == "NotSpecified":
        ctx.error("gen", rid, rid, "event", "missing lineage type")
    main = C.create_root(em, BDR + rid, BDO + "Lineage")
    adm = C.create_admin_root(em, main)
    em.add(main, BDO + "lineageType", iri(BDR + "Lineage" + type_str[0].upper() + type_str[1:]))
    C.add_status(em, adm, C.attr(root, "status"))
    em.add(adm, ADM + "metadataLegal", iri(BDA + "LD_BDRC_CC0"))
    C.add_names(ctx, em, root, main, NS)
    C.add_notes(ctx, em, root, main, NS)
    C.add_externals(ctx, em, root, main, NS)
    C.add_descriptions(ctx, em, root, main, NS)
    C.add_log(ctx, em, root, adm, NS)
    _add_locations(ctx, em, root, main)

    for current in C.elems(root, NS, "object"):
        value = C.attr(current, "RID").strip()
        if value:
            target = ctx.auth.sanitize_rid(value)
            if not ctx.auth.is_disconnected(target):
                # NB: the reference adds the PRE-canonicalized `value` here
                # (LineageMigration.java:111) — quirk preserved
                _cluster_wa(ctx, target)
                em.add(main, BDO + "lineageObject", iri(BDR + value))

    for current in C.elems(root, NS, "lineageRef"):
        value = C.attr(current, "RID").strip()
        if value:
            em.add(main, BDO + "lineageRef", iri(BDR + value))

    for i, current in enumerate(C.children(root, NS, "holder")):
        _add_holder(ctx, em, current, main)
    for alt in C.elems(root, NS, "alternative"):
        for holder in C.children(alt, NS, "holder"):
            _add_holder(ctx, em, holder, main)

    C.finalize_graph(em, adm, "lineage")
    return [em]


def _add_locations(ctx: Ctx, em: Emitter, root: ET.Element, main: str) -> None:
    """LineageMigration.addLocations:33-71 — first 2 locations -> notes."""
    nodes = C.children(root, NS, "location")
    for i, current in enumerate(nodes):
        if i > 1:
            break
        work = C.attr(current, "work").strip()
        instance = BDR + "M" + work if work else None
        locstatement = ""
        vol = re.sub(r",$", "", C.attr(current, "vol").strip())
        if vol:
            locstatement = "vol. " + vol
        page = C.attr(current, "page").strip()
        if page:
            if locstatement:
                locstatement += ", "
            locstatement += ("p. " + page) if _DIGITS.fullmatch(page) else page
        if not locstatement and instance is None:
            continue
        node = em.facet_node(FACET_NOTE, BDO + "Note")
        em.add(main, BDO + "note", iri(node))
        if locstatement:
            em.add(node, BDO + "contentLocationStatement", lit(locstatement))
        if instance is not None:
            em.add(node, BDO + "noteSource", iri(instance))


def _add_holder(ctx: Ctx, em: Emitter, e: ET.Element, main: str) -> None:
    rid = em.graph
    holder = em.facet_node(FACET_LINEAGE_HOLDER, BDO + "LineageHolder")
    em.add(main, BDO + "lineageHolder", iri(holder))
    C.add_notes(ctx, em, e, holder, NS)
    C.add_descriptions(ctx, em, e, holder, NS)

    for tag, prop in (("who", "lineageWho"), ("downTo", "lineageDownTo"), ("downFrom", "lineageDownFrom")):
        for current in C.elems(e, NS, tag):
            value = C.attr(current, "RID")
            if value:
                value = ctx.auth.sanitize_rid(value)
                em.add(holder, BDO + prop, iri(BDR + value))

    for current in C.elems(e, NS, "work"):
        value = C.attr(current, "RID")
        if value:
            target = ctx.auth.sanitize_rid(value)
            if not ctx.auth.is_disconnected(target):
                target = _cluster_wa(ctx, target)
                em.add(holder, BDO + "lineageWork", iri(BDR + target))

    for current in C.elems(e, NS, "received"):
        received = em.facet_node(FACET_EVENT, BDO + "LineageEvent")
        em.add(holder, BDO + "lineageReceived", iri(received))
        value = C.attr(current, "RID")
        if value:
            for part in (value.split(" ") if " " in value else [value]):
                if part.startswith("#"):
                    ctx.error("gen", rid, rid, "received",
                              f"received value contains unparsed strings: `{part}`")
                    continue
                part = ctx.auth.sanitize_rid(part)
                em.add(received, BDO + "lineageFrom", iri(BDR + part))
        site = C.attr(current, "site")
        if site:
            site = ctx.auth.sanitize_rid(site)
            em.add(received, BDO + "eventWhere", iri(BDR + site))
        C.add_dates(em, C.attr(current, "circa"), received)
