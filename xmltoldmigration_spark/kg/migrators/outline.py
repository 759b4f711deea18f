"""Outline migrator — reference: xml2files/OutlineMigration.java:189-800.

An outline is one XML record that expands into a node tree (G3): the
outline graph plus one abstract-work graph per qualifying text node.
Part IRIs are minted with the reproducible md5 recipe
(OutlineMigration.getPartRID:505-527, C10/A7).
"""

from __future__ import annotations

import re
import xml.etree.ElementTree as ET

from xmltoldmigration_spark.functions.text import md5_hex
from xmltoldmigration_spark.kg import common as C
from xmltoldmigration_spark.kg.common import Ctx
from xmltoldmigration_spark.kg.model import (
    ADM,
    BDA,
    BDO,
    BDR,
    FACET_EVENT,
    RDF_TYPE,
    SKOS,
    Emitter,
    boolean,
    integer,
    iri,
    lit,
)

NS = "http://www.tbrc.org/models/outline#"

# F3 — outline blacklist (OutlineMigration.java:73-120)
RIDS_TO_IGNORE = frozenset(
    """O2MS4765 O2MS5129 O1TLMXXX000011 O1TLMXXX000012 O3JW10074 O3JW11025
    O3JW11874 O3JW13595 O3JW14444 O3JW15385 O3JW18061 O3JW18930 O3JW19779
    O4CTX297 O3JW17161 O2MS4381 O4JW33589 O3JW5309 O5TAX003 OTX2 OTX5
    O4CTX325 O4CTX313 O4JW296 O4JW313 O4CTX298 O4JW33649 O10MS13722
    O2MS24613 O1 O5JW1123 O5JW1071 O9TAXTBRC201605 O3JW16234 O3JW8867
    O4JW33751 O4CTX296 O9TAXTBRC201605S O9TAXTBRC201602 O9TAXTBRC201605DLD
    OTX3 O9TAXTBRC201604 O5JW1109 O1HU51 O3JW20628""".split()
)

_KEYWORD_BLACKLIST = re.compile(
    "(" + "|".join([
        "dpe skrun gsal bshad", "sngon gleng", "rtsom bsgrigs pa'i gtam",
        "thor bu", "spar byang smon tshig", "mjug byang",
        "rtsom pa pos do snang mdzad dgos pa'i gnad don 'ga' zhig",
        "dus deb mngags nyo'i gsal brda", "rtsom pa po'i ngo sprod mdor bsdus",
        "bsdu sgrig pa'i gleng brjod", "bsgrigs rjes kyi gtam", "preface",
    ]) + ")"
)




class _State:
    """Per-outline mutable traversal state (CurNodeInt + collision map)."""

    def __init__(self):
        self.i = 0
        self.used_rid: set[str] = set()
        self.used_rid_a: set[str] = set()
        # A6: a node whose abstract redirects hands its topics to the
        # abstract's node, when that node comes later in this outline
        self.worktopics: dict[str, list[str]] = {}


def get_part_rid(state: _State, node_rid: str, work_id: str) -> str:
    h = md5_hex(node_rid, 6)
    if h in state.used_rid:
        h = md5_hex(node_rid, 7)
    state.used_rid.add(h)
    return work_id + "_" + h


def get_part_rid_a(state: _State, node_rid: str) -> str:
    h = md5_hex(node_rid, 12)
    if h in state.used_rid_a:
        h = md5_hex(node_rid, 13)
    state.used_rid_a.add(h)
    return "WA0XL" + h


def get_work_id(root: ET.Element, ctx: Ctx) -> str | None:
    for current in C.elems(root, NS, "isOutlineOf"):
        work_id = C.attr(current, "work").strip()
        if work_id.startswith("W"):
            return "M" + work_id
    rid = C.attr(root, "RID")
    ctx.error("gen", rid, rid, "type", "missing work ID, cannot migrate outline")
    return None


def migrate(root: ET.Element, ctx: Ctx) -> list[Emitter]:
    work_id = get_work_id(root, ctx)
    if not work_id:
        return []
    return migrate_outline(root, ctx, work_id, ancestor_creators=[])


def migrate_outline(root: ET.Element, ctx: Ctx, work_id: str, ancestor_creators: list) -> list[Emitter]:
    legacy_rid = C.attr(root, "RID")
    em = Emitter(graph=legacy_rid)
    emitters = [em]
    state = _State()
    root_work = BDR + work_id
    ric = work_id in ctx.auth.ric_with_outline

    main = BDR + legacy_rid
    em.add(main, RDF_TYPE, iri(BDO + "Outline"))
    adm = C.create_admin_root(em, main)
    C.add_status(em, adm, C.attr(root, "status"))

    em.add(main, BDO + "legacyOutlineNodeRID", lit(legacy_rid))
    em.add(main, BDO + "outlineOf", iri(root_work))
    for current in C.elems(root, NS, "isOutlineOf"):
        value = C.attr(current, "type").strip() or "NoType"
        em.add(main, BDO + "outlineType",
               iri(BDR + "OutlineType" + value[0].upper() + value[1:]))
    pagination = C.attr(root, "pagination").strip()
    pag = "PaginationRelative" if (not pagination or pagination == "relative") else "PaginationAbsolute"
    em.add(main, BDO + "paginationType", iri(BDR + pag))

    C.add_notes(ctx, em, root, main, NS)
    C.add_externals(ctx, em, root, main, NS)
    C.add_log(ctx, em, root, adm, NS)
    C.add_descriptions(ctx, em, root, main, NS, False)
    ancestor_creators = _add_creators(ctx, em, main, root, True, root_work, None, ancestor_creators)

    # unnecessary unique top node gets unwrapped (OutlineMigration.java:352-357)
    children = C.children(root, NS, "node")
    node2 = children[0] if len(children) == 1 else root

    status = C.attr(root, "status")
    _add_nodes(ctx, em, root_work, node2, work_id, state, None, None, legacy_rid, "",
               root_work, emitters, ancestor_creators, ric, status)
    C.finalize_graph(em, adm, "outline")
    return emitters


def _add_creators(ctx: Ctx, em: Emitter, rez: str, e: ET.Element, is_root: bool,
                  root_work: str, node_a: tuple | None, old_elements: list) -> list:
    """OutlineMigration.addCreators:365-427 (J9 creator inheritance)."""
    nodes = C.children(e, NS, "creator")
    if node_a is not None:
        for current in old_elements:
            value = C.attr(current, "type").strip() or "hasMainAuthor"
            if is_root:
                continue
            person = ctx.auth.sanitize_rid(C.attr(current, "person").strip())
            if not ctx.auth.is_disconnected(person):
                C.add_agent_as_creator(ctx, None, BDR + person, value, node_a)
    if not nodes:
        return old_elements
    res = list(old_elements)
    for current in nodes:
        value = C.attr(current, "type").strip() or "hasMainAuthor"
        if is_root and value == "hasScribe":
            lv = C.get_literal(ctx, current, "en", "hasScribe", C._local(rez), None)
            if lv is None:
                continue
            em.add(rez, BDO + "authorshipStatement", lit(lv[0], lv[1]))
            continue
        person = C.attr(current, "person").strip()
        if not person:
            continue
        if person == "Add to DLMS":
            person = C.text_of(current).strip()
            if person:
                ctx.error("missing", C._local(rez), C._local(rez), "creator",
                          f"needs to be added to dlms: `{value}`")
        else:
            if value == "hasMainAuthor":
                res.append(current)
            person = ctx.auth.sanitize_rid(person)
            if not ctx.auth.is_disconnected(person):
                C.add_agent_as_creator(ctx, (em, rez), BDR + person, value, node_a)
    return res


def _is_text(e: ET.Element) -> bool:
    return not any(
        _KEYWORD_BLACKLIST.search(C.text_of(t)) for t in C.children(e, NS, "title")
    )


def _is_karchak(e: ET.Element) -> bool:
    return any("dkar chag" in C.text_of(t) for t in C.children(e, NS, "title"))


def _is_chapter(e: ET.Element) -> bool:
    return any(C.text_of(t).endswith("le'u/") for t in C.children(e, NS, "title"))


def _has_short_title(e: ET.Element) -> bool:
    for t in C.children(e, NS, "title"):
        if C.text_of(t).strip().count(" ") > 1:
            return False
    return True


_SITE_TYPES = {
    "started": ("OriginatedEvent", True),
    "completed": ("CompletedEvent", True),
    "written": ("CompletedEvent", True),
    "edited": ("EditedEvent", False),
    "revealed": ("RevealedEvent", True),
    "printedat": ("PrintedEvent", False),
}


def _add_node(ctx, em, r, e, work_id, state, previous_loc, legacy_rid, part_index,
              part_tree_index, root_work, emitters, ancestor_creators, ric, status):
    """OutlineMigration.addNode:555-757."""
    state.i += 1
    rid = C.attr(e, "RID").strip()
    n_used = len(state.used_rid)
    node_rid = get_part_rid(state, rid, work_id)
    a_node_rid = get_part_rid_a(state, rid)
    node = BDR + node_rid
    # every triple about a new node follows this mark; a node RID minted
    # twice (repeated legacy RIDs) may have triples before it
    mark = next(reversed(em.triples), None) if len(state.used_rid) > n_used else None
    value = C.attr(e, "type") or "text"
    if _is_karchak(e):
        value = "tableOfContent"
    if _is_chapter(e):
        value = "chapter"
    node_a = None
    em_a = None
    other_abstract = None
    if value in ("text", "collection") and not _has_short_title(e) and _is_text(e):
        other_abstract = ctx.auth.constraint_wa(node_rid, a_node_rid)
        if other_abstract is None or other_abstract == a_node_rid:
            em_a = Emitter(graph=a_node_rid)
            emitters.append(em_a)
            node_a = C.create_root(em_a, BDR + a_node_rid, BDO + "Work")
            adm_a = C.create_admin_root(em_a, node_a)
            em_a.add(node_a, BDO + "language", iri(BDR + "LangBo"))
            C.add_status(em_a, adm_a, status)
            em_a.add(adm_a, ADM + "metadataLegal", iri(BDA + "LD_BDRC_CC0"))
            if ric:
                em_a.add(adm_a, ADM + "restrictedInChina", boolean(True))
            em.add(node, BDO + "instanceOf", iri(node_a))
            em_a.add(node_a, BDO + "workHasInstance", iri(node))
            topics = state.worktopics.pop(a_node_rid, None)
            if topics:
                for t in topics:
                    prop, _, target = t.partition("-")
                    em_a.add(node_a, BDO + prop, iri(BDR + target))
        else:
            C.add_symmetric_property(ctx, em, "instanceOf", node_rid, other_abstract)

    value = "PartType" + value[0].upper() + value[1:]
    em.add(node, BDO + "partType", iri(BDR + value))
    em.add(node, BDO + "partTreeIndex", lit(part_tree_index))
    em.add(node, BDO + "legacyOutlineNodeRID", lit(rid))
    em.add(node, RDF_TYPE, iri(BDO + "Instance"))
    em.add(node, BDO + "partIndex", integer(part_index))
    if not ctx.one_direction:
        em.add(r, BDO + "hasPart", iri(node))
    em.add(node, BDO + "partOf", iri(r))
    em.add(node, BDO + "inRootInstance", iri(root_work))

    name_added = C.add_names(ctx, em, e, node, NS, True, None)
    C.add_descriptions(ctx, em, e, node, NS, False,
                       (em_a, node_a) if node_a else None)
    C.add_titles(ctx, e, NS, (em, node),
                 (em_a, node_a) if node_a else None,
                 guess_label=not name_added, outline_mode=True)

    # the node's first prefLabel in insertion order: scan back to the
    # mark, not the whole outline (that made a record quadratic in nodes)
    label = None
    for k in reversed(em.triples):
        if k == mark:
            break
        if k[0] == node and k[1] == SKOS + "prefLabel":
            label = (k[3], k[4])

    loc_vp = C.add_locations(ctx, em, node, e, NS, work_id[1:], legacy_rid, rid,
                             label[0] if label else None)
    if loc_vp is not None:
        loc_vp = loc_vp + (rid,)
    if loc_vp is not None and previous_loc is not None:
        if previous_loc[2] > loc_vp[0] or (previous_loc[2] == loc_vp[0] and previous_loc[3] > loc_vp[1]):
            ctx.error("outline", work_id, rid, "location",
                      f"starts (vol. {loc_vp[0]}, p. {loc_vp[1]}) before the end of previous node [{previous_loc[4]}]")

    if node_a is not None:
        C.add_subjects(ctx, em_a, node_a, e, NS)
    elif other_abstract is not None:
        topics = C.add_subjects(ctx, None, node, e, NS)
        if topics:
            state.worktopics[other_abstract] = topics

    for current in C.children(e, NS, "site"):
        stype = C.attr(current, "type").strip().lower()
        if stype:
            spec = _SITE_TYPES.get(stype)
            if spec is None:
                spec = ("WorkEvent", True)
        else:
            spec = ("WorkEvent", True)
        etype, on_work = spec
        if on_work:
            target = (em_a, node_a) if node_a is not None else None
        else:
            target = (em, node)
        if target is None:
            continue
        t_em, t_iri = target
        site = t_em.facet_node(FACET_EVENT, BDO + etype)
        t_em.add(t_iri, BDO + ("workEvent" if on_work else "instanceEvent"), iri(site))
        C.add_dates(t_em, C.attr(current, "circa"), site)
        place = C.attr(current, "place").strip()
        if place:
            place = ctx.auth.sanitize_rid(place)
            if not ctx.auth.is_disconnected(place):
                t_em.add(site, BDO + "eventWhere", iri(BDR + place))
        text = C.text_of(current)
        if text:
            t_em.add(site, BDO + "eventText", lit(text))

    ancestor_creators = _add_creators(ctx, em, node, e, False, root_work,
                                      (em_a, node_a) if node_a else None, ancestor_creators)

    has_children = _add_nodes(ctx, em, node, e, work_id, state, loc_vp, rid, legacy_rid,
                              part_tree_index, root_work, emitters, ancestor_creators,
                              ric, status)
    if not has_children and loc_vp is None:
        ctx.error("outline", work_id, rid, "location",
                  f"`{label[0] if label else None}` has no page indication")
    return loc_vp


def _part_tree_index_str(index: int, nb_siblings: int) -> str:
    if nb_siblings < 10:
        return str(index)
    if nb_siblings < 100:
        return "%02d" % index
    return "%03d" % index


def _add_nodes(ctx, em, r, e, work_id, state, parent_loc, parent_rid, legacy_rid,
               cur_part_tree_index, root_work, emitters, ancestor_creators, ric, status):
    """OutlineMigration.addNodes:767-800."""
    end_loc = None
    res = False
    nodes = C.children(e, NS, "node")
    nb = len(nodes)
    for i, current in enumerate(nodes):
        res = True
        pti = _part_tree_index_str(i + 1, nb)
        this_pti = pti if not cur_part_tree_index else cur_part_tree_index + "." + pti
        end_loc = _add_node(ctx, em, r, current, work_id, state, end_loc, legacy_rid,
                            i + 1, this_pti, root_work, emitters, ancestor_creators,
                            ric, status)
        if i == 0 and parent_rid is not None and end_loc is not None and parent_loc is not None:
            if parent_loc[0] > end_loc[0] or (parent_loc[0] == end_loc[0] and parent_loc[1] > end_loc[1]):
                ctx.error("outline", work_id, end_loc[4], "location",
                          "starts before the beginning of parent node")
    if parent_rid is not None and end_loc is not None and parent_loc is not None:
        if parent_loc[2] < end_loc[2] or (parent_loc[2] == end_loc[2] and parent_loc[3] < end_loc[3]):
            ctx.error("outline", work_id, end_loc[4], "location",
                      "ends after the end of parent node")
    return res
