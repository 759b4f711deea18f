"""Taxonomy migrator — reference: xml2files/TaxonomyMigration.java:24-123 (G4)."""

from __future__ import annotations

import xml.etree.ElementTree as ET

from xmltoldmigration_spark.kg import common as C
from xmltoldmigration_spark.kg.common import Ctx
from xmltoldmigration_spark.kg.model import BDO, BDR, RDF_TYPE, SKOS, Emitter, iri, lit

NS = "http://www.tbrc.org/models/outline#"


class _Counter:
    def __init__(self):
        self.i = 0


def migrate(root: ET.Element, ctx: Ctx) -> list[Emitter]:
    rid = C.attr(root, "RID")
    em = Emitter(graph=rid)
    main = BDR + rid
    # createRoot(m, ..., null) adds only isRoot; the Taxonomy type follows
    em.add(main, BDO + "isRoot", ("lit", "true", None, "http://www.w3.org/2001/XMLSchema#boolean"))
    em.add(main, RDF_TYPE, iri(BDO + "Taxonomy"))
    adm = C.create_admin_root(em, main)
    C.add_log(ctx, em, root, adm, NS)
    counter = _Counter()
    _add_nodes(ctx, em, main, root, rid, counter)
    C.finalize_graph(em, adm, "outline")
    return [em]


def _add_names(ctx: Ctx, em: Emitter, e: ET.Element, r: str) -> None:
    if C._local(r).startswith("T"):
        # topic labels live in the topics graph, not the taxonomy
        return
    for current in C.children(e, NS, "name"):
        if not C.text_of(current).strip():
            continue
        lv = C.get_literal(ctx, current, C.EWTS, "name", C._local(r), C._local(r))
        if lv is not None and lv[1] not in ("bo", "zh-latn-pinyin-x-ndia"):
            em.add(r, SKOS + "prefLabel", lit(lv[0], lv[1]))


def _add_node(ctx: Ctx, em: Emitter, r: str, e: ET.Element, work_id: str, counter: _Counter) -> None:
    counter.i += 1
    clazz = C.attr(e, "class")
    rid = C.attr(e, "RID")
    if not clazz:
        value = rid if rid else work_id + "_%04d" % counter.i
        node = BDR + value
        em.add(node, RDF_TYPE, iri(BDO + "Taxonomy"))
    else:
        node = BDR + clazz.strip()
    _add_names(ctx, em, e, node)
    em.add(r, BDO + "taxHasSubClass", iri(node))
    _add_nodes(ctx, em, node, e, work_id, counter)


def _add_nodes(ctx: Ctx, em: Emitter, r: str, e: ET.Element, work_id: str, counter: _Counter) -> None:
    for current in C.children(e, NS, "node"):
        _add_node(ctx, em, r, current, work_id, counter)
