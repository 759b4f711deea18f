"""Topic migrator — reference: xml2files/TopicMigration.java:27-58."""

from __future__ import annotations

import xml.etree.ElementTree as ET

from xmltoldmigration_spark.kg import common as C
from xmltoldmigration_spark.kg.common import Ctx
from xmltoldmigration_spark.kg.model import ADM, BDA, BDO, BDR, RDFS, Emitter, boolean, iri

NS = "http://www.tbrc.org/models/topic#"


def migrate(root: ET.Element, ctx: Ctx) -> list[Emitter]:
    rid = C.attr(root, "RID")
    em = Emitter(graph=rid)
    main = C.create_root(em, BDR + rid, BDO + "Topic")
    adm = C.create_admin_root(em, main)
    C.add_status(em, adm, C.attr(root, "status"))
    if rid in ctx.auth.ric:
        em.add(adm, ADM + "restrictedInChina", boolean(True))
    em.add(adm, ADM + "metadataLegal", iri(BDA + "LD_BDRC_CC0"))
    C.add_names(ctx, em, root, main, NS)
    C.add_notes(ctx, em, root, main, NS)
    C.add_externals(ctx, em, root, main, NS)
    C.add_log(ctx, em, root, adm, NS)
    C.add_descriptions(ctx, em, root, main, NS)
    for current in C.elems(root, NS, "seeAlso"):
        value = C.attr(current, "rid").strip()
        em.add(main, RDFS + "seeAlso", iri(BDR + value))
    C.finalize_graph(em, adm, "topic")
    return [em]
