"""Office migrator — reference: xml2files/OfficeMigration.java:24-42."""

from __future__ import annotations

import xml.etree.ElementTree as ET

from xmltoldmigration_spark.kg import common as C
from xmltoldmigration_spark.kg.common import Ctx
from xmltoldmigration_spark.kg.model import ADM, BDA, BDO, BDR, Emitter, iri

NS = "http://www.tbrc.org/models/office#"


def migrate(root: ET.Element, ctx: Ctx) -> list[Emitter]:
    rid = C.attr(root, "RID")
    em = Emitter(graph=rid)
    main = C.create_root(em, BDR + rid, BDO + "Role")
    adm = C.create_admin_root(em, main)
    C.add_status(em, adm, C.attr(root, "status"))
    em.add(adm, ADM + "metadataLegal", iri(BDA + "LD_BDRC_CC0"))
    C.add_notes(ctx, em, root, main, NS)
    C.add_externals(ctx, em, root, main, NS)
    C.add_log(ctx, em, root, adm, NS)
    C.add_descriptions(ctx, em, root, main, NS, guess_label=True)
    C.finalize_graph(em, adm, "office")
    return [em]
