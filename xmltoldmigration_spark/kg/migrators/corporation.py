"""Corporation migrator — reference: xml2files/CorporationMigration.java:30-96."""

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
    RDF_TYPE,
    iri,
)

NS = "http://www.tbrc.org/models/corporation#"

FACET_CORP_MEMBER = ("CM", BDR)

_MEMBER_TYPE = {
    "marriage": "CorporationMemberByMarriage",
    "blood": "CorporationMemberByBlood",
    "monastic": "CorporationMemberMonastic",
}


def migrate(root: ET.Element, ctx: Ctx) -> list[Emitter]:
    rid = C.attr(root, "RID")
    em = Emitter(graph=rid)
    main = C.create_root(em, BDR + rid, BDO + "Corporation")
    adm = C.create_admin_root(em, main)
    C.add_status(em, adm, C.attr(root, "status"))
    em.add(adm, ADM + "metadataLegal", iri(BDA + "LD_BDRC_CC0"))
    C.add_names(ctx, em, root, main, NS)
    C.add_notes(ctx, em, root, main, NS)
    C.add_externals(ctx, em, root, main, NS)
    C.add_log(ctx, em, root, adm, NS)
    C.add_descriptions(ctx, em, root, main, NS)

    for current in C.elems(root, NS, "member"):
        person = C.attr(current, "person")
        if not person:
            continue
        mtype = BDO + _MEMBER_TYPE.get(C.attr(current, "type").strip(), "CorporationMember")
        member = em.facet_node(FACET_CORP_MEMBER, mtype)
        em.add(main, BDO + "corporationHasMember", iri(member))
        em.add(member, BDO + "corporationMember", iri(BDR + person))

    for current in C.elems(root, NS, "region"):
        place = C.attr(current, "place")
        if place:
            em.add(main, BDO + "corporationRegion", iri(BDR + place))
    C.finalize_graph(em, adm, "corporation")
    return [em]
