"""Product migrator — reference: xml2files/ProductMigration.java:36-247.

Products split into bdo:Collection and aut:Subscriber (IP allow-lists,
recursive orgs).  The J19 rewrite of subscriber graphs from a
collection's access/include list (ProductMigration.java:40-142, with the
PR88CT000129 fan-out) is not ported: see COVERAGE.md.
"""

from __future__ import annotations

import xml.etree.ElementTree as ET

from xmltoldmigration_spark.kg import common as C
from xmltoldmigration_spark.kg.common import Ctx
from xmltoldmigration_spark.kg.model import (
    ADM,
    BDA,
    BDO,
    BDR,
    RDF_TYPE,
    SKOS,
    Emitter,
    boolean,
    iri,
    lit,
)

NS = "http://www.tbrc.org/models/product#"
AUT = "http://purl.bdrc.io/ontology/ext/auth/"
ADR = "http://purl.bdrc.io/resource-nc/auth/"

FACET_SUBSCRIBER_ORG = ("SO", ADR)

def get_type(root: ET.Element) -> str:
    """ProductMigration.getType:80-105."""
    accesses = C.elems(root, NS, "access")
    if not accesses:
        return "collection"
    for current in accesses:
        if C.elems(current, NS, "include"):
            return "collection"
        if C.elems(current, NS, "org"):
            return "subscriber"
    return "subscriber"


def migrate(root: ET.Element, ctx: Ctx) -> list[Emitter]:
    if get_type(root) == "collection":
        return migrate_collection(root, ctx)
    return migrate_subscriber(root, ctx)


def migrate_collection(root: ET.Element, ctx: Ctx) -> list[Emitter]:
    rid = C.attr(root, "RID")
    em = Emitter(graph=rid)
    main = BDR + rid
    em.add(main, RDF_TYPE, iri(BDO + "Collection"))  # no :isRoot (no createRoot)
    adm = C.create_admin_root(em, main)
    if rid in ctx.auth.ric:
        em.add(adm, ADM + "isRestrictedInChina", boolean(True))
    C.add_status(em, adm, C.attr(root, "status"))
    em.add(adm, ADM + "metadataLegal", iri(BDA + "LD_BDRC_CC0"))
    C.add_notes(ctx, em, root, main, NS)
    C.add_externals(ctx, em, root, main, NS)
    C.add_log(ctx, em, root, adm, NS)
    C.add_descriptions(ctx, em, root, main, NS, guess_label=True)
    C.finalize_graph(em, adm, "product")
    return [em]


def migrate_subscriber(root: ET.Element, ctx: Ctx) -> list[Emitter]:
    rid = "PRA" + C.attr(root, "RID")[2:]
    em = Emitter(graph=rid)
    main = ADR + rid
    em.add(main, RDF_TYPE, iri(AUT + "Subscriber"))
    adm = C.create_admin_root_for(em, main, rid)
    C.add_status(em, adm, C.attr(root, "status"))
    em.add(adm, ADM + "metadataLegal", iri(BDA + "LD_BDRC_CC0"))
    C.add_notes(ctx, em, root, main, NS)
    C.add_externals(ctx, em, root, main, NS)
    C.add_log(ctx, em, root, adm, NS)
    C.add_descriptions(ctx, em, root, main, NS, guess_label=True)
    for current in C.elems(root, NS, "access"):
        _add_allows(em, main, current)
        _add_orgs(ctx, em, main, current)
    C.finalize_graph(em, adm, "product")
    return [em]


def _add_orgs(ctx: Ctx, em: Emitter, r: str, e: ET.Element) -> None:
    nodes = C.children(e, NS, "org")
    multiple = len(nodes) > 1
    for current in nodes:
        _add_org(ctx, em, r, current, multiple)


def _add_org(ctx: Ctx, em: Emitter, rez: str, org_el: ET.Element, multiple: bool) -> None:
    from xmltoldmigration_spark.functions.text import normalize_string

    org = rez
    name = normalize_string(C.attr(org_el, "name"))
    if multiple:
        org = em.facet_node(FACET_SUBSCRIBER_ORG, AUT + "SubscriberOrganization")
        if name:
            em.add(org, SKOS + "prefLabel", lit(name, "en"))
        em.add(rez, AUT + "subscriberHasOrganization", iri(org))
    elif name:
        em.add(org, SKOS + "altLabel", lit(name, "en"))
    _add_allows(em, org, org_el)
    _add_orgs(ctx, em, org, org_el)


def _add_allows(em: Emitter, r: str, e: ET.Element) -> None:
    for current in C.children(e, NS, "allow"):
        em.add(r, AUT + "hasIPAddress", lit(C.text_of(current).strip()))
