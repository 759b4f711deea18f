"""Triple data model, namespaces, and the record-local emitter.

The reference keeps an in-memory Jena Model per record
(MigrationHelpers.xmlToRdf, MigrationHelpers.java:700-741); our unit of
work is a flat, columnar, shuffle-friendly triple row:

    (graph, subject, predicate, o_kind, o_value, o_lang, o_datatype)

o_kind is 'iri' or 'lit'; plain literals carry neither lang nor datatype
(implicit xsd:string), matching Jena's literal model.

Facet (blank-ish) nodes -- names, events, notes, titles, creators, log
entries -- are minted deterministically from (graph, facet prefix,
per-graph counter), mirroring the reference's getFacetNode +
adm:facetIndex scheme (see SURVEY.md §1.2).  Exact hash parity with the
external bdrc-libraries recipe is impossible (the recipe is not in the
reference repo), so parity comparison canonicalizes facet names on both
sides (kg/compare.py), exactly like the reference's own oracle uses graph
isomorphism (MigrationHelpers.isSimilarTo, MigrationHelpers.java:643-645).
"""

from __future__ import annotations

import hashlib
from dataclasses import dataclass, field

# Namespaces (MigrationHelpers.java prefix setup / golden TTL headers)
BDO = "http://purl.bdrc.io/ontology/core/"
BDR = "http://purl.bdrc.io/resource/"
BDA = "http://purl.bdrc.io/admindata/"
BDG = "http://purl.bdrc.io/graph/"
BDU = "http://purl.bdrc.io/resource-nc/user/"
ADM = "http://purl.bdrc.io/ontology/admin/"
BF = "http://id.loc.gov/ontologies/bibframe/"
RDF = "http://www.w3.org/1999/02/22-rdf-syntax-ns#"
RDFS = "http://www.w3.org/2000/01/rdf-schema#"
SKOS = "http://www.w3.org/2004/02/skos/core#"
XSD = "http://www.w3.org/2001/XMLSchema#"
EDTF = "http://id.loc.gov/datatypes/edtf"
VCARD = "http://www.w3.org/2006/vcard/ns#"

RDF_TYPE = RDF + "type"

# Facet prefixes, mirroring bdrc-libraries FacetType as observed in the
# golden corpus (bdr:NM…/EV…/NT…/CR…/CL…/TT…/ID…, bda:LG…).
FACET_NAME = ("NM", BDR)
FACET_EVENT = ("EV", BDR)
FACET_NOTE = ("NT", BDR)
FACET_CREATOR = ("CR", BDR)
FACET_TITLE = ("TT", BDR)
FACET_CONTENT_LOC = ("CL", BDR)
FACET_IDENTIFIER = ("ID", BDR)
FACET_LOG_ENTRY = ("LG", BDA)
FACET_VOLUME = ("VL", BDR)


def iri(v: str) -> tuple[str, str, None, None]:
    return ("iri", v, None, None)


def lit(v: str, lang: str | None = None, datatype: str | None = None):
    return ("lit", v, lang, datatype)


def boolean(v: bool):
    return ("lit", "true" if v else "false", None, XSD + "boolean")


def integer(v: int):
    return ("lit", str(v), None, XSD + "integer")


def gyear(v: int):
    return ("lit", "%04d" % v, None, XSD + "gYear")


@dataclass
class Emitter:
    """Per-record triple sink with deterministic facet minting.

    One Emitter per root entity graph.  Triples are deduplicated with
    insertion-order preserved (Jena Model.add semantics).  The facet
    counter replays the reference's adm:facetIndex so IRIs are a pure
    function of record content + emission order -- safe under Spark task
    retries (SURVEY.md §4 custom-work item c).
    """

    graph: str
    triples: dict = field(default_factory=dict)  # key -> None (ordered set)
    facet_index: int = 1
    # (rez, event_type, event_prop) -> node; CommonMigration.getEvent reuses
    # one facet per (resource, type, prop) so repeated completionDate
    # descriptions merge into a single event (WorkTestFPL golden)
    event_cache: dict = field(default_factory=dict)

    def add(self, s: str, p: str, o: tuple) -> None:
        self.triples[(s, p, o[0], o[1], o[2], o[3])] = None

    def remove(self, s: str, p: str, o: tuple) -> None:
        self.triples.pop((s, p, o[0], o[1], o[2], o[3]), None)

    def remove_matching(self, s: str) -> None:
        """Drop every triple whose subject is `s`."""
        for k in [k for k in self.triples if k[0] == s]:
            del self.triples[k]

    def facet_node(self, facet: tuple[str, str], rdf_type: str | None = None) -> str:
        """Mint a deterministic facet IRI: prefix + md5(graph|prefix|index)[:16]."""
        prefix, ns = facet
        h = hashlib.md5(
            f"{self.graph}|{prefix}|{self.facet_index}".encode()
        ).hexdigest()[:16].upper()
        self.facet_index += 1
        node = f"{ns}{prefix}{h}"
        if rdf_type:
            self.add(node, RDF_TYPE, iri(rdf_type))
        return node

    def rows(self):
        for (s, p, kind, value, lang, dt) in self.triples:
            yield (self.graph, s, p, kind, value, lang, dt)


@dataclass
class RecordResult:
    """Everything one record's migration produces.

    symmetric    -- queued inverse edges (dest_rid, prop, src_rid) for the
                    global completion stage (SymetricNormalization.triplesToAdd);
                    the triples themselves live in the record's Emitters
    errors       -- (etype, rid, sub_rid, prop, msg) rows (ExceptionHelper)
    links        -- (src_rid, prop, dst_rid) outbound references for the
                    dangling-link report (MigrationHelpers.recordLinkTo)
    contents     -- (id, text) side outputs (etext bodies)
    status       -- the record root's status attribute, captured during
                    migrate_record so the parse stage needn't re-parse
    """

    symmetric: list = field(default_factory=list)
    errors: list = field(default_factory=list)
    links: list = field(default_factory=list)
    contents: list = field(default_factory=list)
    status: str = ""
