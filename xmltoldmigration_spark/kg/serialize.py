"""Canonical per-graph serialization (K1).

The reference writes canonically-sorted TriG with explicit predicate
sort priorities so output is deterministic and diffable
(MigrationHelpers.setupSTTL:528-552, modelToOutputStream:587-641).  Here
each named graph serializes to sorted N-Quads-style lines inside one
`applyInPandas` over the graph key — distributed, deterministic, and
safe under retries because line order is a pure sort of row content.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

SERIALIZED_SCHEMA = "graph string, body string, sha256 string"

# the reference's predicate sort priorities put types and labels first
_PRIORITY = {
    "http://www.w3.org/1999/02/22-rdf-syntax-ns#type": 0,
    "http://www.w3.org/2004/02/skos/core#prefLabel": 1,
    "http://www.w3.org/2000/01/rdf-schema#label": 2,
}


def _escape(s: str) -> str:
    return (
        s.replace("\\", "\\\\").replace('"', '\\"').replace("\n", "\\n").replace("\r", "\\r")
    )


def serialize_row(s: str, p: str, kind: str, value: str, lang, dt) -> str:
    if kind == "iri":
        obj = f"<{value}>"
    elif lang:
        obj = f'"{_escape(value)}"@{lang}'
    elif dt:
        obj = f'"{_escape(value)}"^^<{dt}>'
    else:
        obj = f'"{_escape(value)}"'
    return f"<{s}> <{p}> {obj} ."


def _serialize_group(pdf):
    """One named graph's rows -> (graph, canonical body, sha256)."""
    import hashlib

    import pandas as pd

    rows = list(pdf.itertuples(index=False))
    keyed = sorted(
        ((r.subject, _PRIORITY.get(r.predicate, 9), r.predicate),
         serialize_row(r.subject, r.predicate, r.o_kind, r.o_value, r.o_lang, r.o_datatype))
        for r in rows
    )
    body = "\n".join(line for _, line in keyed) + "\n"
    return pd.DataFrame(
        [(rows[0].graph, body, hashlib.sha256(body.encode("utf-8")).hexdigest())],
        columns=["graph", "body", "sha256"],
    )


def serialize_graphs(triples: DataFrame) -> DataFrame:
    """graph table -> one row per named graph: canonical text + sha256.

    The sha256 column is the per-graph content hash used for diffable
    output and idempotent re-publication (the Spark analog of the
    reference's git-diffable TriG files)."""
    cols = ["graph", "subject", "predicate", "o_kind", "o_value", "o_lang", "o_datatype"]
    return triples.select(*cols).groupBy("graph").applyInPandas(_serialize_group, SERIALIZED_SCHEMA)
