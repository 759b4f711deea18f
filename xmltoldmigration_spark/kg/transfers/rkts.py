"""rKTs TTL transfer — reference: rKTsTransfer.java:36-185 (J20).

The reference does no migration of its own here: it merges a directory of
Turtle files (the output of the external rKTs migration) into the graph
store —

- `<rid>_*.ttl` / `<rid>.ttl` where the base RID is one of the known
  canonical-edition instances (rKTsTransfer.initLists:41-75): triples
  union into that edition's instance graph (or, with splitOutlines, into
  a freshly seeded `O<rid[2:]>` outline graph, java:80-88).
- any other `<workName>.ttl`: becomes/extends the work graph `workName`;
  `WA0R*` abstracts additionally get a released CC0 AdminData sidecar
  (java:168-175).  Merging with an already-migrated graph of the same
  name (java:159-167) falls out of the pipeline's end-of-chain
  union + dropDuplicates — no file re-read is needed.

Spark shape: one `spark.read.text(wholetext)` scan over the TTL
directory, TTL parsing in `mapInArrow` (non-SQL, record-local, zero
shuffle), output in the tagged parse schema so the rows union into the
pipeline as a second source exactly like the CSV transfers.  Unreadable
files degrade to error rows (java:138-141 prints and continues).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from xmltoldmigration_spark.kg.model import (
    ADM,
    BDA,
    BDO,
    BDR,
    RDF_TYPE,
    Emitter,
    iri,
    lit,
)
from xmltoldmigration_spark.kg.parse import PARSED_SCHEMA, emitter_rows, error_row, to_batches

# rKTsTransfer.initLists:41-75 (duplicates in the reference list collapse:
# RidModels is a map keyed by RID)
EDITION_RIDS = (
    "MW22084", "MW4CZ5369", "MW1PD96682", "MW4CZ7445", "MW22703",
    "MW26071", "MW29468", "MW1PD96685", "MW22083", "MW1GS66030",
    "MW23703", "MW22704", "MW1KG13126", "MW1PD95844", "MW23702",
    "MW1PD96684", "MW1PD127393", "MW1KG14700", "MW4PD3142",
    "MW1KG12671", "MW3CN1302", "MW1KG13607", "MW4CZ45313",
    "MW3CN20612", "MW2KG5015", "MW2PD17098", "MW2KG5014", "MW30532",
)


def edition_seed_emitters(split_outlines: bool) -> list[Emitter]:
    """initListsForRID's splitOutlines branch (java:80-88): every known
    edition gets a seeded outline root graph O<rid[2:]>, released."""
    from xmltoldmigration_spark.kg import common as C

    if not split_outlines:
        return []
    out = []
    for rid in EDITION_RIDS:
        orid = "O" + rid[2:]
        em = Emitter(graph=orid)
        em.add(BDR + orid, RDF_TYPE, iri(BDO + "Outline"))
        em.add(BDR + orid, BDO + "legacyOutlineNodeRID", lit(orid))
        em.add(BDR + orid, BDO + "outlineOf", iri(BDR + rid))
        adm = C.create_admin_root(em, BDR + orid)
        C.add_status(em, adm, "released")
        out.append(em)
    return out


def triples_for_file(file_name: str, text: str, split_outlines: bool = False):
    """One TTL file -> (graph, [parsed-schema rows]).  Pure, record-local."""
    from xmltoldmigration_spark.kg.ttl import parse_ttl

    rid = file_name.rsplit("/", 1)[-1][: -len(".ttl")]
    base = rid.split("_", 1)[0]
    rows: list[tuple] = []
    is_edition = "_" in rid or base in EDITION_RIDS
    if is_edition and base not in EDITION_RIDS:
        # java:129-131 "rKTs-migration: cannot find <base>"
        rows.append(error_row(base, rid, "rkts", f"cannot find edition {base}"))
        return rows
    graph = (("O" + base[2:]) if split_outlines else base) if is_edition else rid
    try:
        triples = parse_ttl(text)
    except Exception as e:  # java:138-141: report and continue
        rows.append(error_row(graph, rid, "rkts", e))
        return rows
    for (s, p, k, v, lang, dt) in triples:
        rows.append(("triple", graph, s, p, k, v, lang, dt))
    if not is_edition and rid.startswith("WA0R"):
        # java:168-175: released CC0 AdminData for rKTs abstracts
        adm_s = BDA + rid
        for p, o in (
            (RDF_TYPE, iri(ADM + "AdminData")),
            (ADM + "adminAbout", iri(BDR + rid)),
            (ADM + "status", iri(BDA + "StatusReleased")),
            (ADM + "metadataLegal", iri(BDA + "LD_rKTs_CC0")),
        ):
            rows.append(("triple", graph, adm_s, p, o[0], o[1], o[2], o[3]))
    return rows


def rkts_parsed(spark: SparkSession, ttl_dir: str,
                split_outlines: bool = False) -> DataFrame:
    """TTL directory -> tagged parse-output rows (kg/parse.py schema)."""
    from pyspark.sql import functions as F

    src = (
        spark.read.text(f"{ttl_dir.rstrip('/')}/*.ttl", wholetext=True)
        .select(F.input_file_name().alias("path"), F.col("value").alias("content"))
    )
    parsed = src.mapInArrow(
        lambda batches: to_batches(_ttl_rows(batches, split_outlines)),
        schema=PARSED_SCHEMA,
    )
    seeds = edition_seed_emitters(split_outlines)
    if seeds:
        # Typed schema, not bare names: seed rows carry None in o_lang /
        # o_datatype on every row, so name-only inference cannot determine
        # their types (PySparkValueError CANNOT_DETERMINE_TYPE).
        parsed = parsed.unionByName(
            spark.createDataFrame(list(emitter_rows(seeds)), schema=PARSED_SCHEMA))
    return parsed


def _ttl_rows(batches, split_outlines: bool):
    for rb in batches:
        for path, text in zip(rb.column(0).to_pylist(), rb.column(1).to_pylist()):
            yield from triples_for_file(path, text, split_outlines)


# ---------------------------------------------------------------- test data

def write_synthetic_ttl_dir(path: str, n_works: int = 10) -> None:
    """Deterministic synthetic rKTs output for tests/bench: a couple of
    edition files (one with a `_part` split), rKTs abstracts (WA0R…),
    plain work files, and one malformed file."""
    import pathlib

    d = pathlib.Path(path)
    d.mkdir(parents=True, exist_ok=True)
    header = "@prefix bdr: <http://purl.bdrc.io/resource/> .\n" \
             "@prefix bdo: <http://purl.bdrc.io/ontology/core/> .\n" \
             "@prefix skos: <http://www.w3.org/2004/02/skos/core#> .\n"
    for i, rid in enumerate(EDITION_RIDS[:2]):
        body = header + (
            f"bdr:{rid}_{i:03d} a bdo:Instance ;\n"
            f"  skos:prefLabel \"edition part {i}\"@en ;\n"
            f"  bdo:partOf bdr:{rid} .\n"
        )
        (d / f"{rid}_{i:03d}.ttl").write_text(body, encoding="utf-8")
    (d / f"{EDITION_RIDS[2]}.ttl").write_text(
        header + f"bdr:{EDITION_RIDS[2]} bdo:hasSource bdr:WA0RT0001 .\n",
        encoding="utf-8",
    )
    for i in range(n_works):
        wa = f"WA0RT{i:04d}"
        (d / f"{wa}.ttl").write_text(
            header + (
                f"bdr:{wa} a bdo:Work ;\n"
                f"  skos:prefLabel \"rkts work {i}\"@sa-x-ndia .\n"
            ),
            encoding="utf-8",
        )
    (d / "W0RKPLAIN.ttl").write_text(
        header + "bdr:W0RKPLAIN a bdo:Work .\n", encoding="utf-8"
    )
    (d / "MW9NOTANEDITION_001.ttl").write_text(
        header + "bdr:MW9NOTANEDITION a bdo:Instance .\n", encoding="utf-8"
    )
    (d / "BROKEN.ttl").write_text("@prefix bdr <oops .\n", encoding="utf-8")
