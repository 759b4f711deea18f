"""FEMC works seed — reference: FEMCTransfer.java:37-70 (part of S5).

The main run seeds one abstract Work graph per row of femc-works.csv
before the XML work migration starts (MigrationApp.java:758), so that
`bdr:W1FEMC…` instance records can link to `bdr:WA1FEMC…` abstracts.

CSV columns: 0=WA rid, 1=km title, 2=km-x-twktt title, 3=(unused),
4=(unused), 5=topic rid (workIsAbout), 6=language rid.
"""

from __future__ import annotations

import csv
from pathlib import Path

from xmltoldmigration_spark import REFERENCE_ROOT
from xmltoldmigration_spark.kg import common as C
from xmltoldmigration_spark.kg.common import Ctx
from xmltoldmigration_spark.kg.model import (
    ADM,
    BDA,
    BDO,
    BDR,
    BDU,
    FACET_LOG_ENTRY,
    RDF_TYPE,
    SKOS,
    Emitter,
    iri,
    lit,
)

WORKS_CSV = REFERENCE_ROOT / "src/main/resources/femc-works.csv"


def resources_from_line(line: list[str], ctx: Ctx) -> list[Emitter]:
    """One femc-works.csv row -> one abstract Work graph."""
    rid = line[0]
    em = Emitter(graph=rid)
    main = C.create_root(em, BDR + rid, BDO + "Work")
    adm = C.create_admin_root(em, main)
    C.add_released(em, adm)
    em.add(adm, ADM + "metadataLegal", iri(BDA + "LD_BDRC_CC0"))
    # FEMCTransfer.java:54-57: one InitialDataCreation log entry by U00092
    log = em.facet_node(FACET_LOG_ENTRY)
    em.add(log, RDF_TYPE, iri(ADM + "InitialDataCreation"))
    em.add(log, ADM + "logWho", iri(BDU + "U00092"))
    em.add(adm, ADM + "logEntry", iri(log))
    em.add(main, SKOS + "prefLabel", lit(line[1], "km"))
    em.add(main, SKOS + "prefLabel", lit(line[2], "km-x-twktt"))
    em.add(main, BDO + "workIsAbout", iri(BDR + line[5]))
    em.add(main, BDO + "language", iri(BDR + line[6]))
    return [em]


def load_works_csv(path: Path = WORKS_CSV) -> list[list[str]]:
    with open(path, encoding="utf-8") as f:
        return [row for row in csv.reader(f) if row]


def femc_seed_parsed(spark, auth, path: Path = WORKS_CSV):
    """femc-works.csv -> tagged parse-output rows (kg/parse.py schema) under
    `auth`, ready to union ahead of the XML-derived rows like the reference
    seeds works before the main migration (MigrationApp.java:758)."""
    from xmltoldmigration_spark.kg.transfers.spark import transfer_to_parsed

    rows = load_works_csv(path)
    width = max(len(r) for r in rows)
    cols = [f"c{i}" for i in range(width)]
    padded = [tuple((r + [""] * width)[:width]) for r in rows]
    df = spark.createDataFrame(padded, cols)
    return transfer_to_parsed(df, "femc", auth=auth)
