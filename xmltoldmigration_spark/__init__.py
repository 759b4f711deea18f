"""xmltoldmigration_spark — a from-scratch PySpark-native KG-construction engine.

Re-expresses the semantics of buda-base/xmltoldmigration (TBRC-XML -> BDRC-RDF
batch migration; see SURVEY.md) as staged DataFrame transforms:

- ``kg/``        the knowledge-graph construction pipeline (parse -> link ->
                 symmetric completion -> canonicalize -> finalize -> write)
- ``operators/`` reusable distributed operators (connected components,
                 symmetric edge completion, minhash-LSH dedup, ANN, ...)
- ``queries/``   SURVEY.md §2 operator embodiments over the synthetic
                 /root/testdata tables, each paired with a DuckDB oracle
- ``streaming/`` Structured Streaming variants of the event-table operators

Everything is DataFrame-first: Catalyst owns the physical plan; Python only
runs inside Arrow-batched pandas UDFs (parse stage, text scalar functions).
"""

from pathlib import Path

__version__ = "0.1.0"

# The buda-base/xmltoldmigration checkout: authority resources, the golden
# XML/TTL corpus and the transfer fixtures are read from here when present.
REFERENCE_ROOT = Path("/root/reference")
