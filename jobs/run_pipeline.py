#!/usr/bin/env python
"""spark-submit entry point for the KG-construction pipeline.

Cluster usage (north_rule packaging):

    python tools/package.py                      # builds dist/xmltoldmigration_spark.zip
    spark-submit --py-files dist/xmltoldmigration_spark.zip \
        jobs/run_pipeline.py --src <parquet/iceberg path> --out <dir>

Local smoke:

    python jobs/run_pipeline.py --synthetic 5000 --out /tmp/kg_out

The job is resumable: rerunning with the same --out skips completed
stages (see plans/pipeline.py lineage markers).
"""

from __future__ import annotations

import argparse
import json
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--src", help="parquet path of the (repo,path,commit,lang,content) table")
    ap.add_argument("--synthetic", type=int, help="generate N synthetic records instead")
    ap.add_argument("--fixtures", action="store_true", help="use the reference golden corpus")
    ap.add_argument("--out", required=True)
    ap.add_argument("--no-resume", action="store_true")
    ap.add_argument("--femc-seed", action="store_true",
                    help="seed abstract FEMC works from femc-works.csv "
                         "before migration (MigrationApp.java:758)")
    ap.add_argument("--rkts-dir",
                    help="directory of rKTs-migration TTL output to merge "
                         "as a second source (rKTsTransfer.doTransfer)")
    ap.add_argument("--split-outlines", action="store_true",
                    help="route rKTs edition files into seeded O* outline "
                         "graphs (rKTsTransfer.java:80-88)")
    args = ap.parse_args()

    from pyspark.sql import SparkSession

    from xmltoldmigration_spark.kg.authority import RESOURCES, get_authority
    from xmltoldmigration_spark.plans.pipeline import Pipeline
    from xmltoldmigration_spark.session import ENGINE_CONF, export_pythonpath

    export_pythonpath()
    # the engine's settings; master, shuffle width and memory come from
    # spark-submit
    spark = (SparkSession.builder.appName("xmltoldmigration-kg")
             .config(map=ENGINE_CONF).getOrCreate())
    if args.src:
        from xmltoldmigration_spark.sources.iceberg import load_src

        src = load_src(spark, args.src)
    elif args.synthetic:
        from xmltoldmigration_spark.sources.corpus import load_synthetic_src

        src = load_synthetic_src(spark, args.synthetic)
    elif args.fixtures:
        from xmltoldmigration_spark.sources.corpus import load_fixture_src

        src = load_fixture_src(spark)
    else:
        ap.error("one of --src / --synthetic / --fixtures required")

    # the authority tables are an input like the source: loaded once here
    # and handed to every stage that reads them
    auth = get_authority()
    if not any(auth.row_counts().values()):
        print(f"authority: every table under {RESOURCES} is missing or empty, "
              "running with an empty authority", file=sys.stderr)
    extra = None
    if args.femc_seed:
        from xmltoldmigration_spark.kg.transfers.femc import WORKS_CSV, femc_seed_parsed

        # an optional input like the authority tables: report it, run on
        if WORKS_CSV.exists():
            extra = femc_seed_parsed(spark, auth)
        else:
            print(f"--femc-seed: {WORKS_CSV} not found, no FEMC works seeded",
                  file=sys.stderr)
    if args.rkts_dir:
        from xmltoldmigration_spark.kg.transfers.rkts import rkts_parsed

        rk = rkts_parsed(spark, args.rkts_dir, split_outlines=args.split_outlines)
        extra = rk if extra is None else extra.unionByName(rk)

    pipe = Pipeline(spark, args.out, auth)
    final = pipe.run(src, resume=not args.no_resume, extra_parsed=extra)
    print(json.dumps({"triples": final.count(), "lineage": pipe.lineage()}))
    spark.stop()


if __name__ == "__main__":
    main()
