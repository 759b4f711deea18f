"""The KG-construction pipeline: parse -> link -> symmetric -> canonicalize
-> write, with checkpointing and resume (SURVEY.md §3.4).

Stage 1 (parse) is written to parquet under `out_dir/parsed/`; stages
2-5 are fused into one plan whose only write is `out_dir/graph/` (every
extra written stage would rewrite the whole triple table).  The one side
table, `out_dir/errors/`, is written alongside: parse errors, the ET_GEN
rows of the side joins, dangling links (J3) and imagegroup conflicts
(A4).  Each written stage records a lineage row (stage, partitions,
rows, value hash, wall seconds) in `out_dir/_lineage/`; the fused stages
record their row counts there too.  A `_DONE` marker makes a written
stage skippable: rerunning the pipeline after a failure resumes at
parsed + graph + errors (north_rule resumability), because each is a
pure function of the parse output + the deterministic authority tables.

Scale notes (100 TB / 1000 executors):
- stage 1 (parse) is shuffle-free mapInArrow over the Iceberg scan;
  partition pruning on record type comes free from the `path` predicate.
- stages 2-4 shuffle only the narrow columns they join on; all authority
  joins are broadcast (< 100 MB side).
- the triple table is written partitioned by rdf-type group and hash
  bucket over subject (the reference's own md5-sharding, SURVEY §1.2),
  so downstream per-entity reads prune to one bucket.
- AQE handles skew (hot objects like bdr:LangBo); the symmetric-completion
  aggregation is a two-phase hash aggregate by construction
  (dropDuplicates = partial + final).
"""

from __future__ import annotations

import json
import time
from concurrent.futures import ThreadPoolExecutor
from pathlib import Path

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from xmltoldmigration_spark.kg.model import ADM, BDA, BDO, BDR, RDF_TYPE, XSD
from xmltoldmigration_spark.kg.parse import parse_src, split_streams
from xmltoldmigration_spark.operators.connected_components import union_find

N_SUBJECT_BUCKETS = 64


def _rep_pairs(clusters: dict) -> tuple[tuple[str, str], ...]:
    """(node, representative) pairs for the authority duplicate clusters,
    representative = min reachable id, node != rep only.

    Computed on the driver with `union_find`: the input is the shipped
    cluster CSVs (CommonMigration.java:152-157), ~38k pairs — there is
    nothing distributed about it.
    """
    comp = union_find(list(clusters.items()))
    return tuple((n, c) for n, c in sorted(comp.items()) if n != c)


TRIPLE_COLS = ["graph", "subject", "predicate", "o_kind", "o_value", "o_lang", "o_datatype"]


def _triple(graph, subject, predicate, o_kind, o_value, o_datatype=None) -> list:
    """Select list of a triple-table row without a language tag; each
    argument is a Column or a literal."""
    return [
        F.lit(graph).alias("graph"),
        F.lit(subject).alias("subject"),
        F.lit(predicate).alias("predicate"),
        F.lit(o_kind).alias("o_kind"),
        F.lit(o_value).alias("o_value"),
        F.lit(None).cast("string").alias("o_lang"),
        F.lit(o_datatype).cast("string").alias("o_datatype"),
    ]


def _error(rid, sub_rid, etype, message) -> list:
    """Select list of an errors-table row; each argument is a Column or a
    literal."""
    return [
        F.lit(rid).alias("rid"),
        F.lit(sub_rid).alias("sub_rid"),
        F.lit(etype).alias("etype"),
        F.lit(message).alias("message"),
    ]


def inverse_edges(symmetric: DataFrame, graphs: DataFrame) -> DataFrame:
    """A1: queued inverse edges land in their destination graph iff that
    graph was migrated (the reference only patches existing files,
    MigrationApp.insertMissingSymetricTriples:547-568)."""
    return (
        symmetric.dropDuplicates(["dest_rid", "prop", "src_rid"])
        .join(graphs, symmetric.dest_rid == graphs.graph, "leftsemi")
        .select(*_triple(
            F.col("dest_rid"),
            F.concat(F.lit(BDR), "dest_rid"),
            F.concat(F.lit(BDO), "prop"),
            "iri",
            F.concat(F.lit(BDR), "src_rid"),
        ))
    )


def dangling_links(streams: dict) -> DataFrame:
    """J3: links to targets that are absent or not released."""
    released = streams["statuses"].filter(F.col("status") == "released").select(
        F.col("rid").alias("dst_rid")
    )
    return streams["links"].join(released, "dst_rid", "left_anti")


class Pipeline:
    def __init__(self, spark: SparkSession, out_dir: str, auth=None):
        """`auth`: the run's `Authority`, resolved once here on the driver
        (default `get_authority()`) and handed to every stage that reads it."""
        if auth is None:
            from xmltoldmigration_spark.kg.authority import get_authority

            auth = get_authority()
        self.auth = auth
        self.spark = spark
        self.out = Path(out_dir)
        self.out.mkdir(parents=True, exist_ok=True)
        (self.out / "_lineage").mkdir(exist_ok=True)

    # ------------------------------------------------------------ plumbing

    def _stage_dir(self, name: str) -> Path:
        return self.out / name

    def _done(self, name: str) -> bool:
        return (self._stage_dir(name) / "_DONE").exists()

    def _write_stage(self, name: str, df: DataFrame, partition_by: list[str] | None = None,
                     co_scheduled: bool = False):
        t0 = time.time()
        path = str(self._stage_dir(name))
        # lineage metrics ride along with the write via observe() — row
        # count + order-insensitive content hash (bit_xor of row hashes,
        # partition-order invariant) at zero extra passes
        obs = Observation(f"lineage_{name}")
        observed = df.observe(
            obs,
            F.count(F.lit(1)).alias("rows"),
            F.expr("bit_xor(xxhash64(" + ", ".join(df.columns) + "))").alias("value_hash"),
        )
        writer = observed.write.mode("overwrite")
        if partition_by:
            writer = writer.partitionBy(*partition_by)
        writer.parquet(path)
        stats = obs.get
        # per-partition lineage (north_rule): row count per output file read
        # straight from the parquet FOOTERS — no second scan of the data
        # pages (on a cluster the same metadata comes from the FileSystem
        # API / Iceberg manifest; here pyarrow reads each footer locally)
        import pyarrow.parquet as pq

        all_files = sorted(
            p for p in Path(path).rglob("*.parquet") if not p.name.startswith(".")
        )

        def _footer(p):
            return {"file": p.name, "rows": pq.ParquetFile(p).metadata.num_rows}

        # footer reads are I/O-bound; a small pool keeps this out of the
        # per-stage serial component
        with ThreadPoolExecutor(max_workers=8) as ex:
            per_file = list(ex.map(_footer, all_files))
        lineage = {
            "stage": name,
            "rows": stats["rows"],
            "value_hash": str(stats["value_hash"]),
            "wall_s": round(time.time() - t0, 3),
            "partitions": per_file[:512],
            # which authority the run used: numbers from runs with and
            # without the reference tables are not comparable
            "authority_rows": self.auth.row_counts(),
        }
        # the errors stage submitted concurrently with the main graph write:
        # wall_s is ELAPSED under core-sharing (includes scheduler wait),
        # not the stage's exclusive cost — mark it so lineage consumers
        # don't read co-scheduled elapsed time as per-stage work
        if co_scheduled:
            lineage["co_scheduled"] = True
        # At cluster scale a stage writes thousands of files; the per-file
        # list keeps the first 512 but the truncation is MARKED (total file
        # count + remainder row sum) so lineage consumers never mistake the
        # sample for the whole write.
        if len(per_file) > 512:
            lineage["truncated"] = True
            lineage["n_files_total"] = len(per_file)
            lineage["rows_in_unlisted_files"] = sum(r["rows"] for r in per_file[512:])
        with open(self.out / "_lineage" / f"{name}.json", "w") as f:
            json.dump(lineage, f)
        # the marker carries the written schema (data columns first,
        # partition columns last — the order a parquet read returns), so
        # the read-back never infers it: a zero-row write has no files to
        # infer from
        parts = set(partition_by or ())
        schema = T.StructType(
            [f for f in df.schema if f.name not in parts]
            + [f for f in df.schema if f.name in parts]
        )
        (self._stage_dir(name) / "_DONE").write_text(schema.json())
        return self._read_stage(name)

    def _read_stage(self, name: str) -> DataFrame:
        d = self._stage_dir(name)
        schema = T.StructType.fromJson(json.loads((d / "_DONE").read_text()))
        return self.spark.read.schema(schema).parquet(str(d))

    def lineage(self) -> list[dict]:
        rows = []
        for p in sorted((self.out / "_lineage").glob("*.json")):
            rows.append(json.loads(p.read_text()))
        return rows

    # ------------------------------------------------------------ stages

    def run(self, src: DataFrame, resume: bool = True,
            extra_parsed: DataFrame | None = None) -> DataFrame:
        """Stage 1 (parse) is written to parquet; stages 2-5 (link,
        symmetric completion, canonicalize, final write) fuse into ONE
        write — Catalyst pipelines the narrow joins/dedups, and per-stage
        lineage still lands via observe() points inside the single plan.
        Fused because every extra written stage rewrites the whole
        triple table, the single-node bottleneck.  Resume granularity:
        parsed + graph + errors."""
        # stage 1: PARSE (record-local, no shuffle)
        if resume and self._done("parsed"):
            parsed = self._read_stage("parsed")
        else:
            parsed = parse_src(src, self.auth)
            # seed graphs from CSV transfer sources (e.g. the FEMC works
            # seed the reference runs ahead of the XML work migration,
            # MigrationApp.java:758) union in before the stage write
            if extra_parsed is not None:
                parsed = parsed.unionByName(extra_parsed)
            # partition the tagged union by stream: every downstream
            # stage filters on exactly one stream value, so the filter
            # becomes partition PRUNING — the triple chain reads only
            # triple files, the errors table reads only its (tiny)
            # streams instead of re-scanning the full parse output
            parsed = self._write_stage("parsed", parsed, partition_by=["stream"])
        streams = split_streams(parsed)
        # the set of migrated graphs is invariant through the link and
        # side-join stages (they only rewrite objects or add rows into
        # graphs that already exist), so take it from the parsed triples
        # — a column-pruned scan of the parse output — for every
        # existence semi/anti-join (a `.distinct()` over the joined chain
        # would re-execute the whole chain)
        graphs = streams["triples"].select("graph").distinct()
        cores = self.spark.sparkContext.defaultParallelism
        errors_pending = not (resume and self._done("errors"))
        co = cores >= 4 and errors_pending

        def _run_main() -> DataFrame:
            if resume and self._done("graph"):
                return self._read_stage("graph")

            triples = self._propagate_work_admin(self._link(streams), streams)
            triples = triples.unionByName(self._side_joins(streams, graphs)[0])
            obs_link = Observation("linked")
            triples = triples.observe(obs_link, F.count(F.lit(1)).alias("rows"))
            # no dedup here: the single full-row dropDuplicates runs once at
            # the end of the fused chain (_canonicalize) — one shuffle of
            # the big table instead of two
            triples = triples.unionByName(inverse_edges(streams["symmetric"], graphs))
            obs_sym = Observation("completed")
            triples = triples.observe(obs_sym, F.count(F.lit(1)).alias("rows"))
            triples = self._canonicalize(triples)
            final = self._write_stage(
                "graph",
                self._finalize(triples, streams["triples"]),
                partition_by=["type_part"],
            )
            # the graph is empty iff the completed triples are (dedup and
            # the left join to roots keep non-empty input non-empty), and
            # linked is a subset of completed; on an empty chain AQE prunes
            # the observe() points with the rest of the subtree
            graph_rows = json.loads((self.out / "_lineage" / "graph.json").read_text())["rows"]
            for name, obs in (("linked", obs_link), ("completed", obs_sym)):
                with open(self.out / "_lineage" / f"{name}.json", "w") as f:
                    json.dump({"stage": name, "rows": obs.get["rows"] if graph_rows else 0,
                               "fused": True}, f)
            return final

        def _write_errors():
            self._write_stage("errors", self._errors(streams, graphs), co_scheduled=co)

        # the errors table derives from the parse output alone, so a
        # resumed run writes the SAME table as a fresh one.  At >= 4 cores
        # it is SUBMITTED CONCURRENTLY with the main graph write (a
        # multi-tenant scheduler fills the main job's straggler/single-
        # partition gaps with its tiny tasks — on a cluster this would be
        # a parallel job submission from the driver for the same reason;
        # run sequentially the side tables were slower in 4 of 4 A/B
        # pairs).  At 1-2 cores it stays sequential: a concurrent variant
        # was measured at n=400k/local[1] and inflated the side writes ~6x
        # (347 s e2e vs 267 s — interleaved small jobs thrash a
        # single-threaded scheduler and page cache).
        if co:
            with ThreadPoolExecutor(max_workers=2) as ex:
                f_main, f_errors = ex.submit(_run_main), ex.submit(_write_errors)
                final = f_main.result()
                f_errors.result()
            return final
        final = _run_main()
        if errors_pending:
            _write_errors()
        return final

    def _link(self, streams: dict) -> DataFrame:
        """J1: apply run-time discovered redirects (withdrawn records) to
        IRI objects outside the withdrawn record's own graph: like
        MigrationHelpers.sanitizeRID it rewrites references, so the
        record's own admin data still names it.  The static
        ridReplacements table was already applied record-locally in the
        parse stage.  An old RID withdrawn to two targets keeps the
        least."""
        triples = streams["triples"]
        redirects = streams["redirects"].groupBy("old_rid").agg(F.min("new_rid").alias("new_rid"))
        red = redirects.select(
            F.col("old_rid").alias("_old_rid"),
            F.concat(F.lit(BDR), "old_rid").alias("_old_iri"),
            F.concat(F.lit(BDR), "new_rid").alias("_new_iri"),
        )
        # no broadcast hint: redirects are DATA-derived (withdrawn records
        # scale with the corpus, unlike the authority CSVs) — AQE still
        # picks a broadcast join when the side is actually small, without
        # risking a forced driver-side collect of an unbounded table
        return (
            triples.join(
                red,
                (triples.o_kind == "iri")
                & (triples.o_value == F.col("_old_iri"))
                & (triples.graph != F.col("_old_rid")),
                "left",
            )
            .withColumn("o_value", F.coalesce("_new_iri", "o_value"))
            .drop("_old_rid", "_old_iri", "_new_iri")
        )

    def _work_admin(self, streams: dict) -> DataFrame:
        """(_ie, _access, _ric): one row per IE instance from the
        workAdmin content rows."""
        return (
            streams["contents"]
            .filter(F.col("kind").startswith("workAdmin:"))
            .select(
                F.concat(F.lit("IE"), F.expr("substring(substring(kind, 11), 2)")).alias("_ie"),
                F.split("payload", "\\|").alias("_p"),
            )
            .select(
                "_ie",
                F.col("_p")[0].alias("_access"),
                F.col("_p")[2].alias("_ric"),
            )
            # Deterministic per-_ie pick via WHOLE-ROW struct max: keeps an
            # access-bearing row over an empty-access one if a record ever
            # yields multiple workAdmin rows (dropDuplicates(["_ie"]) kept
            # an arbitrary row, making access/ric flap between runs), and
            # never fabricates an (_access, _ric) combination that exists
            # on no source row (independent per-column max() would).
            .groupBy("_ie")
            .agg(F.max(F.struct("_access", "_ric")).alias("_s"))
            .select("_ie", F.col("_s._access").alias("_access"),
                    F.col("_s._ric").alias("_ric"))
        )

    def _propagate_work_admin(self, triples: DataFrame, streams: dict) -> DataFrame:
        """J13: the work record's archiveInfo access overrides the default
        the etext migrator wrote on its IE instance admin
        (EtextMigration.java:494-499 reads WorkMigration.workAccessMap).
        No broadcast hint anywhere: workAdmin rows are data-derived (one
        per migrated work) — AQE broadcasts when actually small."""
        access = self._work_admin(streams).filter(F.col("_access") != "").drop("_ric")
        return (
            triples.join(
                access,
                (triples.graph == F.col("_ie"))
                & (triples.predicate == ADM + "access"),
                "left",
            )
            .withColumn(
                "o_value",
                F.when(F.col("_access").isNotNull(), F.col("_access")).otherwise(
                    F.col("o_value")
                ),
            )
            .drop("_ie", "_access")
        )

    def _page_join(self, streams: dict) -> DataFrame:
        """Page-image refs left-joined to the exploded imagegroup ondisk
        lists: (graph, subject, ig, img, orig, seq-or-null)."""
        contents = streams["contents"]
        # imagegroup ondisk lists -> (ig, lowercase basename, 1-based seq);
        # entries without an extension are skipped WITHOUT consuming a
        # sequence number (java:883-886), hence the filter before posexplode;
        # an imagegroup with two ondisk lists keeps the least
        imgmap = (
            contents.filter(F.col("kind").startswith("imgmap:"))
            .groupBy(F.expr("substring(kind, 8)").alias("ig"))
            .agg(F.min("payload").alias("payload"))
            .select("ig", F.posexplode(
                F.filter(F.split("payload", r"\|"), lambda e: e.contains("."))))
            .select(
                "ig",
                F.lower(F.regexp_replace("col", r"\.[^.]*$", "")).alias("img"),
                (F.col("pos") + 1).alias("seq"),
            )
        )
        refs = (
            contents.filter(F.col("kind").startswith("pageimg:"))
            .select(
                F.expr("substring(kind, 9)").alias("graph"),
                F.split("payload", r"\|").alias("p"),
            )
            .select(
                "graph",
                F.col("p")[0].alias("subject"),
                F.col("p")[1].alias("ig"),
                F.col("p")[2].alias("img"),
                F.col("p")[3].alias("orig"),
            )
        )
        return refs.join(imgmap, ["ig", "img"], "left")

    def _side_joins(self, streams: dict, graphs: DataFrame) -> tuple[DataFrame, DataFrame]:
        """(triples, errors) of the joins that add rows to graphs other
        records migrated.  Computed from the parse output alone, so the
        errors are the same whether the graph chain ran or was resumed.

        - J13 ric: set unconditionally by the reference
          (WorkMigration.java:556-567), so it comes from the UNFILTERED
          admin rows — a "||1" payload (no access, ric set) still
          restricts the etext IE.
        - J14 back-links: the reference re-opens the work/image-instance
          files to add instanceHasReproduction links to the new etext
          instance (EtextMigration.addReproToInstance:344-371); here they
          are forward triples into the instance graph (bdr:M<rid>) and the
          image-instance graph (bdr:<rid>).
        - App-mode etext page seqNums (EtextBodyMigration.java:108-120 +
          MigrationHelpers.getImgmapForImggrp:857-891): UCB-OCR etext
          pages carry image FILE NAMES; their seqNum is the image's
          1-based position in the source imagegroup's ondisk list.  The
          reference re-opens the imagegroup XML per etext; here both sides
          meet in ONE distributed join.  An image absent from the list is
          an error (java:116-117).

        Each J13/J14 candidate carries the ET_GEN row it becomes when its
        graph was not migrated (EtextMigration.java:333-335,351-353), so
        one semi join keeps the triples and one anti join the errors."""
        ric = self._work_admin(streams).filter(F.col("_ric") == "1").select(
            *_triple(F.col("_ie"), F.concat(F.lit(BDA), "_ie"), ADM + "restrictedInChina",
                     "lit", "true", XSD + "boolean"),
            F.lit("ET_GEN:workAdmin").alias("_etype"),
            F.lit("missing IE graph for workAdmin ric propagation").alias("_message"),
        )
        ie = F.concat(F.lit(BDR + "IE"), F.expr("substring(work_rid, 2)"))
        repro = (
            streams["links"]
            .filter(F.col("prop") == "instanceHasReproduction")
            .select(F.col("dst_rid").alias("work_rid"))
            .dropDuplicates(["work_rid"])
            .select("work_rid", F.explode(F.array(F.lit("M"), F.lit(""))).alias("_prefix"))
            .select(
                *_triple(F.concat("_prefix", "work_rid"),
                         F.concat(F.lit(BDR), "_prefix", "work_rid"),
                         BDO + "instanceHasReproduction", "iri", ie),
                F.lit("ET_GEN:repro").alias("_etype"),
                F.concat(F.lit("missing instance graph for back-link to "), ie).alias("_message"),
            )
        )
        candidates = ric.unionByName(repro)
        pages = self._page_join(streams)
        triples = candidates.join(graphs, "graph", "leftsemi").select(*TRIPLE_COLS).unionByName(
            pages.filter(F.col("seq").isNotNull()).select(*_triple(
                F.col("graph"), F.col("subject"), BDO + "seqNum", "lit",
                F.col("seq").cast("string"), XSD + "integer",
            ))
        )
        errors = candidates.join(graphs, "graph", "left_anti").select(
            *_error(F.col("graph"), F.col("graph"), F.col("_etype"), F.col("_message"))
        ).unionByName(
            pages.filter(F.col("seq").isNull()).select(*_error(
                F.col("graph"), F.col("graph"), "ET_GEN:page",
                F.concat(F.lit("cannot find image "), "orig"),
            ))
        )
        return triples, errors

    def _errors(self, streams: dict, graphs: DataFrame) -> DataFrame:
        """The errors table: parse errors, the side joins' ET_GEN rows,
        J3 dangling links (MigrationHelpers.reportMissing:465-478) and A4
        imagegroup conflicts."""
        dangling = dangling_links(streams).select(*_error(
            F.col("src_rid"), F.col("dst_rid"), F.concat(F.lit("J3:"), "prop"),
            F.concat(F.lit("link target "), "dst_rid", F.lit(" is absent or not released")),
        ))
        return (
            streams["errors"]
            .unionByName(self._side_joins(streams, graphs)[1])
            .unionByName(dangling)
            .unionByName(self._imagegroup_conflicts(streams))
        )

    def _imagegroup_conflicts(self, streams: dict) -> DataFrame:
        """A4: an image group claimed by more than one work is an error
        row listing the works in sorted order (MigrationApp.java:106,
        417-426 imageGroupWork map)."""
        claims = streams["links"].filter(
            F.col("prop").startswith("volume:") | (F.col("prop") == "isVolumeOf")
        )
        ig = F.when(
            F.col("prop") == "isVolumeOf", F.col("src_rid")
        ).otherwise(F.col("dst_rid"))
        work = F.when(
            F.col("prop") == "isVolumeOf", F.col("dst_rid")
        ).otherwise(F.col("src_rid"))
        return (
            claims.groupBy(ig.alias("imagegroup"))
            .agg(F.sort_array(F.collect_set(work)).alias("works"))
            .filter(F.size("works") > 1)
            .select(*_error(
                F.col("imagegroup"), F.col("imagegroup"), "A4:imagegroup",
                F.concat(F.lit("imagegroup claimed by works "), F.array_join("works", ", ")),
            ))
        )

    def _canonicalize(self, triples: DataFrame) -> DataFrame:
        """G1/G2: connected components over the duplicate-cluster pair
        lists -> representative rewrite of subject and object columns.

        The pair lists are authority data (~130k rows -> broadcastable);
        at 100 TB the same plan holds because the rewrite side stays small
        while the triple side never shuffles (two broadcast joins).

        The components themselves come from `_rep_pairs(self.auth.clusters)`
        — a pure-Python union-find on the driver: the clusters are the
        shipped CSVs, so spinning three Spark jobs per pipeline run
        (createDataFrame -> count -> collect, ~1.5 s of serial driver
        time) to compute a 38k-entry mapping was pure overhead.
        The distributed operator (operators/connected_components.py)
        remains the path for data-derived edge sets (G1 query)."""
        rep_pairs = _rep_pairs(self.auth.clusters)
        if not rep_pairs:
            return triples.dropDuplicates(TRIPLE_COLS)
        import pandas as pd

        # pandas -> Arrow path: one zero-copy batch instead of per-row
        # Py4J conversion of tens of thousands of tuples
        rep = self.spark.createDataFrame(
            pd.DataFrame(
                [(BDR + n, BDR + c) for n, c in rep_pairs],
                columns=["_n", "_c"],
            )
        )
        # the broadcast hint here is safe (unlike the data-derived sides
        # elsewhere): rep is bounded by the shipped authority cluster
        # CSVs (~38k pairs), not by corpus size
        t = (
            triples.join(F.broadcast(rep), triples.subject == F.col("_n"), "left")
            .withColumn("subject", F.coalesce("_c", "subject"))
            .drop("_n", "_c")
        )
        t = (
            t.join(
                F.broadcast(rep),
                (t.o_kind == "iri") & (t.o_value == F.col("_n")),
                "left",
            )
            .withColumn("o_value", F.coalesce("_c", "o_value"))
            .drop("_n", "_c")
        )
        return t.dropDuplicates(TRIPLE_COLS)

    def _finalize(self, triples: DataFrame, parsed_triples: DataFrame) -> DataFrame:
        """Partitioning columns: rdf-type group of the graph's root + a
        hash bucket over subject (the reference's md5 sharding,
        MigrationApp.getDstFileName:133-147).

        Root types come from `parsed_triples` (the written parse
        output), not from the fully-chained `triples`: the graph->type
        mapping is fixed at parse time (the reference routes each record
        by its migrated type regardless of later cluster rewrites), and
        reading it from the parquet-backed parse stage means the roots
        subquery is one column-pruned scan instead of a second execution
        of the whole link/complete/canonicalize chain."""
        roots = (
            parsed_triples.filter(
                (F.col("predicate") == RDF_TYPE)
                & (F.col("subject") == F.concat(F.lit(BDR), F.col("graph")))
            )
            .groupBy("graph")
            .agg(F.min("o_value").alias("_root_type"))
            .select(
                "graph",
                F.regexp_extract("_root_type", r"([^/#]+)$", 1).alias("type_part"),
            )
        )
        # no broadcast hint: roots has one row per graph (data-derived,
        # unbounded at corpus scale) — AQE broadcasts when actually small
        return (
            triples.join(roots, "graph", "left")
            .withColumn("type_part", F.coalesce("type_part", F.lit("Admin")))
            .withColumn(
                "subject_bucket",
                F.pmod(F.xxhash64("subject"), F.lit(N_SUBJECT_BUCKETS)).cast("int"),
            )
        )
