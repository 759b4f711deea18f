"""The three workloads.  Each is a closed loop with one caller.

run.py drives a workload object in this order: `setup()` several times
(input generation and materialization; the median counts), `prepare()`
once, `iterate(0)` as the warm-up, then `iterate(1)`, `iterate(2)`, ...
until the measuring time is up.  `iterate()` returns the number of output
rows and a list of output-check problems; it raises when the program
fails.  `layers` names the layers a workload calls; a traced run measures
those and reports 0 for the others.
"""

from __future__ import annotations

import shutil
from pathlib import Path

from perfbench import checks
from perfbench.spans import Spans

KG_RECORDS = 5000

# Headline queries left out of queries_headline because they give wrong
# answers on some inputs.  Both measure the gap between events with
# unix_timestamp, which drops the fraction of a second, so a gap between
# 1800 and 1801 s does not start a new session although their own oracle
# (and the 30-minute rule) says it does.  The seeded events carry
# microsecond timestamps, like the repo's test tables, and about one seed
# in ten has such a gap.  Put them back once the queries are fixed.
KNOWN_WRONG = ("stream_sessionization", "stream_stateful_sessionization")


def headline() -> list[str]:
    """The bench.HEADLINE queries this benchmark runs, in their order."""
    from bench import HEADLINE

    return [n for n in HEADLINE if n not in KNOWN_WRONG]


class KgBuild:
    """Pipeline.run(resume=False) over a seeded synthetic corpus."""

    name = "kg_build"
    layers = ("corpus", "migrators", "parse", "pipeline")

    def __init__(self, spark, seed: int, work: Path, spans: Spans):
        self.spark, self.seed, self.work, self.spans = spark, seed, work, spans
        self.src = None
        self.src_mb = 0.0
        self.expected = checks.KG_PINS.get((seed, KG_RECORDS))
        self.lineage: list[dict] = []
        self.out_dirs: dict[int, str] = {}

    def prepare(self) -> None:
        pass

    def setup(self) -> None:
        """Generate the corpus and write it as parquet, two files per core
        (same layout as kg/bench.py, so the parse stage gets every core)."""
        from xmltoldmigration_spark.sources.corpus import load_synthetic_src

        par = self.spark.sparkContext.defaultParallelism
        path = self.work / "src"
        shutil.rmtree(path, ignore_errors=True)
        with self.spans.span("corpus.load_synthetic_src"):
            load_synthetic_src(self.spark, KG_RECORDS, seed=self.seed,
                               num_partitions=2 * par).write.parquet(str(path))
        total = sum(p.stat().st_size for p in path.glob("*.parquet"))
        self.src_mb = total / 2**20
        self.spark.conf.set("spark.sql.files.maxPartitionBytes",
                            str(max(total // (2 * par), 2**20)))
        self.src = self.spark.read.parquet(str(path))

    def _run_pipeline(self, out: Path, resume: bool, i: int) -> list[dict]:
        from xmltoldmigration_spark.plans.pipeline import Pipeline

        with self.spans.span("pipeline.Pipeline.run", iteration=i):
            pipe = Pipeline(self.spark, str(out))
            pipe.run(self.src, resume=resume)
        with self.spans.span("pipeline.Pipeline.lineage", iteration=i):
            return pipe.lineage()

    def _check(self, lineage: list[dict]) -> tuple[int, list[str]]:
        graph = next(r for r in lineage if r["stage"] == "graph")
        got = (graph["rows"], graph["value_hash"])
        if self.expected is None:
            self.expected = got  # first run of an unpinned seed is the reference
        problems = []
        if got != self.expected:
            problems.append(f"graph (rows, value_hash) {got} != expected {self.expected}")
        if graph["rows"] <= 0:
            problems.append("empty graph")
        return graph["rows"], problems

    def iterate(self, i: int) -> tuple[int, list[str]]:
        out = self.work / f"kg{i}"
        shutil.rmtree(out, ignore_errors=True)
        self.out_dirs[i] = str(out)
        with self.spans.span("iteration", iteration=i):
            self.lineage = self._run_pipeline(out, resume=False, i=i)
        result = self._check(self.lineage)
        shutil.rmtree(out, ignore_errors=True)
        return result


class KgRelink(KgBuild):
    """Re-link after authority/redirect changes: only the `graph` stage
    is rebuilt, from the stored parse output."""

    name = "kg_relink"
    layers = ("corpus", "pipeline")

    def prepare(self) -> None:
        # the full build is the reference every re-link must reproduce
        self.out = self.work / "kg"
        with self.spans.span("setup.full_build"):
            self.lineage = self._run_pipeline(self.out, resume=False, i=-1)
        self.build_check = self._check(self.lineage)

    def iterate(self, i: int) -> tuple[int, list[str]]:
        shutil.rmtree(self.out / "graph")
        self.out_dirs[i] = str(self.out)
        with self.spans.span("iteration", iteration=i):
            self.lineage = self._run_pipeline(self.out, resume=True, i=i)
        rows, problems = self._check(self.lineage)
        return rows, self.build_check[1] + problems


class QueriesHeadline:
    """The bench.HEADLINE queries except KNOWN_WRONG, each forced through the
    noop sink, over tables generated from the seed."""

    name = "queries_headline"
    layers = ("queries",)

    def __init__(self, spark, seed: int, work: Path, spans: Spans):
        from xmltoldmigration_spark.queries import registry

        self.spark, self.seed, self.work, self.spans = spark, seed, work, spans
        self.registry = registry()
        # The seed varies the tables, not the order: the first timed pass
        # is still warming the JIT, so a query's time depends on its place
        # in the pass, and a fixed order keeps that the same in every run.
        self.order = headline()
        self.data = work / "tables"
        self.results: dict[str, tuple[list, list[str]]] = {}
        self.rows = 0

    def prepare(self) -> None:
        pass

    def setup(self) -> None:
        from perfbench.qdata import write_tables

        shutil.rmtree(self.data, ignore_errors=True)
        with self.spans.span("queries.tables"):
            write_tables(self.seed, self.data)

    def _collect(self, name: str) -> None:
        with self.spans.span(f"queries.{name}", iteration=0):
            df = self.registry[name].fn(self.spark, str(self.data))
            self.results[name] = ([tuple(r) for r in df.collect()], df.columns)

    def iterate(self, i: int) -> tuple[int, list[str]]:
        """Pass 0 is the warm-up: it collects every result for the checks
        and runs the queries from one thread per core.  Timed passes run
        one query at a time."""
        with self.spans.span("iteration", iteration=i):
            if i == 0:
                from concurrent.futures import ThreadPoolExecutor

                with ThreadPoolExecutor(self.spark.sparkContext.defaultParallelism) as ex:
                    list(ex.map(self._collect, self.order))
                self.rows = sum(len(rows) for rows, _ in self.results.values())
                return self.rows, []
            for name in self.order:
                with self.spans.span(f"queries.{name}", iteration=i):
                    self.registry[name].fn(self.spark, str(self.data)).write.format(
                        "noop").mode("overwrite").save()
        return self.rows, []

    def check(self) -> dict[str, list[str]]:
        """Per query, the problems of its warm-up result against its DuckDB
        oracle; for the two queries with no SQL oracle, against a
        driver-side reference and the approximate-search invariants."""
        from xmltoldmigration_spark.queries.similarity import K, N_QUERIES

        oracles = {n: self.registry[n].oracle for n in self.order
                   if self.registry[n].oracle is not None}
        expected = checks.duckdb_results(self.data, oracles)
        expected["dedup_simhash"] = checks.simhash_expected(self.data)
        out = {}
        for name in self.order:
            rows, cols = self.results[name]
            if name == "ann_lsh_bucketed":
                out[name] = checks.lsh_problems(self.data, rows, K, N_QUERIES)
            else:
                out[name] = checks.problems((rows, cols), expected[name],
                                            checks.ROUNDED.get(name))
        return out


WORKLOADS = {w.name: w for w in (KgBuild, KgRelink, QueriesHeadline)}
