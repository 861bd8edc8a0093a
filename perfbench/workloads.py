"""The workloads: what one pass runs, how its output is checked, and the
driver-side spans its traced passes record."""

from __future__ import annotations

import contextlib
import functools
import os
import shutil
from pathlib import Path

from perfbench import checks, inputs

# registered queries whose only input is the documents table: one or two
# per operator module, the ones the open optimisation items target (all 24
# such queries cost 25-45 s a pass, more than a run's time budget). Two
# are left out because their results differ from their DuckDB oracles on
# these tables (see README.md): dedup_decisions and quality_classifier, the
# only query that reaches operators.classifier, so that layer is unmeasured
DOC_MODULES = {
    "dedup": ("exact_dedup", "near_dup_pairs"),
    "textstats": ("text_stats", "quality_decisions"),
    "bpe": ("bpe_tokens",),
    "sampling": ("training_mix",),
}
DOC_QUERIES = tuple(q for qs in DOC_MODULES.values() for q in qs)


class JobGroups:
    """Names every Spark job: one group per pass, or per query / wave."""

    def __init__(self, sc):
        self.sc = sc
        self.seen: dict[str, list[str]] = {}  # pass group → groups used

    def use(self, group: str, pass_group: str | None = None) -> None:
        used = self.seen.setdefault(pass_group or group, [])
        if group not in used:
            used.append(group)
        self.sc.setJobGroup(group, group)


class CrawlJob:
    """``run_extract_job`` into partitioned parquet with manifests, stopped
    after half of its waves and resumed to completion."""

    # the job's default shape, that of run_extract_job and its command line
    PARTITIONS = 64  # checkpoint partitions
    WAVES = 8
    STOP_AFTER = WAVES // 2

    def __init__(self, spark, d: Path, n: int, groups: JobGroups, work: Path):
        self.spark, self.n, self.groups, self.work = spark, n, groups, work
        self.pages = spark.read.parquet(str(d / "pages.parquet"))
        self.truth = inputs.load_truth(d)
        self.out: Path | None = None
        self.resume_walls: dict[str, float] = {}
        self.redo: list[float] = []  # partitions redone on resume ÷ pending

    def run_pass(self, group: str) -> None:
        import time

        from jobs.extract import run_extract_job

        self.groups.use(group)
        if self.out is not None:
            shutil.rmtree(self.out, ignore_errors=True)
        self.out = self.work / f"job-{group}"
        run_extract_job(self.spark, self.pages, str(self.out), waves=self.WAVES,
                        max_waves=self.STOP_AFTER, checkpoint_partitions=self.PARTITIONS)
        t0 = time.perf_counter()
        done = run_extract_job(self.spark, self.pages, str(self.out), waves=self.WAVES,
                               checkpoint_partitions=self.PARTITIONS)
        self.resume_walls[group] = time.perf_counter() - t0
        pending = self.PARTITIONS - len(done["skipped_partitions"])
        self.redo.append(len(done["processed_partitions"]) / max(pending, 1))

    def check(self) -> list[str]:
        from jobs.extract import load_manifest

        self.groups.use("check")
        out = (self.spark.read.parquet(str(self.out / "extracted"))
               .select("url", "kind", "error", "text").collect())
        bad = checks.check_pages([r.asDict() for r in out], self.truth)
        return bad + checks.check_manifest(load_manifest(str(self.out)), self.PARTITIONS, self.n)

    def written_bytes(self) -> int:
        return sum(p.stat().st_size for p in (self.out / "extracted").rglob("*.parquet"))

    @contextlib.contextmanager
    def traced(self, tracer, group: str):
        """Spans around the job's wave steps: each parquet write (own job
        group, so its stages can be told apart), the metrics re-read, the
        manifest commits and the resume planning read of the manifest."""
        if tracer is None:
            yield
            return
        import jobs.extract as job
        from pyspark.sql.classic.dataframe import DataFrame
        from pyspark.sql.readwriter import DataFrameWriter

        saved = [(job, "_commit_manifest"), (job, "load_manifest"),
                 (DataFrameWriter, "parquet"), (DataFrame, "collect")]
        saved = [(o, a, getattr(o, a)) for o, a in saved]
        groups = self.groups
        write = tracer.wrap("job.write", DataFrameWriter.parquet)

        def grouped_write(*args, **kwargs):
            groups.use(f"{group}:write{len(groups.seen[group])}", group)
            try:
                return write(*args, **kwargs)
            finally:
                groups.use(group, group)

        tracer.patch(job, "_commit_manifest", "job.manifest")
        tracer.patch(job, "load_manifest", "job.plan")
        DataFrameWriter.parquet = grouped_write
        tracer.patch(DataFrame, "collect", "job.metrics_reread")
        try:
            yield
        finally:
            for owner, attr, fn in saved:
                setattr(owner, attr, fn)


class DocOps:
    """The documents-only registered queries, each collected to the driver."""

    def __init__(self, spark, d: Path, n: int, groups: JobGroups):
        import __spark_entry__ as entry

        self.spark, self.n, self.groups, self.dir = spark, n, groups, str(d)
        registered = entry.queries()
        # query name → call that runs it and collects its result
        self.queries = {q: functools.partial(self._collect, registered[q]) for q in DOC_QUERIES}
        self.walls: dict[str, dict[str, float]] = {}  # pass group → query → s
        self.last: dict = {}

    def _collect(self, query):
        return query(self.spark, self.dir).toPandas()

    def run_pass(self, group: str) -> None:
        import time

        walls = self.walls.setdefault(group, {})
        for name, run in self.queries.items():
            self.groups.use(f"{group}:{name}", group)
            t0 = time.perf_counter()
            self.last[name] = run()
            walls[name] = time.perf_counter() - t0

    def check(self) -> list[str]:
        """Each query's last result vs its DuckDB twin over the same table.
        Oracles whose literals are trained on the data read the table named
        by ``ENTRY_TEST_SF``."""
        import duckdb

        os.environ["ENTRY_TEST_SF"] = self.dir
        import __spark_entry__ as entry

        oracles = entry.oracle_sql()
        con = duckdb.connect()
        try:
            con.execute(f"CREATE VIEW documents AS SELECT * FROM '{self.dir}/documents.parquet'")
            return [f"{q}: result differs from its DuckDB oracle"
                    for q in self.queries
                    if not checks.same_result(self.last[q], con.execute(oracles[q]).df())]
        finally:
            con.close()

    @contextlib.contextmanager
    def traced(self, tracer, group: str):
        """One span per query call."""
        if tracer is None:
            yield
            return
        originals = dict(self.queries)
        self.queries = {q: tracer.wrap(f"doc_ops.{q}", fn) for q, fn in originals.items()}
        try:
            yield
        finally:
            self.queries = originals
