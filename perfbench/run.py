#!/usr/bin/env python3
"""Seeded, layer-attributed benchmark of the extraction engine.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. The workload's inputs are generated from the
seed (cached under ``.perfbench/inputs``); the program runs on them at
``local[<cores>]`` in this one driver process, repeating whole passes for
``--seconds``; afterwards the output is checked against an independent
truth. The last stdout line is one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``: the end-to-end metrics with
``--trace 0``, the per-layer metrics of a separate traced run with
``--trace 1``. Exit code 1 when an output check fails, 2 when the program
is not there to run. ``perfbench/README.md`` defines every metric.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
import zipfile
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
STATE = REPO / ".perfbench"
TMP = STATE / "tmp"

WORKLOADS = ("crawl_job", "doc_ops")
SIZE = 1000  # documents in either workload's input
SETUPS = 3  # session starts per untraced run; setup_s is their median
KINDS = ("pdf", "html", "error", "empty")
_EXTRACT_MODULE = "b_pdf_parser_spark.operators.extract"
_PROBE_HTML = b"<html><body><article><p>probe</p></article></body></html>"


def cores() -> int:
    return len(os.sched_getaffinity(0))


def _med(xs) -> float:
    return statistics.median(xs) if xs else 0.0


def _mean(xs) -> float:
    return sum(xs) / len(xs) if xs else 0.0


def start_session(n_cores: int):
    """Session start, package ship and Python worker spawn, up to the first
    batch returned: one probe document through ``extract_pages``."""
    from datetime import datetime

    import b_pdf_parser_spark
    from b_pdf_parser_spark.operators.extract import extract_pages
    from b_pdf_parser_spark.sources.pages import PAGES_SCHEMA_DDL
    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master(f"local[{n_cores}]")
        .appName("perfbench")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.driver.memory", "2g")
        .config("spark.sql.shuffle.partitions", str(max(2 * n_cores, 16)))
        .config("spark.local.dir", str(TMP))
        .config("spark.driver.extraJavaOptions", f"-Djava.io.tmpdir={TMP}")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    b_pdf_parser_spark.ship_package(spark)
    probe = spark.createDataFrame(
        [("https://probe.example/0", datetime(2024, 1, 1), _PROBE_HTML, None, None)],
        PAGES_SCHEMA_DDL,
    )
    extract_pages(probe).collect()
    return spark


class Bench:
    """One run: the session, the workload on it, and its passes."""

    def __init__(self, workload: str, d: Path, n: int, seconds: float):
        self.name, self.d, self.n, self.seconds = workload, d, n, seconds
        self.spark = None
        self.wl = None

    def open(self, n_cores: int) -> float:
        """(Re)start the session; returns the set-up seconds."""
        from perfbench import workloads

        if self.spark is not None:
            self.spark.stop()
        t0 = time.perf_counter()
        self.spark = start_session(n_cores)
        setup = time.perf_counter() - t0
        groups = workloads.JobGroups(self.spark.sparkContext)
        if self.name == "crawl_job":
            self.wl = workloads.CrawlJob(self.spark, self.d, self.n, groups, STATE / "work")
        else:
            self.wl = workloads.DocOps(self.spark, self.d, self.n, groups)
        return setup

    def passes(self, prefix: str, seconds: float, tracer=None) -> list[tuple[str, float]]:
        """Whole passes, at least one, until ``seconds`` have elapsed:
        (job group, wall) of each."""
        out = []
        t_end = time.perf_counter() + seconds
        while not out or time.perf_counter() < t_end:
            group = f"{prefix}{len(out)}"
            with self.wl.traced(tracer, group):
                t0 = time.perf_counter()
                self.wl.run_pass(group)
                out.append((group, time.perf_counter() - t0))
        return out

    def docs_per_s(self, passes) -> float:
        return self.n / _med([w for _, w in passes])

    def end_to_end(self) -> dict:
        from perfbench import sparkstats

        setups = [self.open(cores()) for _ in range(SETUPS)]
        me = os.getpid()
        cpu0, host0 = sparkstats.tree_cpu_s(me), sparkstats.host_cpu_ticks()
        # timed from the first pass after set-up, as a fresh job runs
        with sparkstats.RssSampler() as rss:
            passes = self.passes("pass", self.seconds)
        cpu = sparkstats.tree_cpu_s(me) - cpu0 - rss.cpu_s
        host1 = sparkstats.host_cpu_ticks()
        steal = (host1[1] - host0[1]) / max(host1[0] - host0[0], 1)
        print(f"perfbench: set-ups {[round(s, 3) for s in setups]} s, passes "
              f"{[round(w, 3) for _, w in passes]} s, host steal {steal:.1%}", file=sys.stderr)
        return {
            "setup_s": (_med(setups), "s"),
            "docs_per_s": (self.docs_per_s(passes), "docs/s"),
            "cpu_s_per_kdoc": (cpu / (self.n * len(passes) / 1000), "s/kdoc"),
            "worker_rss_peak_mb": (rss.peak / 1e6, "MB"),
        }

    def per_layer(self) -> dict:
        """A warm-up pass, untraced passes (Spark-side numbers, base of
        ``trace.overhead``), traced passes (spans), one more untraced pass,
        then one pass at local[1] in the same, already warm JVM."""
        from perfbench import layertrace, sparkstats

        self.open(cores())
        reader = sparkstats.StatusReader(self.spark)
        self.passes("warmup", 0)
        plain = self.passes("pass", self.seconds)
        trace_dir = STATE / "trace"
        shutil.rmtree(trace_dir, ignore_errors=True)
        trace_dir.mkdir(parents=True)
        ship = TMP / "perfbench_trace.zip"
        with zipfile.ZipFile(ship, "w") as z:
            for f in ("__init__.py", "layertrace.py"):
                z.write(REPO / "perfbench" / f, f"perfbench/{f}")
        self.spark.sparkContext.addPyFile(str(ship))
        driver = layertrace.Tracer()
        undo = layertrace.patch_map_in_pandas(str(trace_dir))
        try:
            traced = self.passes("traced", self.seconds, driver)
        finally:
            undo()
        driver.write(trace_dir / "spans-driver.jsonl")
        # untraced passes on both sides of the traced ones, so a JVM still
        # warming up does not read as tracing overhead
        plain += self.passes("pass-after", 0)
        m = layer_metrics(self.wl, reader, plain, traced, layertrace.load(trace_dir),
                          layertrace.load(trace_dir, "spans-driver.jsonl"), self.n)
        m["trace.overhead"] = (self.docs_per_s(traced) / self.docs_per_s(plain), "ratio")
        self.open(1)
        print(f"perfbench: scaling pass on {self.spark.sparkContext.master}", file=sys.stderr)
        single = self.passes("single", 0)
        m["spark.scaling_eff"] = (single[0][1] / _med([w for _, w in plain]) / cores(), "ratio")
        return m

    def check(self) -> list[str]:
        return self.wl.check()

    def attempted(self) -> int:
        from perfbench.workloads import DOC_QUERIES

        return len(DOC_QUERIES) if self.name == "doc_ops" else self.n

    def close(self) -> None:
        """Stop the session and the JVM it runs in, and wait for both."""
        from pyspark import SparkContext

        if self.spark is None:
            return
        self.spark.stop()
        gateway = SparkContext._gateway
        proc = getattr(gateway, "proc", None)
        if gateway is not None:
            gateway.shutdown()
        if proc is not None:
            proc.stdin.close()  # the gateway JVM exits on end of its stdin
            proc.wait(timeout=60)
        for scratch in (STATE / "work", TMP):
            shutil.rmtree(scratch, ignore_errors=True)


def _stage_totals(reader, groups: list[str]) -> dict:
    from perfbench import sparkstats

    stages = [s for g in groups for s in reader.stages(g)]
    return {
        "scan_shuffle_s": sum(s["run_s"] for s in stages if s["shuffle_write_b"] > 0),
        "run_s": sum(s["run_s"] for s in stages),
        "shuffle_mb": sum(s["shuffle_write_b"] for s in stages) / 1e6,
        "skew": sparkstats.heaviest_stage_skew(stages),
        "jobs": sum(len(reader.job_ids(g)) for g in groups),
    }


def _python_mb(reader, groups: list[str], metric: str) -> float:
    """MB through the Python-evaluating plan nodes (the only nodes with the
    "data sent to / returned from Python workers" metrics)."""
    return sum(v for g in groups for _, name, v in reader.sql_metrics(g) if name == metric) / 1e6


def layer_metrics(wl, reader, plain, traced, flushes, driver_flushes, n: int) -> dict:
    """Every per-layer metric (see README.md) from the status store of the
    untraced passes and the spans of the traced ones (``flushes`` all of
    them, ``driver_flushes`` those of the driver's job and query steps); a
    layer the workload does not reach reads 0."""
    from perfbench import layertrace
    from perfbench.workloads import DOC_MODULES, DOC_QUERIES, DocOps

    doc_ops = isinstance(wl, DocOps)
    seen = wl.groups.seen
    own = layertrace.self_times(flushes)
    cnt = layertrace.counters(flushes)
    k = len(traced)
    per = lambda key: own.get(key, 0.0) / k  # noqa: E731
    m: dict[str, tuple[float, str]] = {}

    totals = [_stage_totals(reader, seen[g]) for g, _ in plain]
    m["spark.scan_shuffle_s"] = (_mean([t["scan_shuffle_s"] for t in totals]), "s")
    m["spark.shuffle_write_mb"] = (_mean([t["shuffle_mb"] for t in totals]), "MB")
    m["spark.task_skew"] = (_med([t["skew"] for t in totals]), "ratio")
    m["spark.jobs"] = (_mean([t["jobs"] for t in totals]), "count")
    m["arrow.to_python_mb"] = (
        _mean([_python_mb(reader, seen[g], "data sent to Python workers") for g, _ in plain]), "MB")
    m["arrow.from_python_mb"] = (
        _mean([_python_mb(reader, seen[g], "data returned from Python workers") for g, _ in plain]),
        "MB")
    m["arrow.roundtrip_s"] = (per("arrow.to_python") + per("arrow.from_python"), "s")

    m["extract.batch_self_s"] = (per("udf.batch:" + _EXTRACT_MODULE) + per("extract.doc"), "s")
    m["extract.batches"] = (cnt.get("udf.batches:" + _EXTRACT_MODULE, 0) / k, "count")
    docs = layertrace.durations(flushes, "extract.doc")
    for kind in KINDS:
        ms = sorted(1e3 * s for tag, s in docs if tag == kind)
        m[f"extract.doc_ms.p50.{kind}"] = (_med(ms), "ms")
        m[f"extract.doc_ms.p99.{kind}"] = (ms[int(0.99 * (len(ms) - 1))] if ms else 0.0, "ms")
        m[f"extract.docs.{kind}"] = (float(len(ms)), "count")
    for part in ("open", "pages", "content", "fonts", "spans", "layout"):
        m[f"pdfmodel.{part}_s"] = (per(f"pdfmodel.{part}"), "s")
    m["pdfmodel.decoded_mb"] = (cnt.get("pdfmodel.decoded_b", 0) / 1e6 / k, "MB")
    m["pdfmodel.pages"] = (cnt.get("pdfmodel.pages", 0) / k, "count")
    m["crypto.decrypt_s"] = (per("crypto.decrypt"), "s")
    m["crypto.decrypted_mb"] = (cnt.get("crypto.decrypted_b", 0) / 1e6 / k, "MB")
    for part in ("decode", "blocks", "tables"):
        m[f"htmlmodel.{part}_s"] = (per(f"htmlmodel.{part}"), "s")
    walks = cnt.get("htmlmodel.table_walks", 0)
    m["htmlmodel.table_hit_ratio"] = (
        cnt.get("htmlmodel.table_hits", 0) / walks if walks else 0.0, "ratio")
    for part in ("metadata", "txn", "summary", "verify"):
        m[f"fields.{part}_s"] = (per(f"fields.{part}"), "s")
    m["fields.strategy_attempts_per_doc"] = (
        cnt.get("fields.strategy_attempts", 0) / len(docs) if docs else 0.0, "count")

    m.update(_job_metrics(wl, reader, traced, per, n))
    for q in DOC_QUERIES:
        walls = [wl.walls[g][q] for g, _ in plain] if doc_ops else []
        m[f"doc_ops.{q}_s"] = (_med(walls), "s")
        m[f"doc_ops.{q}_jobs"] = (
            _mean([len(reader.job_ids(f"{g}:{q}")) for g, _ in plain]) if walls else 0.0, "count")
    for mod, queries in DOC_MODULES.items():
        groups = [[f"{g}:{q}" for q in queries] for g, _ in plain] if doc_ops else []
        m[f"operators.{mod}.shuffle_mb"] = (
            _mean([_stage_totals(reader, gs)["shuffle_mb"] for gs in groups]), "MB")
        m[f"operators.{mod}.arrow_mb"] = (_mean([
            _python_mb(reader, gs, "data sent to Python workers")
            + _python_mb(reader, gs, "data returned from Python workers") for gs in groups]), "MB")

    # share of the traced passes' task time (every stage, the job's writes
    # and each query included) that neither the shuffle-writing stages nor
    # a worker-side span covers; driver-side spans enclose whole steps, so
    # they do not count as cover
    tt = [_stage_totals(reader, seen[g]) for g, _ in traced]
    whole = sum(t["run_s"] for t in tt)
    worker_s = sum(own.values()) - sum(layertrace.self_times(driver_flushes).values())
    covered = sum(t["scan_shuffle_s"] for t in tt) + worker_s
    m["trace.unattributed_share"] = (1.0 - covered / whole if whole else 0.0, "ratio")
    return m


def _job_metrics(wl, reader, traced, per, n: int) -> dict:
    """The ``job`` layer; 0 on workloads that run no extraction job."""
    from perfbench.workloads import CrawlJob

    names = ("waves", "wave_overhead_s", "scan_amplification", "write_s",
             "written_mb_per_kdoc", "metrics_reread_s", "manifest_s",
             "resume_redo_ratio", "resume_s")
    units = ("count", "s", "ratio", "s", "MB/kdoc", "s", "s", "ratio", "s")
    if not isinstance(wl, CrawlJob):
        return {f"job.{a}": (0.0, u) for a, u in zip(names, units)}
    waves, overhead, scanned = [], [], []
    for g, wall in traced:
        writes = [w for w in wl.groups.seen[g] if ":write" in w]
        extract_wall = 0.0
        for w in writes:
            st = [s for s in reader.stages(w) if s["shuffle_read_b"] > 0]
            extract_wall += max((s["wall_s"] for s in st), default=0.0)
        waves.append(len(writes))
        overhead.append((wall - extract_wall) / max(len(writes), 1))
        scanned.append(sum(v for w in writes for node, name, v in reader.sql_metrics(w)
                           if node.startswith("Scan") and name == "number of output rows"))
    plain_resume = [wl.resume_walls[g] for g in wl.resume_walls if g.startswith("pass")]
    values = (
        _mean(waves), _mean(overhead), _mean(scanned) / n, per("job.write"),
        wl.written_bytes() / 1e6 / (n / 1000), per("job.metrics_reread"),
        per("job.manifest"), _mean(wl.redo), _med(plain_resume),
    )
    return {f"job.{a}": (v, u) for a, v, u in zip(names, values, units)}


def _result(correct: bool, attempted: int, failed: int, metrics: dict) -> str:
    return json.dumps({
        "correct": correct, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    })


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", type=int, default=None,
                    help="documents in the workload (default: the benchmark size)")
    args = ap.parse_args(argv)

    sys.path.insert(0, str(REPO))
    try:
        import __spark_entry__  # noqa: F401
        import b_pdf_parser_spark  # noqa: F401
        import jobs.extract  # noqa: F401
    except ImportError as e:
        print(f"perfbench: the program is missing from {REPO}: {e}", file=sys.stderr)
        return 2
    TMP.mkdir(parents=True, exist_ok=True)
    # Spark, the JVM and the package ship write scratch files; keep them here
    os.environ["TMPDIR"] = os.environ["SPARK_LOCAL_DIRS"] = str(TMP)
    from perfbench import inputs

    n = args.size or SIZE
    t0 = time.perf_counter()
    d = inputs.prepare(REPO, args.workload, n, args.seed)
    print(f"perfbench: inputs ready in {time.perf_counter() - t0:.2f}s ({d.name})",
          file=sys.stderr)

    bench = Bench(args.workload, d, n, args.seconds)
    try:
        try:
            metrics = bench.per_layer() if args.trace else bench.end_to_end()
            t0 = time.perf_counter()
            failures = bench.check()
            print(f"perfbench: checked in {time.perf_counter() - t0:.2f}s", file=sys.stderr)
        except Exception as e:  # a failed Spark job fails the whole run
            print(f"perfbench: run failed: {type(e).__name__}: {e}", file=sys.stderr)
            print(_result(False, bench.attempted(), bench.attempted(), {}))
            return 1
    finally:
        bench.close()
    for f in failures[:50]:
        print(f"perfbench: check failed: {f}", file=sys.stderr)
    for name, (v, unit) in metrics.items():
        print(f"{name} = {v:.6g} {unit}")
    print(_result(not failures, bench.attempted(), len(failures), metrics))
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
