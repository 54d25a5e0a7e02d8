#!/usr/bin/env python3
"""Benchmark of the 990 database build.

    python3 bench990/run.py --workload year_build_small_docs --seed 1 \\
        --seconds 5 --trace 0

Each run generates one synthetic filing year from ``--seed``, starts the
program's Spark session, and runs the reference's full path once, cold,
as a yearly batch build does: yearly index JSON -> ``build_index`` ->
``filter_index`` (990/990EZ, available only) -> ``build_database`` into
all 12 default tables and the dead-letter table. It checks the written
tables against expectations computed from the XML with the standard
library, then makes whole rounds of EIN point lookups on CORE plus one
``validate_database`` each until ``--seconds`` have passed since the
build started. One client drives the program on a closed loop; Spark
runs local[nproc].

``--trace 0`` prints the end-to-end metrics. ``--trace 1`` runs the same
build under the span tracer, adds isolated index, parse-only,
extract-only and write-only passes, and prints the per-layer metrics.
The last line of standard output is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import random
import shutil
import statistics
import sys
import tempfile
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
REPO = HERE.parent
sys.path[:0] = [str(HERE), str(REPO)]

import checks  # noqa: E402
import gen  # noqa: E402
from pyspark.sql import Observation  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402
from tracing import JvmProbe, Tracer, union_length  # noqa: E402

from irs_990_efiler_database_spark import jobs  # noqa: E402
from irs_990_efiler_database_spark.extract.core_builder import build_core  # noqa: E402
from irs_990_efiler_database_spark.extract.rdb_builder import build_rdb_table  # noqa: E402
from irs_990_efiler_database_spark.extract.schedn_builder import (  # noqa: E402
    build_schedn_table,
    schedn_table_names,
)
from irs_990_efiler_database_spark.plans import concordance  # noqa: E402
from irs_990_efiler_database_spark.plans.metrics import execution_metrics  # noqa: E402
from irs_990_efiler_database_spark.session import get_spark  # noqa: E402
from irs_990_efiler_database_spark.sinks import read_table, write_table  # noqa: E402
from irs_990_efiler_database_spark.sources.index import build_index, filter_index  # noqa: E402
from irs_990_efiler_database_spark.sources.xml_source import (  # noqa: E402
    build_return_schema,
    read_return_bundle,
    split_corrupt,
)

# The program defaults to a 48 GB driver heap; this one fits a small box.
HEAP = "512m"
WORKLOADS = {
    # fixture-size filings: fixed per-build costs dominate
    "year_build_small_docs": {"n": 2000, "large": False, "parts": 8},
    # 50-250 KB filings: the parse and the MANY-table explodes dominate
    "year_build_large_docs": {"n": 800, "large": True, "parts": 16},
}
FORMS = ("990", "990EZ")


def log(*a) -> None:
    print(*a, file=sys.stderr, flush=True)


def dir_size(path: Path) -> tuple[int, int]:
    """(files, bytes) under ``path``."""
    files = size = 0
    for dp, _, fs in os.walk(path):
        for f in fs:
            files += 1
            size += os.path.getsize(os.path.join(dp, f))
    return files, size


def schema_leaves(dt) -> int:
    fields = getattr(dt, "fields", None)
    if fields is not None:
        return sum(schema_leaves(f.dataType) for f in fields)
    element = getattr(dt, "elementType", None)
    return 1 if element is None else schema_leaves(element)


class Ops:
    """Operation counts; a failed check marks its operation failed."""

    def __init__(self) -> None:
        self.attempted = 0
        self.failed = 0

    def record(self, what: str, problems: list[str]) -> None:
        self.attempted += 1
        if problems:
            self.failed += 1
            log(f"FAILED {what}: {len(problems)} problem(s)")
            for p in problems[:10]:
                log("  " + p)


class Expectation:
    """Everything the checks need, derived from the generated inputs."""

    def __init__(self, inputs: gen.YearInputs) -> None:
        for f in inputs.filings:
            if f.bundled and f.truncated != checks.is_malformed(f.xml):
                raise RuntimeError(f"generator: {f.url} truncation flag is wrong")
        kept = [
            f
            for f in inputs.filings
            if f.bundled and f.listed and f.available and f.form in FORMS
        ]
        self.clean = {f.url: checks.expect(f.url, f.xml) for f in kept if not f.truncated}
        self.dead = {f.url for f in kept if f.truncated}
        self.by_ein: dict[str, set[str]] = {}
        for e in self.clean.values():
            self.by_ein.setdefault(e.ein, set()).add(e.url)
        self.clean_eins = sorted(self.by_ein)
        self.dropped_eins = sorted({f.ein for f in inputs.filings} - self.by_ein.keys())

    def lookup_eins(self, rng: random.Random) -> list[str]:
        """One round: 12 filers in CORE, 6 whose filings were all
        filtered out or dead-lettered, 2 that never filed."""
        never: list[str] = []
        while len(never) < 2:
            ein = f"{rng.randrange(10**8):09d}"
            if ein not in self.by_ein and ein not in self.dropped_eins and ein not in never:
                never.append(ein)
        return rng.sample(self.clean_eins, 12) + rng.sample(self.dropped_eins, 6) + never


def default_tables() -> dict:
    """name -> (builder over the parse, partition columns) for the 12
    tables ``jobs.build_database`` writes by default."""
    core_cols = list(dict.fromkeys(concordance.load_core_spec()["columns"]))
    tables = {"CORE": (lambda r: build_core(r, columns=core_cols), ("FISYR", "FORMTYPE"))}
    for t in concordance.table_names():
        tables[t] = (lambda r, _t=t: build_rdb_table(r, _t), ("TAXYR", "FORMTYPE"))
    for t in schedn_table_names():
        tables[t] = (lambda r, _t=t: build_schedn_table(r, _t), ("FISYR", "FORMTYPE"))
    return tables


def span_cost() -> float:
    """Seconds one span costs, timed on a scratch tracer. Spans times
    this is a lower bound on the tracer's cost: it leaves out what the
    wrappers do to the build itself."""
    scratch = Tracer()
    n = 20000
    t = time.perf_counter()
    for _ in range(n):
        with scratch.span("x"):
            pass
    return (time.perf_counter() - t) / n


class Bench:
    def __init__(self, args, work: Path) -> None:
        self.args = args
        self.work = work
        self.cfg = WORKLOADS[args.workload]
        self.tracer = Tracer() if args.trace else None
        self.ops = Ops()
        self.spark = None

    def span(self, name: str, operation: bool = False):
        if self.tracer is None:
            return contextlib.nullcontext()
        return self.tracer.span(name, operation)

    # -- set-up ------------------------------------------------------

    def setup(self) -> None:
        work = self.work
        t = time.perf_counter()
        self.inputs = gen.year_inputs(
            self.args.seed, str(work / "in"), self.cfg["n"], self.cfg["large"], self.cfg["parts"]
        )
        self.setup_s = time.perf_counter() - t
        self.exp = Expectation(self.inputs)  # the checker's own work: not set-up
        t = time.perf_counter()
        with self.span("session.start") as self.s_session:
            self.spark = get_spark(
                "bench990",
                extra_conf={
                    "spark.local.dir": str(work / "spark-local"),
                    "spark.sql.warehouse.dir": str(work / "warehouse"),
                    # the JVM's temp files, perf data included, stay in the checkout
                    "spark.driver.extraJavaOptions": (
                        f"-Djava.io.tmpdir={work / 'tmp'} -XX:-UsePerfData"
                    ),
                },
            )
        with self.span("plans.schema") as self.s_schema:
            schema, _ = build_return_schema()
            concordance.load_core_spec()
            concordance.load_rdb_spec()
            concordance.load_schedn_spec()
        self.setup_s += time.perf_counter() - t
        self.schema_leaves = schema_leaves(schema)
        self.probe = JvmProbe(self.spark)

    def close(self) -> None:
        """Stop the session and wait for the driver JVM to exit."""
        if self.spark is None:
            return
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        try:
            self.spark.stop()
        except Exception as e:  # noqa: BLE001 - the JVM may already be gone
            log(f"spark.stop failed: {e!r}")
        if gateway is not None:
            proc = getattr(gateway, "proc", None)
            gateway.shutdown()
            if proc is not None:
                proc.stdin.close()  # the JVM exits on end of input
                try:
                    proc.wait(timeout=60)
                except Exception:  # noqa: BLE001 - a stuck JVM must not outlive the run
                    proc.kill()
                    proc.wait()

    # -- the timed part ----------------------------------------------

    def build(self) -> None:
        """One cold yearly build, index to all tables."""
        probe, tracer = self.probe, self.tracer
        if tracer:
            tracer.wrap_jobs(jobs)
            jobs_before = probe.job_ids()
            gc_before = probe.gc_seconds()
            probe.reset_heap_peak()
        self.out = self.work / "out"
        self.t_start = time.perf_counter()
        with self.span("jobs.build", operation=True) as self.s_build:
            with self.span("sources.index.build_index"):
                idx = build_index(self.spark, os.path.join(self.inputs.index_dir, "index_*.json"))
            with self.span("sources.index.filter_index"):
                idx = filter_index(idx, form_types=FORMS, available_only=True)
            self.res = jobs.build_database(
                self.spark, str(self.out), bundle_path=self.inputs.bundle_dir, index=idx
            )
            self.build_s = time.perf_counter() - self.t_start
        if tracer:
            tracer.unwrap()
            build_jobs = probe.job_ids() - jobs_before
            self.build_jobs = len(build_jobs)
            self.build_tasks = probe.tasks(build_jobs)
            self.gc_s = probe.gc_seconds() - gc_before
            self.heap_peak_mb = probe.heap_peak_mb()
        self.out_files, self.out_bytes = dir_size(self.out)
        self.ops.record("build", [] if self.res.rows.get("CORE") else ["no CORE rows"])
        self.ops.record("check", self.check_build())

    def check_build(self) -> list[str]:
        """Compare the written tables with the expectation."""
        res, exp = self.res, self.exp
        problems = []
        if res.rows.get("CORE") != len(exp.clean):
            problems.append(f"build reported {res.rows.get('CORE')} CORE rows, want {len(exp.clean)}")
        core = read_table(self.spark, res.tables["CORE"]).select("URL", "EIN", "FORMTYPE", "FISYR")
        problems += checks.check_core(exp.clean, [tuple(r) for r in core.collect()])
        dead = []
        if res.dead_letter_path:
            dead = [r.url for r in read_table(self.spark, res.dead_letter_path).select("url").collect()]
        problems += checks.check_dead_letters(exp.dead, dead)
        for table, col, attr in (
            (checks.DTK_TABLE, checks.DTK_AMOUNT_COL, "dtk"),
            (checks.SJ_TABLE, checks.SJ_AMOUNT_COL, "sj"),
        ):
            agg = (
                read_table(self.spark, res.tables[table])
                .groupBy("URL")
                .agg(F.count(F.lit(1)).alias("n"), F.sum(F.col(col).cast("long")).alias("s"))
            )
            actual = {r.URL: (r.n, r.s or 0) for r in agg.collect()}
            want = {u: getattr(e, attr) for u, e in exp.clean.items() if getattr(e, attr)[0]}
            problems += checks.check_groups(table, want, actual)
        return problems

    def rounds(self) -> None:
        """Lookups and validation, in whole rounds, until ``--seconds``
        have passed since the build started."""
        core = self.res.tables["CORE"]
        self.lookup_s: list[float] = []
        self.validate_s: list[float] = []
        self.scans: list[tuple[int, int]] = []
        rnd = 0
        while rnd == 0 or time.perf_counter() < self.t_start + self.args.seconds:
            rng = random.Random(self.args.seed * 100_003 + rnd)
            for ein in self.exp.lookup_eins(rng):
                with self.span("lookup", operation=True):
                    t = time.perf_counter()
                    df = read_table(self.spark, core).filter(F.col("EIN") == ein).select("URL")
                    urls = [r.URL for r in df.collect()]
                    self.lookup_s.append(time.perf_counter() - t)
                if self.tracer:
                    self.scans.append(scan_metrics(df))
                want = self.exp.by_ein.get(ein, set())
                self.ops.record(f"lookup {ein}", checks.check_lookup(ein, want, urls))
            with self.span("validate", operation=True):
                t = time.perf_counter()
                v = jobs.validate_database(self.spark, str(self.out))
                self.validate_s.append(time.perf_counter() - t)
            self.ops.record("validate", checks.check_validate(v))
            rnd += 1

    # -- results -----------------------------------------------------

    def end_to_end(self) -> dict:
        return {
            "setup_s": (self.setup_s, "s"),
            "build_s": (self.build_s, "s"),
            "build_docs_per_s": (self.res.rows["CORE"] / self.build_s, "docs/s"),
            "output_mb": (self.out_bytes / 2**20, "MB"),
            "peak_rss_mb": (self.probe.rss_peak_mb(), "MB"),
        }

    def per_layer(self) -> dict:
        """Spans of the traced build, plus isolated index, parse-only,
        extract-only and write-only passes over the same inputs."""
        tracer, probe, spark = self.tracer, self.probe, self.spark
        in_build = [s for s in tracer.spans if s.op == self.s_build.id]
        writes = [s for s in in_build if s.name.startswith("sinks.write")]
        plans = [s for s in in_build if s.name.startswith("extract.")]
        n_spans = len(tracer.spans)

        t = time.perf_counter()
        idx = build_index(spark, os.path.join(self.inputs.index_dir, "index_*.json"))
        rows_in = idx.count()
        index_s = time.perf_counter() - t
        rows_kept = filter_index(idx, form_types=FORMS, available_only=True).count()

        # parse-only: the bundle read, semi-joined with the filtered index,
        # parsed and persisted as the build does
        wanted = filter_index(idx, form_types=FORMS, available_only=True).select(
            F.col("ObjectId").alias("object_id")
        )
        t = time.perf_counter()
        returns = read_return_bundle(spark, self.inputs.bundle_dir).join(
            F.broadcast(wanted), "object_id", "left_semi"
        )
        ok, dead = split_corrupt(returns)
        ok = ok.persist()
        ok.count()
        parse_s = time.perf_counter() - t
        cache_mem, cache_disk = probe.storage_mb()
        dead_rows = dead.count()

        # extract-only: each table's projection over the persisted parse
        # to the noop sink, which also materializes it for write-only
        built = {}
        exec_s = 0.0
        rows_out = 0
        for name, (build, parts) in default_tables().items():
            df = build(ok).persist()
            obs = Observation()
            t = time.perf_counter()
            df.observe(obs, F.count(F.lit(1)).alias("n")).write.format("noop").mode(
                "overwrite"
            ).save()
            exec_s += time.perf_counter() - t
            rows_out += int(obs.get["n"])
            built[name] = (df, parts)

        # write-only: the materialized tables to partitioned parquet
        write_only_s = 0.0
        for name, (df, parts) in built.items():
            t = time.perf_counter()
            write_table(df, str(self.work / "write-only" / name), partition_by=parts)
            write_only_s += time.perf_counter() - t
            df.unpersist()
        ok.unpersist()

        return {
            "session.start_s": (self.s_session.dur, "s"),
            "plans.schema_s": (self.s_schema.dur, "s"),
            "plans.schema_leaves": (self.schema_leaves, "count"),
            "sources.index.build_s": (index_s, "s"),
            "sources.index.rows_in": (rows_in, "count"),
            "sources.index.rows_kept": (rows_kept, "count"),
            "sources.index.kept_pct": (100.0 * rows_kept / rows_in, "%"),
            "sources.xml_source.parse_s": (parse_s, "s"),
            "sources.xml_source.parse_mb_per_s": (self.inputs.xml_bytes / 2**20 / parse_s, "MB/s"),
            "sources.xml_source.parse_cache_mem_mb": (cache_mem, "MB"),
            "sources.xml_source.parse_cache_disk_mb": (cache_disk, "MB"),
            "sources.xml_source.storage_memory_mb": (probe.storage_capacity_mb(), "MB"),
            "sources.xml_source.dead_letter_rows": (dead_rows, "count"),
            "extract.plan_s": (union_length([(s.start, s.end) for s in plans]), "s"),
            "extract.exec_s": (exec_s, "s"),
            "extract.rows_out": (rows_out, "count"),
            "jobs.build_self_s": (tracer.self_time(self.s_build), "s"),
            "jobs.spark_jobs": (self.build_jobs, "count"),
            "jobs.spark_tasks": (self.build_tasks, "count"),
            "jobs.validate_s": (statistics.median(self.validate_s), "s"),
            "sinks.write_s": (sum(s.dur for s in writes), "s"),
            "sinks.write_wall_s": (union_length([(s.start, s.end) for s in writes]), "s"),
            "sinks.write_only_s": (write_only_s, "s"),
            "sinks.files_written": (self.out_files, "count"),
            "sinks.bytes_written": (self.out_bytes, "bytes"),
            "sinks.lookup_ms": (statistics.median(self.lookup_s) * 1e3, "ms"),
            "sinks.lookup_files_scanned": (statistics.median(f for f, _ in self.scans), "count"),
            "sinks.lookup_bytes_scanned": (statistics.median(b for _, b in self.scans), "bytes"),
            "runtime.gc_s": (self.gc_s, "s"),
            "runtime.heap_peak_mb": (self.heap_peak_mb, "MB"),
            "trace.spans": (n_spans, "count"),
            "trace.span_cost_s": (n_spans * span_cost(), "s"),
        }


def scan_metrics(df) -> tuple[int, int]:
    """(files, bytes) the lookup's parquet scan read."""
    files = size = 0
    for name, m in execution_metrics(df):
        if "Scan" in name:
            files += m.get("numFiles", 0)
            size += m.get("filesSize", 0)
    return files, size


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    work = REPO / ".bench990_work" / f"{args.workload}-{args.seed}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = HEAP
    os.environ["TMPDIR"] = tempfile.tempdir = str(work / "tmp")
    bench = Bench(args, work)
    try:
        bench.setup()
        bench.build()
        bench.rounds()
        metrics = bench.per_layer() if args.trace else bench.end_to_end()
        if bench.tracer:
            bench.tracer.dump(str(work.parent / f"trace-{args.workload}-{args.seed}.jsonl"))
    finally:
        bench.close()
        shutil.rmtree(work, ignore_errors=True)
    print(
        json.dumps(
            {
                "correct": bench.ops.failed == 0,
                "attempted": bench.ops.attempted,
                "failed": bench.ops.failed,
                "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
