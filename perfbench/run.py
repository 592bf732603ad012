#!/usr/bin/env python3
"""End-to-end and per-layer benchmark of ``cc2dataset_spark``.

    python3 perfbench/run.py --workload wat_archives --seed 1 --seconds 10 --trace 0

Run from the repository root. Each run is one process on
``local[$SPARK_GRAFT_CPUS]`` (default: the CPUs this process may use),
driving one workload as a closed loop with one client: the next
operation starts when the previous one has returned. Inputs are
generated from ``--seed`` into ``.perfbench_work/`` and removed at exit.

Workloads (see perfbench/README.md for why each was chosen and which
layer metric should move which end-to-end metric):

- ``wat_archives``: seeded gzip WAT archives through
  ``pipeline.cc2dataset(document_type="image")`` as one part. One
  operation (and one iteration) is one call, up to its returned count.
- ``catalog_cohort``: a fixed cross-family set of catalog queries over
  seeded fixture tables, in a seed-permuted order, each ending in a
  ``noop`` write. One operation is one query; one iteration is a pass.

Set-up ends after ``WARM_ITERATIONS`` untimed iterations: pipeline
calls on a second corpus of the same shape, or passes over the cohort
(the first of which collects the results for the oracle gate).

Correctness gates run outside the timed loop and count in
``attempted``/``failed``: every pipeline row count must equal the
distinct-uid count of ``tests/wat_fixtures.oracle_extract`` over the
generated records, and every cohort query must match its DuckDB oracle
(``tests/oracle_harness.compare``) once per process.

``--trace 0`` reports the end-to-end metrics. ``--trace 1`` runs half
the time untraced and half traced (spans around the package's public
functions, one Spark job group per operation), then one layer probe
each, and reports the per-layer metrics; spans are written to
``.perfbench_out/``. The line before the result is a report with the
environment, anchor samples and every metric by name.

The last stdout line is ``{"correct", "attempted", "failed", "metrics"}``.
Without the package next to this directory the run exits with code 2.
"""

from __future__ import annotations

import argparse
import contextlib
import dataclasses
import hashlib
import importlib.util
import json
import os
import random
import shutil
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

WORKLOADS = ("wat_archives", "catalog_cohort")

HEAP_GB = 2  # pinned and pre-touched driver heap (session.pinned_driver_heap_conf)
MIN_FILES = 8  # output files per write; the reference's 256 is sized for a full crawl
WARM_ITERATIONS = 3  # warm-up iterations (calls or passes) before the timed loop
CATALOG_SCALE = 0.01  # lineitem ~60k rows
COHORT = (
    "q1_pricing_summary",  # TPC-H aggregate
    "q5_local_supplier_volume",  # TPC-H multi-join
    "events_sessionize",  # events, window
    "ann_ivf_topk",  # ANN with a driver-side fit during build
    "cc_extract_dedup_links",  # layer-A flagship: explode, md5 uid, dedup
)

# Every end-to-end figure, reported by name beside the result; those
# not defined for a workload read null. The result itself carries the
# metrics BENCHMARK.json lists.
REPORTED_UNITS = {
    "setup_s": "s",
    "wall_s": "s",
    "cpu_s": "s",
    "links_per_s": "1/s",
    "query_p50_s": "s",
    "output_bytes_per_row": "B",
    "peak_rss_mb": "MB",
    "error_rate": "ratio",
}


def contract_metrics(kind: str) -> dict[str, str]:
    """``{name: unit}`` of BENCHMARK.json's ``end_to_end`` or ``per_layer``."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return {m["name"]: m["unit"] for m in json.load(f)[kind]}


def process_start_time() -> float:
    """Wall-clock time at which this process started, from ``/proc``."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return time.time() - (uptime - start_ticks / os.sysconf("SC_CLK_TCK"))


def anchor() -> dict:
    """A host-health sample: the time of a fixed pure-Python and hashing
    workload (it moves with CPU speed and contention, not with the
    program), the 1-minute load average, the share of the last 10 s in
    which some task waited for a CPU, and the host's cumulative CPU and
    steal ticks (the report gives the steal share between samples)."""
    t = time.perf_counter()
    x = 0
    for i in range(200_000):
        x = (x * 31 + i) % 1_000_003
    hashlib.sha256(b"\x5a" * 4_000_000).hexdigest()
    sample = {"anchor_s": time.perf_counter() - t, "loadavg_1m": os.getloadavg()[0]}
    with open("/proc/stat") as f:
        # cumulative ticks of the "cpu" line; steal is the 8th field
        ticks = [int(v) for v in f.readline().split()[1:]]
    sample["cpu_ticks_total"] = sum(ticks)
    sample["cpu_ticks_steal"] = ticks[7] if len(ticks) > 7 else 0
    try:
        with open("/proc/pressure/cpu") as f:
            sample["cpu_pressure_avg10"] = float(f.readline().split()[1].split("=")[1])
    except (OSError, IndexError, ValueError):
        pass  # no pressure stall information on this kernel
    return sample


def counting_parser(inner, acc):
    """``inner`` (the WARC record iterator) counting its calls in ``acc``:
    one call is one parse of one archive. Defined in the main module so
    Spark ships it by value."""

    def iter_warc_records(raw):
        acc.add(1)
        return inner(raw)

    return iter_warc_records


def closed_loop(seconds: float, op) -> list:
    """Call ``op(i)`` back to back until ``seconds`` have passed (at
    least once); return the results in order."""
    out = []
    t0 = time.perf_counter()
    while not out or time.perf_counter() - t0 < seconds:
        out.append(op(len(out)))
    return out


def parquet_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f))
        for d, _, files in os.walk(path)
        for f in files
        if f.endswith(".parquet")
    )


@dataclasses.dataclass
class Run:
    """State of one benchmark run."""

    workload: str
    seed: int
    seconds: float
    trace: bool
    work: str
    cpus: int
    t_process: float
    attempted: int = 0
    failed: int = 0
    errors: list = dataclasses.field(default_factory=list)
    gen_s: float = 0.0
    spark: object = None
    session_build_s: float = 0.0
    trace_file: str | None = None
    sampler: object = None

    def cpu_s(self) -> float:
        """CPU seconds of the process tree so far, less the RSS sampler's
        thread; ``cpu_s`` is the difference over an iteration."""
        from procrss import tree_cpu_s

        return tree_cpu_s(os.getpid()) - self.sampler.cpu_s()

    def check(self, ok: bool, what: str, gate: bool = False) -> bool:
        """Mark the current operation failed unless ``ok``; a ``gate`` is
        an operation of its own."""
        self.attempted += gate
        if not ok:
            self.failed += 1
            self.errors.append(what)
        return ok

    def op(self, what: str, fn, *args, **kwargs):
        """One attempted operation, ``fn(*args, **kwargs)``; an exception
        fails it and yields None."""
        self.attempted += 1
        try:
            return fn(*args, **kwargs)
        except Exception:  # noqa: BLE001 - a failed operation is a result
            self.failed += 1
            self.errors.append(f"{what}: {traceback.format_exc(limit=3)}")
            return None

    def setup_done(self) -> float:
        """setup_s: process start to end of warm-up, less input generation."""
        return time.time() - self.t_process - self.gen_s

    def build_session(self):
        from cc2dataset_spark.session import build_spark_session, pinned_driver_heap_conf

        conf = pinned_driver_heap_conf(HEAP_GB)
        tmp = os.path.join(self.work, "tmp")
        conf["spark.driver.extraJavaOptions"] += f" -Djava.io.tmpdir={tmp}"
        conf.update({
            "spark.driver.host": "127.0.0.1",
            "spark.driver.bindAddress": "127.0.0.1",
            "spark.local.dir": os.path.join(self.work, "local"),
            "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
        })
        t = time.perf_counter()
        self.spark = build_spark_session(
            master=f"local[{self.cpus}]",
            app_name=f"perfbench-{self.workload}",
            shuffle_partitions=max(32, self.cpus),
            extra_conf=conf,
        )
        self.spark.sparkContext.setLogLevel("ERROR")
        self.session_build_s = time.perf_counter() - t
        return self.spark

    def set_group(self, group: str | None) -> None:
        sc = self.spark.sparkContext
        if group is None:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        else:
            sc.setJobGroup(group, group)


def layer_metrics(**values) -> dict:
    """Every per-layer metric, zero where the workload has no such layer."""
    out = {name: 0.0 for name in contract_metrics("per_layer")}
    for k, v in values.items():
        if k not in out:
            raise KeyError(k)
        out[k] = float(v)
    return out


def spark_layer(totals: dict, per: int) -> dict:
    return {
        "spark.jobs": totals["jobs"] / per,
        "spark.stages": totals["stages"] / per,
        "spark.tasks": totals["tasks"] / per,
        "spark.executor_run_s": totals["executor_run_s"] / per,
        "spark.executor_cpu_s": totals["executor_cpu_s"] / per,
        "spark.gc_s": totals["gc_s"] / per,
    }


# --------------------------------------------------------------------------
# wat_archives
# --------------------------------------------------------------------------


def wat_archives(run: Run) -> tuple[dict, dict | None, list[dict], dict]:
    import wat_corpus
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    from cc2dataset_spark import pipeline
    from cc2dataset_spark.operators.extraction import extract_document_links
    from cc2dataset_spark.sources import warc_fallback
    from cc2dataset_spark.sources.wat import WAT_SCHEMA, read_wat_archives

    spec = wat_corpus.CorpusSpec()
    t = time.perf_counter()
    anchors = [anchor()]
    corpus = wat_corpus.generate(os.path.join(run.work, "corpus"), run.seed, spec, lake=run.trace)
    expected = corpus.expected_rows("image")
    # warm-up corpus: same shape, other records, so the JIT sees the
    # measured row volume without computing any measured output
    warm = wat_corpus.generate(os.path.join(run.work, "warm"), run.seed + 1_000_003, spec)
    warm_expected = warm.expected_rows("image")
    run.gen_s = time.perf_counter() - t
    spark = run.build_session()

    def call(tag: str, paths: list[str], want: int, **kw):
        out = os.path.join(run.work, "out", tag)
        cpu = run.cpu_s()
        t = time.perf_counter()
        n = pipeline.cc2dataset(spark, out, paths, document_type="image", min_files=MIN_FILES, **kw)
        wall = time.perf_counter() - t
        cpu = run.cpu_s() - cpu
        run.check(n == want, f"{tag}: {n} rows, oracle {want}")
        nbytes = parquet_bytes(out)
        shutil.rmtree(out, ignore_errors=True)
        return wall, n, nbytes, cpu

    # the first call compiles; the later ones let the JIT and the
    # Python worker pool settle, which takes a few calls
    for i in range(WARM_ITERATIONS):
        run.op(f"warm-up {i}", call, f"warm{i}", warm.archive_paths, warm_expected)
    setup_s = run.setup_done()
    anchors.append(anchor())

    def iteration(tag: str):
        return lambda i: run.op(f"{tag}{i}", call, f"{tag}{i}", corpus.archive_paths, expected)

    layers = None
    if not run.trace:
        results = closed_loop(run.seconds, iteration("iter"))
    else:
        from spans import SparkRest, Tracer

        results = closed_loop(run.seconds / 2, iteration("iter"))
        tracer = Tracer(f"{run.workload}-{run.seed}-{os.getpid()}")
        acc = spark.sparkContext.accumulator(0)
        targets = [
            (pipeline, "read_wat_archives", "sources.wat.read_wat_archives"),
            (pipeline, "extract_document_links", "operators.extraction.extract_document_links"),
            (pipeline, "process_part", "pipeline.process_part"),
            (pipeline, "deduplicate_repartition_write", "pipeline.deduplicate_repartition_write"),
        ]
        parser = warc_fallback.iter_warc_records
        warc_fallback.iter_warc_records = counting_parser(parser, acc)
        try:
            with tracer.patched(targets):

                def traced_iteration(i):
                    run.set_group(f"traced{i}")
                    with tracer.span("iteration", index=i):
                        return run.op(f"traced{i}", call, f"traced{i}", corpus.archive_paths, expected)

                traced = closed_loop(run.seconds / 2, traced_iteration)
        finally:
            warc_fallback.iter_warc_records = parser
            run.set_group(None)
        parses = acc.value

        # layer probes: the plan cut after the source, then after
        # extraction, each ending in a noop write
        html = "Envelope.`Payload-Metadata`.`HTTP-Response-Metadata`.`HTML-Metadata`"
        guard = F.col(f"{html}.Links").isNotNull() & F.col("Envelope.`WARC-Header-Metadata`.`WARC-Target-URI`").isNotNull()
        src_obs = Observation("source")
        run.set_group("probe:source")
        t = time.perf_counter()
        read_wat_archives(spark, corpus.archive_paths).observe(
            src_obs,
            F.count(F.lit(1)).alias("records"),
            F.sum(F.when(guard, F.size(F.col(f"{html}.Links")))).alias("links"),
        ).write.format("noop").mode("overwrite").save()
        read_s = time.perf_counter() - t
        ext_obs = Observation("extract")
        run.set_group("probe:extract")
        t = time.perf_counter()
        extract_document_links(read_wat_archives(spark, corpus.archive_paths), "image").observe(
            ext_obs, F.count(F.lit(1)).alias("kept")
        ).write.format("noop").mode("overwrite").save()
        read_extract_s = time.perf_counter() - t
        records_out = src_obs.get["records"]
        links_in = src_obs.get["links"]
        links_kept = ext_obs.get["kept"]
        run.check(records_out == len(corpus.records), f"source probe: {records_out} records, generated {len(corpus.records)}", gate=True)
        kept_oracle = len(wat_corpus.oracle_extract(corpus.records, "image"))
        run.check(links_kept == kept_oracle, f"extract probe: {links_kept} links kept, oracle {kept_oracle}", gate=True)

        # the parse-free multipart path: the pre-parsed lake in two
        # parts, then the merge; only merge_parts is traced here, so the
        # part writes stay out of pipeline.write_s
        run.set_group("probe:merge")

        def lake_reader(s, paths):
            return s.read.schema(WAT_SCHEMA).parquet(*paths)

        with tracer.patched([(pipeline, "merge_parts", "pipeline.merge_parts")]), tracer.span("probe:merge"):
            run.op("merge probe", call, "merge", corpus.lake_paths, expected, multipart=2, source=lake_reader)
        run.set_group(None)

        rest = SparkRest(spark.sparkContext)
        ok_traced = [r for r in traced if r is not None]
        n_traced = max(1, len(traced))
        totals = rest.group_totals({f"traced{i}" for i in range(len(traced))})
        sql = totals["sql"]
        out_rows = statistics.median([r[1] for r in ok_traced]) if ok_traced else 0
        out_bytes = statistics.median([r[2] for r in ok_traced]) if ok_traced else 0
        wall_untraced = statistics.median([r[0] for r in results if r is not None] or [0.0])
        wall_traced = statistics.median([r[0] for r in ok_traced] or [0.0])
        layers = layer_metrics(
            **{
                "session.build_s": run.session_build_s,
                "sources.wat.read_s": read_s,
                "sources.wat.records_out": records_out,
                "sources.wat.input_mb_per_s": corpus.archive_bytes / 1e6 / read_s,
                "sources.wat.tasks_per_archive": parses / (n_traced * len(corpus.archive_paths)),
                "functions.links.udf_rows": sql.get(("ArrowEvalPython", "number of output rows"), 0) / n_traced,
                "functions.links.udf_s": sql.get(("ArrowEvalPython", "time to run Python workers"), 0) / n_traced,
                "functions.links.udf_init_s": (
                    sql.get(("ArrowEvalPython", "time to start Python workers"), 0)
                    + sql.get(("ArrowEvalPython", "time to initialize Python workers"), 0)
                ) / n_traced,
                "operators.extraction.extract_s": read_extract_s - read_s,
                "operators.extraction.links_in": links_in,
                "operators.extraction.links_kept": links_kept,
                "operators.extraction.keep_ratio": links_kept / links_in if links_in else 0.0,
                "pipeline.dedup_ratio": out_rows / links_kept if links_kept else 0.0,
                "pipeline.shuffle_write_mb": totals["shuffle_write_bytes"] / 1e6 / n_traced,
                "pipeline.spill_mb": totals["spill_disk_bytes"] / 1e6 / n_traced,
                "pipeline.write_s": statistics.median(
                    tracer.durations("pipeline.deduplicate_repartition_write", "pipeline.process_part") or [0.0]
                ),
                "pipeline.merge_s": statistics.median(tracer.durations("pipeline.merge_parts") or [0.0]),
                "pipeline.files_written": sql.get(("Execute InsertIntoHadoopFsRelationCommand", "number of written files"), 0) / n_traced,
                "pipeline.output_bytes_per_row": out_bytes / out_rows if out_rows else 0.0,
                "trace.overhead_s": wall_traced - wall_untraced,
                **spark_layer(totals, n_traced),
            }
        )
        run.trace_file = write_spans(run, tracer)

    anchors.append(anchor())
    done = [r for r in results if r is not None]
    walls = [r[0] for r in done] or [0.0]
    wall = statistics.median(walls)
    rows = statistics.median([r[1] for r in done]) if done else 0
    nbytes = statistics.median([r[2] for r in done]) if done else 0
    e2e = {
        "setup_s": setup_s,
        "wall_s": wall,
        "cpu_s": statistics.median([r[3] for r in done]) if done else 0.0,
        "links_per_s": corpus.links_in / wall if wall else 0.0,
        "query_p50_s": wall,
        "output_bytes_per_row": nbytes / rows if rows else 0.0,
    }
    detail = {
        "iterations_s": walls,
        "links_in": corpus.links_in,
        "archives": len(corpus.archive_paths),
        "archive_mb": corpus.archive_bytes / 1e6,
        "expected_rows": expected,
    }
    return e2e, layers, anchors, detail


# --------------------------------------------------------------------------
# catalog_cohort
# --------------------------------------------------------------------------


class _Collected:
    """A collected Spark result in the shape ``oracle_harness.compare``
    reads (``columns`` and ``collect()``), so the DuckDB side runs after
    the timed warm-up."""

    def __init__(self, columns, rows) -> None:
        self.columns = columns
        self._rows = rows

    def collect(self):
        return self._rows


def catalog_cohort(run: Run) -> tuple[dict, dict | None, list[dict], dict]:
    import tables

    from cc2dataset_spark.plans.catalog import oracle_sql, queries
    from tests.oracle_harness import compare, duckdb_conn

    sf_dir = os.path.join(run.work, "sf")
    t = time.perf_counter()
    anchors = [anchor()]
    table_rows = tables.generate(sf_dir, run.seed, CATALOG_SCALE)
    run.gen_s = time.perf_counter() - t
    order = list(COHORT)
    random.Random(run.seed).shuffle(order)
    fns = queries()
    oracles = oracle_sql()
    spark = run.build_session()

    # warm-up doubles as the Spark side of the oracle gate
    def build_collect(name):
        df = fns[name](spark, sf_dir)
        return _Collected(df.columns, df.collect())

    collected = {name: run.op(name, build_collect, name) for name in order}
    for _ in range(WARM_ITERATIONS - 1):  # further passes in the measured form
        for name in order:
            run.op(name, lambda q: fns[q](spark, sf_dir).write.format("noop").mode("overwrite").save(), name)
    setup_s = run.setup_done()
    anchors.append(anchor())
    con = duckdb_conn(sf_dir)
    for name, result in collected.items():
        if result is not None:
            run.op(f"{name} oracle", compare, result, con, oracles[name], name)
    con.close()

    def query(name: str, tracer=None, group: str | None = None):
        span = tracer.span if tracer else lambda *a, **k: contextlib.nullcontext()
        t = time.perf_counter()
        if group:
            run.set_group(f"{group}:{name}:build")
        with span("plans.build", query=name):
            df = fns[name](spark, sf_dir)
        if group:
            run.set_group(f"{group}:{name}:exec")
        with span("plans.action", query=name):
            df.write.format("noop").mode("overwrite").save()
        return time.perf_counter() - t

    def one_pass(i, tracer=None, tag=None):
        lat = []
        cpu = run.cpu_s()
        for name in order:
            group = f"{tag}{i}" if tag else None
            r = run.op(name, query, name, tracer, group)
            lat.append(r)  # None: the query failed
        cpu = run.cpu_s() - cpu
        if tag:
            run.set_group(None)
        return sum(x for x in lat if x is not None), lat, cpu

    layers = None
    if not run.trace:
        passes = closed_loop(run.seconds, one_pass)
    else:
        from spans import SparkRest, Tracer

        passes = closed_loop(run.seconds / 2, one_pass)
        tracer = Tracer(f"{run.workload}-{run.seed}-{os.getpid()}")

        def traced_pass(i):
            with tracer.span("pass", index=i):
                return one_pass(i, tracer, "traced")

        traced = closed_loop(run.seconds / 2, traced_pass)
        n = len(traced)
        rest = SparkRest(spark.sparkContext)
        groups = {f"traced{i}:{q}:{phase}" for i in range(n) for q in order for phase in ("build", "exec")}
        totals = rest.group_totals(groups)
        build_jobs = rest.group_totals({g for g in groups if g.endswith(":build")})["jobs"]
        builds = tracer.child_sums("plans.build", "pass")
        actions = tracer.child_sums("plans.action", "pass")
        layers = layer_metrics(
            **{
                "session.build_s": run.session_build_s,
                "plans.build_s": statistics.median(builds),
                "plans.exec_s": statistics.median(actions),
                "plans.jobs_in_build": build_jobs / n,
                "trace.overhead_s": statistics.median(p[0] for p in traced) - statistics.median(p[0] for p in passes),
                **spark_layer(totals, n),
            }
        )
        run.trace_file = write_spans(run, tracer)

    anchors.append(anchor())
    # each query's median latency over the passes; query_p50_s is their
    # geometric mean, so every query in the cohort weighs the same and
    # the figure rests on none of them alone
    query_p50 = {}
    for j, q in enumerate(order):
        ok = [p[1][j] for p in passes if p[1][j] is not None]
        if ok:
            query_p50[q] = statistics.median(ok)
    e2e = {
        "setup_s": setup_s,
        "wall_s": statistics.median(p[0] for p in passes),
        "cpu_s": statistics.median(p[2] for p in passes),
        "links_per_s": None,
        "query_p50_s": statistics.geometric_mean(query_p50.values()) if query_p50 else 0.0,
        "output_bytes_per_row": None,
    }
    detail = {
        "passes_s": [p[0] for p in passes],
        "query_medians_s": query_p50,
        "order": order,
        "scale": CATALOG_SCALE,
        "table_rows": table_rows,
    }
    return e2e, layers, anchors, detail


def write_spans(run: Run, tracer) -> str:
    out = os.path.join(ROOT, ".perfbench_out")
    os.makedirs(out, exist_ok=True)
    path = os.path.join(out, f"spans-{tracer.run_id}.json")
    tracer.dump(path)
    return os.path.relpath(path, ROOT)


# --------------------------------------------------------------------------


def environment(run: Run) -> dict:
    import pyarrow
    import pyspark

    spark = run.spark
    java = spark.sparkContext._jvm.System.getProperty("java.version") if spark else None

    def has(mod: str) -> bool:
        return importlib.util.find_spec(mod) is not None

    return {
        "nproc": len(os.sched_getaffinity(0)),
        "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
        "master": f"local[{run.cpus}]",
        "driver_heap_gb": HEAP_GB,
        "python": sys.version.split()[0],
        "pyspark": pyspark.__version__,
        "pyarrow": pyarrow.__version__,
        "java": java,
        "warc_parser": "fastwarc" if has("fastwarc") else "warc_fallback",
        "json_parser": "simdjson" if has("simdjson") else "json",
    }


def stop_spark(run: Run) -> None:
    """Stop the session and the JVM behind it, and wait until every
    process this run started has ended."""
    from procrss import tree_pids
    from pyspark import SparkContext

    started = tree_pids(os.getpid())
    if run.spark is not None:
        run.spark.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=120)
        SparkContext._gateway = None
        SparkContext._jvm = None
    deadline = time.time() + 60
    while time.time() < deadline and any(os.path.exists(f"/proc/{p}") for p in started):
        time.sleep(0.1)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description="cc2dataset_spark end-to-end and per-layer benchmark")
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    t_process = process_start_time()

    needed = ("BENCHMARK.json", "cc2dataset_spark", "tests/wat_fixtures.py", "tests/oracle_harness.py")
    missing = [p for p in needed if not os.path.exists(os.path.join(ROOT, p))]
    if missing:
        print(f"perfbench: run from a checkout of the repository; missing {missing}", file=sys.stderr)
        return 2
    sys.path[:0] = [ROOT, HERE]

    from procrss import TreeRssSampler

    cpus = int(os.environ.get("SPARK_GRAFT_CPUS") or 0) or len(os.sched_getaffinity(0))
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    # Spark, the JVM and the Python workers write scratch files under
    # these; keep them inside the checkout
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")

    sampler = TreeRssSampler(os.getpid()).start()
    run = Run(args.workload, args.seed, args.seconds, bool(args.trace), work, cpus, t_process, sampler=sampler)
    try:
        e2e, layers, anchors, detail = {"wat_archives": wat_archives, "catalog_cohort": catalog_cohort}[args.workload](run)
        env = environment(run)
    finally:
        try:
            stop_spark(run)
        finally:
            sampler.stop()
            shutil.rmtree(work, ignore_errors=True)
            with contextlib.suppress(OSError):
                os.rmdir(os.path.dirname(work))  # only if no other run uses it
    e2e["peak_rss_mb"] = sampler.peak / 1e6
    e2e["error_rate"] = run.failed / run.attempted if run.attempted else 1.0

    if run.trace:
        metrics = {k: {"value": layers[k], "unit": u} for k, u in contract_metrics("per_layer").items()}
    else:
        metrics = {k: {"value": e2e[k], "unit": u} for k, u in contract_metrics("end_to_end").items()}
    report = {
        "workload": run.workload,
        "seed": run.seed,
        "seconds": run.seconds,
        "trace": int(run.trace),
        "environment": env,
        "anchors": dict(zip(("start", "middle", "end"), anchors)),
        "end_to_end": {k: {"value": e2e[k], "unit": u} for k, u in REPORTED_UNITS.items()},
        "input_generation_s": run.gen_s,
        "spans_file": run.trace_file,
        "errors": run.errors[:5],
        **detail,
    }
    start, end = anchors[0], anchors[-1]
    report["steal_share"] = (end["cpu_ticks_steal"] - start["cpu_ticks_steal"]) / max(1, end["cpu_ticks_total"] - start["cpu_ticks_total"])
    print(json.dumps({"perfbench_report": report}))
    print(json.dumps({"correct": run.failed == 0, "attempted": run.attempted, "failed": run.failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
