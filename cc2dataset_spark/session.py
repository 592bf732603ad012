"""SparkSession construction.

Re-expresses the reference's two session profiles
(/root/reference/cc2dataset/spark_session_builder.py:8-75 — a local profile
and an S3A-tuned standalone-cluster profile) as idiomatic Spark 3.5+/4.x
config, with AQE enabled (the reference predates AQE and hand-sized its
shuffles to 4000 partitions; we let adaptive execution coalesce instead).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# S3A tuning inherited from the reference cluster profile
# (/root/reference/cc2dataset/spark_session_builder.py:51-70): aggressive
# connection pools, fast upload, random fadvise for ranged reads, and the
# magic (S3-optimized) committer. Harmless when no s3a:// path is read.
_S3A_PROFILE = {
    "spark.hadoop.fs.s3a.threads.max": "512",
    "spark.hadoop.fs.s3a.connection.maximum": "2048",
    "spark.hadoop.fs.s3a.fast.upload": "true",
    "spark.hadoop.fs.s3a.experimental.input.fadvise": "random",
    "spark.hadoop.fs.s3a.block.size": "2M",
    "spark.hadoop.fs.s3a.readahead.range": "2M",
    "spark.hadoop.fs.s3a.committer.name": "magic",
    # fs.s3a.committer.name alone is INERT for Spark SQL writes: Spark
    # instantiates the parquet committer from these two SQL confs
    # directly, bypassing the Hadoop committer factory — without them
    # df.write.parquet still used the rename-based FileOutputCommitter
    # (slow, non-atomic job-commit window on S3)
    "spark.sql.sources.commitProtocolClass":
        "org.apache.spark.internal.io.cloud.PathOutputCommitProtocol",
    "spark.sql.parquet.output.committer.class":
        "org.apache.spark.internal.io.cloud.BindingParquetOutputCommitter",
    # Anonymous credentials are correct ONLY for the public commoncrawl
    # bucket — scoping them per-bucket (S3A per-bucket config) leaves the
    # default provider chain free to authenticate the user's own output
    # bucket; a global anonymous provider would fail every private write
    # with access-denied.
    "spark.hadoop.fs.s3a.bucket.commoncrawl.aws.credentials.provider": (
        "org.apache.hadoop.fs.s3a.AnonymousAWSCredentialsProvider"
    ),
}

# Scale-first defaults. These are sized for multi-executor clusters; on
# local[N] they are still correct (AQE coalesces the 200+ shuffle
# partitions down to the data size at runtime).
_ENGINE_DEFAULTS = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # post-shuffle target: 128 MB partitions (matches
    # files.maxPartitionBytes so scan and shuffle stages agree on the
    # unit of work — SCALE.md sizes the 100 TB shuffle around this)
    "spark.sql.adaptive.advisoryPartitionSizeInBytes": str(128 * 1024 * 1024),
    # runtime bloom-filter pushdown: on selective fact-fact joins the
    # probe side gets a row-level filter built from the build side —
    # at 100 TB this prunes shuffle input before it is written
    "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
    "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.optimizer.nestedSchemaPruning.enabled": "true",
    "spark.sql.parquet.filterPushdown": "true",
    "spark.sql.parquet.aggregatePushdown": "true",
    "spark.sql.files.maxPartitionBytes": str(128 * 1024 * 1024),
    "spark.sql.session.timeZone": "UTC",
    # Let EnsureRequirements recognize two sides hash-partitioned on a
    # SUBSET of the join keys as co-located (semantics-preserving; it
    # only removes redundant exchanges). The fragment-replicate grid
    # verifier (operators/neardup.prefix_filter_jaccard_pairs) relies
    # on this to run both grid joins on one cell-keyed exchange.
    # Library code never mutates a caller's session conf (r9): foreign
    # sessions not built here still get CORRECT plans, just with one
    # extra exchange per grid join unless they set this themselves.
    "spark.sql.requireAllClusterKeysForCoPartition": "false",
    # reference sets task retries to 10 for flaky remote IO
    # (/root/reference/cc2dataset/spark_session_builder.py:44)
    "spark.task.maxFailures": "10",
    # Generated-class cache (static conf, default 100 entries): a
    # session running a many-query workload (the 209-query bench
    # sweep, or any long-lived production ETL with hundreds of
    # distinct stages) evicts constantly at 100, and every miss
    # re-runs ExpressionCanonicalizer + a Janino compile INSIDE the
    # first task that needs the projection while sibling tasks block
    # on the cache loader — jstack'd during r13-opt: HashAggregateExec
    # .createHashMap -> UnsafeProjection.create -> GenerateUnsafe
    # Projection compile storms re-firing on WARM reps, 5-46 s spikes
    # on the composite queries (measured A/B at 100 vs 5000:
    # curate_full_recipe warm median 24.9 s -> 7.6 s, spikes gone).
    # Entries are weak-keyed on the generated source, so the cache
    # holds only classes whose plans are still reachable; 5000 bounds
    # metaspace growth while fitting a multi-hundred-query session.
    "spark.sql.codegen.cache.maxEntries": "5000",
    "spark.sql.shuffle.partitions": "64",
    # Spark rejects parquet TIMESTAMP(NANOS) outright; read as long and
    # convert at the source (sources/tables.py truncates ns -> us, the
    # same truncation DuckDB applies).
    "spark.sql.legacy.parquet.nanosAsLong": "true",
}


def build_spark_session(
    master: str | None = None,
    app_name: str = "cc2dataset_spark",
    num_cores: int | None = None,
    mem_gb: int | None = None,
    shuffle_partitions: int | None = None,
    s3_profile: bool = False,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build a SparkSession.

    ``master=None`` defers to spark-submit / an existing session (cluster
    deploys); otherwise e.g. ``local[32]`` or ``spark://host:7077``.
    Mirrors the knobs of the reference builder
    (/root/reference/cc2dataset/spark_session_builder.py:8-31) without the
    manual executor-memory arithmetic — on YARN/k8s that belongs to the
    submitter, and AQE replaces the hand-tuned 4000 shuffle partitions.
    """
    builder = SparkSession.builder.appName(app_name)
    if master is not None:
        builder = builder.master(master)
    for k, v in _ENGINE_DEFAULTS.items():
        builder = builder.config(k, v)
    if master is not None and master.startswith("local"):
        # Pre-import numpy/pandas/pyarrow in the worker daemon so forked
        # workers inherit them via copy-on-write (see pydaemon.py for
        # the measurement). Local masters only by default: the daemon
        # module must be importable on the worker host, which is
        # guaranteed here (same machine) via executorEnv.PYTHONPATH; on
        # a cluster, ship the package (--py-files) and set these two
        # confs at submit time — same standard practice as any UDF
        # library. extra_conf below can override either key.
        repo_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
        existing = os.environ.get("PYTHONPATH", "")
        builder = builder.config(
            "spark.python.daemon.module", "cc2dataset_spark.pydaemon"
        )
        builder = builder.config(
            "spark.executorEnv.PYTHONPATH",
            repo_root + (os.pathsep + existing if existing else ""),
        )
    if mem_gb is not None:
        # 90/10 heap/overhead split, as in the reference
        # (/root/reference/cc2dataset/spark_session_builder.py:33-38).
        heap = max(1, int(mem_gb * 0.9))  # mem_gb=1 must not yield '0g'
        builder = builder.config("spark.executor.memory", f"{heap}g")
        builder = builder.config(
            "spark.executor.memoryOverhead", f"{max(1, mem_gb - heap)}g"
        )
        builder = builder.config("spark.driver.memory", f"{min(mem_gb, 50)}g")
    if num_cores is not None:
        builder = builder.config("spark.executor.cores", str(num_cores))
    if shuffle_partitions is not None:
        builder = builder.config(
            "spark.sql.shuffle.partitions", str(shuffle_partitions)
        )
    if s3_profile:
        for k, v in _S3A_PROFILE.items():
            builder = builder.config(k, v)
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def pinned_driver_heap_conf(mem_gb: int | None = None) -> dict[str, str]:
    """Driver-JVM heap settings for a LOCAL measurement/ETL session
    (bench.py, tools/time_queries.py): a moderate heap pinned at
    ``-Xms == -Xmx`` and pre-touched at startup.

    Why pinned and pre-touched (optimization guide §5, measured
    r13-opt): on this class of virtualized host, first-touch page
    faults are catastrophically slow (measured 0.07-0.43 GB/s
    single-threaded zeroing vs the multi-GB/s of bare metal), so every
    G1 heap commit/uncommit cycle costs tens of seconds of kernel time
    charged to whichever query is running — /proc monitoring during the
    stalls showed the JVM burning 20+ CPUs of SYSTEM time while
    committed memory grew by GBs, then releasing ~8 GB at once
    (uncommit), then paying the fault storm again on the next heavy
    query. Anchor reps under a growable 16 GB heap: 43.7, 20.3, then
    1.6-1.9 steady, then fresh 11-18 s spikes after each uncommit.
    With a 5-8 GB heap pinned and pre-touched, 8 interleaved reps of
    (curate_full_recipe, anchor) measured ZERO spikes (4.0-4.9 s /
    1.7-2.4 s). AlwaysPreTouch moves the one-time commit cost to
    session startup — outside any timed region — and Xms == Xmx means
    G1 never returns pages, so the cost is never paid twice.

    Moderate on purpose: a bigger heap is NOT better here — every
    additional GB must be zeroed once (slowly), and G1 sizes its young
    gen to the heap, touching all of it. RAM/16 clamped to [4, 12] GB
    (8 GB on this 128 GiB sandbox) is comfortably above the measured
    working set of the heaviest catalog query at sf0.1 while keeping
    pre-touch under ~10 s. ``SPARK_GRAFT_DRIVER_MEM_GB`` overrides; on
    a real cluster the submitter sizes executor memory and this helper
    is simply not called.
    """
    if mem_gb is None:
        env = os.environ.get("SPARK_GRAFT_DRIVER_MEM_GB")
        if env is not None:
            mem_gb = int(env)
        else:
            try:
                total_gb = (
                    os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
                ) / (1 << 30)
                mem_gb = max(4, min(12, int(total_gb // 16)))
            except (ValueError, OSError):
                mem_gb = 8
    return {
        "spark.driver.memory": f"{mem_gb}g",
        "spark.driver.extraJavaOptions": (
            f"-Xms{mem_gb}g -XX:+AlwaysPreTouch"
        ),
    }


def local_cpus() -> int:
    """Core count for local sessions: ``$SPARK_GRAFT_CPUS``, else the
    host's."""
    return int(os.environ.get("SPARK_GRAFT_CPUS", "0") or 0) or os.cpu_count() or 4


def local_session(
    cpus: int | None = None, app_name: str = "cc2dataset_spark"
) -> SparkSession:
    """Local test/bench session on ``local[$SPARK_GRAFT_CPUS]``."""
    if cpus is None:
        cpus = local_cpus()
    return build_spark_session(
        master=f"local[{cpus}]",
        app_name=app_name,
        shuffle_partitions=max(32, cpus),
    )
