"""Relational table sources over the driver fixture parquet.

Tables and schemas per /root/repo/FIXTURES.md §B. Scans stay fully
declarative (``spark.read.parquet``) so Catalyst keeps predicate pushdown,
column pruning, and partition sizing; never collect or infer.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

# Small dimension tables that should always be broadcast when joined
# against fact tables — at 100 TB these stay KB-to-MB sized.
BROADCAST_DIMS = frozenset({"region", "nation", "supplier", "part", "customer"})


def table_path(sf_dir: str, name: str) -> str:
    return os.path.join(sf_dir, f"{name}.parquet")


# Session-scoped cache of the RESOLVED scan relation per
# (applicationId, sf_dir, table) — r14, VERDICT ask #4 (the per-query
# fixed floor): every `spark.read.parquet` call re-lists the path and
# re-reads the parquet footer ON THE DRIVER, measured at 200-370 ms
# per load_table call in a warm session — multiplied by ~2-4 table
# loads per query across a 209-query sweep, that re-listing alone was
# tens of seconds of pure driver time. The cached object is a LAZY
# DataFrame (an analyzed read plan) — NO result, NO rows, NOTHING
# derived from the data is cached; every action still scans the
# parquet. Keyed by applicationId so a stopped session can never
# serve a live caller (same invalidation contract as the PSL rules
# frame in functions/links.py); entries from other applications are
# pruned on insert so long-lived multi-session processes don't
# accumulate dead handles. Correctness note: the fixtures are
# immutable inputs by the driver contract — a mutated-in-place
# parquet path would serve a stale FileIndex until the session ends,
# the standard Spark cached-relation trade (same behavior as
# spark.catalog temp views).
_SCAN_RELATION_CACHE: dict[tuple[str, str, str], DataFrame] = {}


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one fixture table. Parquet carries the schema; no inference.

    ``events.ts`` is parquet TIMESTAMP(NANOS), which Spark cannot read
    natively; with ``spark.sql.legacy.parquet.nanosAsLong`` it surfaces
    as a nanosecond BIGINT that we floor-truncate to microseconds —
    byte-identical to DuckDB's ns->us truncation.
    """
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; expected one of {TABLES}")
    # These two confs must hold even on sessions we didn't build (the
    # driver passes its own SparkSession) because RESULTS depend on
    # them; both are runtime-settable. UTC pins LTZ rendering and
    # timestamp-literal parsing so results are host-timezone-
    # independent (the fixtures and the DuckDB oracle are timezone-
    # naive); nanosAsLong is the only way to read the events fixture
    # at all. Purely plan-shaping confs (subset co-partitioning for
    # the neardup grid joins) are NOT set here — library code must not
    # silently retune a caller's session (r9); they live in the
    # session.py builders, and foreign sessions get correct plans with
    # at most one extra exchange unless they opt in themselves.
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    if name == "events":
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    key = (spark.sparkContext.applicationId, os.path.abspath(sf_dir), name)
    cached = _SCAN_RELATION_CACHE.get(key)
    if cached is not None:
        return cached
    df = spark.read.parquet(table_path(sf_dir, name))
    if name == "events" and dict(df.dtypes).get("ts") == "bigint":
        from pyspark.sql import functions as F

        # TIMESTAMP_NTZ, like every other fixture timestamp: collect()
        # renders LTZ in the PYTHON PROCESS's timezone (not the session
        # tz), so an LTZ ts breaks value comparison on non-UTC hosts.
        # The LTZ->NTZ cast uses the session tz, pinned UTC above.
        df = df.withColumn(
            "ts",
            F.expr("CAST(timestamp_micros(ts div 1000) AS TIMESTAMP_NTZ)"),
        )
    for stale in [k for k in _SCAN_RELATION_CACHE if k[0] != key[0]]:
        del _SCAN_RELATION_CACHE[stale]
    _SCAN_RELATION_CACHE[key] = df
    return df


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register all fixture tables as temp views for spark.sql queries."""
    for name in TABLES:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)

