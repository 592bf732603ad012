"""Scan-parallelism floor for compute-heavy operators.

Spark sizes scan partitions by bytes (spark.sql.files.maxPartitionBytes,
default 128 MB), and parquet cannot split below a row group, which is
right when the expensive work IS the scan. For operators whose per-row
compute dwarfs the read — md5 shingle chains, MinHash signatures,
tokenize+explode streams, the O(n*d^2) covariance explode, Arrow media
kernels — a corpus that fits in a couple of splits serializes that
compute onto a couple of cores: every fixture table is ONE row group,
so its scan plans ONE partition (measured: the minhash shingle stage
alone ~3 s single-task at sf0.1; quantized_second_moments 2.8-3.6 s
before spreading, 0.5-0.9 s after; the WebP media rows 11-27 s at
sf0.1 on local[32]).

``spread_small`` repartitions ONLY when the scan came back with fewer
splits than the session's default parallelism. On a production cluster
reading 100 TB the input has orders of magnitude more splits than
cores and this is a no-op — no extra shuffle, no plan change; the
repartition fires exactly in the small-input regime where the shuffle
it introduces is by definition cheap (the input is small).
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def planned_partitions(df: DataFrame) -> int:
    """Planned partition count of ``df``, memoized on the DataFrame
    object: the ``.rdd`` conversion runs a full physical-planning pass
    on the driver EVERY call (measured 175-280 ms), and the count is a
    pure function of the frame's plan. The session-cached scan
    relations (sources/tables.load_table) make repeat query builds hit
    the memo instead of re-planning.

    Probe only a scan or a frame this module memoised: below an
    exchange, adaptive execution runs the shuffle stage to answer."""
    n = getattr(df, "_sg_scan_parts", None)
    if n is None:
        n = df.rdd.getNumPartitions()
        try:
            df._sg_scan_parts = n
        except Exception:
            pass
    return n


def spread_small(
    df: DataFrame, *key_cols: str, ref: DataFrame | None = None
) -> DataFrame:
    """Repartition ``df`` to the session's default parallelism iff its
    planned partition count is lower; otherwise return ``df`` as is.

    With ``key_cols`` the repartition hash-partitions on them
    (deterministic, no local sort); without, it is round-robin, which
    Spark makes deterministic under task retry by sorting within
    partitions first (a cheap pass on this tiny input). Never use on
    plans that depend on partition placement (spark_partition_id,
    monotonically_increasing_id, per-partition sampling).

    ``ref``: optional NARROW ancestor of ``df`` (e.g. the base table a
    caller just projected with ``.select``) whose planned partition
    count equals ``df``'s. Probing the ancestor instead of the fresh
    projection lets the per-object memo absorb the driver-side
    planning pass across query builds."""
    target = df.sparkSession.sparkContext.defaultParallelism
    try:
        n_parts = planned_partitions(ref if ref is not None else df)
    except Exception:
        return df
    if n_parts >= target:
        return df
    out = df.repartition(target, *key_cols)
    try:
        out._sg_scan_parts = target  # the spread output's count is known
    except Exception:
        pass
    return out
