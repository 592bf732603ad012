"""operators/partitioning.spread_small: the one scan-parallelism floor.

It repartitions to the session's default parallelism only when the
probed frame plans fewer partitions, hash-partitioned on the given keys
or round-robin without them, and never changes the rows."""

import re

import pyspark.sql.functions as F
import pytest

from cc2dataset_spark.operators.partitioning import spread_small

# keyed (hash) and keyless (round-robin) calls share every contract
KEYS = pytest.mark.parametrize("keys", [("id",), ()], ids=["keyed", "keyless"])


@KEYS
def test_spread_small_spreads_single_partition(spark, keys):
    df = spark.range(0, 1000, 1, 1)  # 1 partition by construction
    out = spread_small(df, *keys)
    assert out.rdd.getNumPartitions() == (
        spark.sparkContext.defaultParallelism
    )
    # content unchanged
    assert out.count() == 1000
    assert out.agg(F.sum("id")).collect()[0][0] == 999 * 1000 // 2


@KEYS
def test_spread_small_noop_when_already_parallel(spark, keys):
    target = spark.sparkContext.defaultParallelism
    df = spark.range(0, 1000, 1, target + 4)
    out = spread_small(df, *keys)
    # must return the input untouched — no exchange in the plan
    assert out is df


@KEYS
def test_spread_small_is_noop_on_wide_input(spark, keys):
    target = spark.sparkContext.defaultParallelism
    wide = spark.range(1000).repartition(target + 4)
    assert spread_small(wide, *keys) is wide
    narrow = spark.range(1000).coalesce(1)
    spread = spread_small(narrow, *keys)
    assert spread.rdd.getNumPartitions() == target
    # row-preserving
    assert spread.count() == 1000
    assert set(r.id for r in spread.collect()) == set(range(1000))


@KEYS
def test_spread_small_wrong_ref_only_moves_the_exchange(spark, keys):
    # ``ref`` is trusted to plan as many partitions as ``df``; a ref
    # that does not may add or skip the exchange, never change rows.
    target = spark.sparkContext.defaultParallelism
    wide = spark.range(1000).repartition(target + 4)
    narrow = spark.range(1000).coalesce(1)
    assert spread_small(narrow, *keys, ref=wide) is narrow
    spread = spread_small(wide, *keys, ref=narrow)
    assert spread is not wide
    assert spread.rdd.getNumPartitions() == target
    assert sorted(r.id for r in spread.collect()) == list(range(1000))


def test_media_row_spreads_ids_once(spark, sf_dir):
    # The fixture documents table is one row group, so the media row's
    # doc_id stream is spread by exactly one round-robin exchange.
    from cc2dataset_spark.plans.catalog import queries

    df = queries()["multimodal_png_pixel_stats"](spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert len(re.findall(r"Exchange RoundRobinPartitioning", plan)) == 1, plan
