"""Cache bookkeeping: tracked persists drain between catalog queries.

The r6 ADVICE finding: rank/minhash/tier intermediates stayed
MEMORY_AND_DISK for the life of a bench or driver session because the
release protocol was an ad-hoc DataFrame attribute nobody called.
The r7 ADVICE finding: releasing at the very NEXT build silently broke
any consumer that builds two catalog queries before collecting the
first (the pinned range boundaries recompute and re-sample). These
tests pin the replacement (cc2dataset_spark/caching.py): every
persist-site registers into the current GENERATION, and a generation
drains only when it falls RELEASE_DEPTH (default 2) builds behind.
"""

import pytest
from pyspark.sql import functions as F

from cc2dataset_spark import caching


def _n_cached(spark) -> int:
    return spark.sparkContext._jsc.sc().getPersistentRDDs().size()


def test_track_and_release_all(spark):
    caching.release_all()  # hermetic under any test ordering
    df = spark.range(100).persist()
    caching.track(df)
    df.count()
    assert caching.tracked_count() == 1
    caching.release_all()
    assert caching.tracked_count() == 0
    assert df.storageLevel.useMemory is False


def test_generation_depth_two_keeps_previous_query_pinned(spark):
    """Building query N+1 must NOT release query N's caches (the
    build-two-then-collect consumer pattern); building N+2 must."""
    caching.release_all()
    a = caching.track(spark.range(10).persist())
    a.count()
    caching.advance_generation()  # building query N+1
    assert a.storageLevel.useMemory is True, "N's pin died at N+1's build"
    caching.advance_generation()  # building query N+2
    assert a.storageLevel.useMemory is False
    assert caching.tracked_count() == 0
    caching.release_all()


@pytest.mark.slow
def test_query_build_releases_caches_at_depth(spark, sf_dir):
    """Three ranked queries back-to-back: the third build must release
    the first's pinned range/score caches, and an explicit release_all
    returns the session to its baseline."""
    from cc2dataset_spark.plans.catalog import queries

    caching.release_all()
    q = queries()
    base = _n_cached(spark)
    q["curate_quality_tiers"](spark, sf_dir).count()
    assert caching.tracked_count() > 0  # pins registered
    q["dedup_sorted_neighborhood"](spark, sf_dir).count()
    q["text_token_stats"](spark, sf_dir).count()
    caching.release_all()
    assert _n_cached(spark) == base


def test_build_two_then_collect_first_stays_correct(spark, sf_dir):
    """The r7 ADVICE scenario: build TWO rank-backed catalog queries,
    THEN collect the first. Its pinned boundary sample must still be
    alive (depth 2), so the result must equal the plain PARTITION BY
    window twin value-for-value."""
    from cc2dataset_spark.plans.catalog import queries

    caching.release_all()
    q = queries()
    heavy = q["events_value_quantiles_heavy"](spark, sf_dir)  # build 1
    twin = q["events_value_quantiles"](spark, sf_dir)  # build 2
    got = sorted(map(tuple, heavy.collect()))  # collect 1 AFTER build 2
    want = sorted(map(tuple, twin.collect()))
    assert got == want
    caching.release_all()


def test_minhash_shingle_cache_released_between_queries(spark, sf_dir):
    from cc2dataset_spark.plans.catalog import queries

    caching.release_all()
    q = queries()
    base = _n_cached(spark)
    q["dedup_minhash_neardup"](spark, sf_dir).count()
    assert caching.tracked_count() == 1
    # drains after RELEASE_DEPTH subsequent builds via the @query wrapper
    q["text_token_stats"](spark, sf_dir).count()
    q["text_quality_scores"](spark, sf_dir).count()
    assert _n_cached(spark) == base
