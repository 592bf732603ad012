"""Regression tests for the third r7 review batch: cross-engine edge
cases that the fixture data never exercises (astral-plane text, values
past the DECIMAL(18) square-overflow line, non-ASCII whitespace) plus
the refactor-equivalence guards for the deduplicated helpers.

Each test builds a tiny adversarial corpus in tmp_path and runs the
REGISTERED catalog query against its REGISTERED oracle through the
same differential harness the sf fixtures use — so the guard is
end-to-end, not a unit test of the private helper.
"""

from __future__ import annotations

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from cc2dataset_spark.plans.catalog import QUERIES, _load_all
from tests.oracle_harness import compare

_load_all()


def _write_documents(path, rows):
    tbl = pa.table(
        {
            "doc_id": pa.array([r[0] for r in rows], pa.int64()),
            "text": pa.array([r[1] for r in rows], pa.string()),
            "lang": pa.array(["en"] * len(rows), pa.string()),
            "source": pa.array(["s0"] * len(rows), pa.string()),
            "n_chars": pa.array([len(r[1]) for r in rows], pa.int64()),
        }
    )
    pq.write_table(tbl, str(path / "documents.parquet"))


def _con_for(path, table):
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW {table} AS SELECT * FROM "
        f"read_parquet('{path}/{table}.parquet')"
    )
    return con


def test_char_entropy_astral_plane_parity(spark, tmp_path):
    """Spark split('') yields UTF-16 code units while DuckDB splits
    codepoints — an emoji would count as two surrogate 'chars' on one
    engine and one char on the other. Both engines now strip astral
    codepoints before splitting; this corpus would diverge without it."""
    _write_documents(
        tmp_path,
        [
            (1, "hi \U0001f600\U0001f680 there"),  # emoji (2 distinct)
            (2, "\U0001f600\U0001f600\U0001f600"),  # astral-only doc
            (3, "plain ascii text"),
            (4, "café 中文"),  # BMP non-ASCII survives
        ],
    )
    q = QUERIES["text_char_entropy"]
    con = _con_for(tmp_path, "documents")
    try:
        compare(q.fn(spark, str(tmp_path)), con, q.oracle, name=q.name)
    finally:
        con.close()


def test_value_outliers_survives_large_values(spark, tmp_path):
    """DuckDB squares a DECIMAL(18,6) inside int64 and OVERFLOWS for
    any |value| >= 1000 ('Overflow in multiplication of DECIMAL(18)');
    the fixture tops out at ~490 so the sf suites never see it. The
    (19,6) cast forces the int128/DECIMAL(38) path on both engines."""
    n = 40
    tbl = pa.table(
        {
            "event_id": pa.array(range(n), pa.int64()),
            "ts": pa.array([1_700_000_000_000_000_000 + i for i in range(n)],
                           pa.timestamp("ns")),
            "user_id": pa.array([i % 5 for i in range(n)], pa.int64()),
            "event_type": pa.array(
                ["big" if i % 2 else "huge" for i in range(n)], pa.string()
            ),
            # values straddle the DECIMAL(18) square-overflow line; one
            # genuine outlier per type so the |z|>3 flag is exercised
            "value": pa.array(
                [250_000.0 if i < 2 else 1500.0 + i for i in range(n)],
                pa.float64(),
            ),
            "props": pa.array(["{}"] * n, pa.string()),
        }
    )
    pq.write_table(tbl, str(tmp_path / "events.parquet"))
    q = QUERIES["events_value_outliers"]
    con = _con_for(tmp_path, "events")
    try:
        df = q.fn(spark, str(tmp_path))
        compare(df, con, q.oracle, name=q.name)
        flagged = df.where("is_outlier").count()
        assert flagged >= 2  # the planted per-type spikes are caught
    finally:
        con.close()


def test_tokenize_udtf_ascii_whitespace_only(spark, tmp_path):
    """Python's default \\s and str.strip() are Unicode-aware (NBSP,
    \\x85, ...) while the DuckDB oracle's regexp_split_to_table and
    every sibling tokenizer split on ASCII \\s+ — a NBSP-joined pair
    must stay ONE token on both engines."""
    _write_documents(
        tmp_path,
        [
            (1, "a b c"),  # NBSP inside a token, ASCII space splits
            (2, "  lead trail  "),  # edge separators absorbed, no strip
            (3, "x y\tz"),  # thin space stays; tab splits
        ],
    )
    q = QUERIES["text_tokenize_udtf"]
    con = _con_for(tmp_path, "documents")
    try:
        df = q.fn(spark, str(tmp_path))
        compare(df, con, q.oracle, name=q.name)
        toks = {
            (r["doc_id"], r["pos"]): r["token"] for r in df.collect()
        }
        assert toks[(1, 0)] == "a b" and toks[(1, 1)] == "c"
        assert toks[(3, 0)] == "x y" and toks[(3, 1)] == "z"
    finally:
        con.close()


def test_absolutize_urls_null_url_passthrough(spark):
    """The URL kernel keeps every row: a NULL url stays NULL, an
    absolute url passes through, a relative url joins the base."""
    from pyspark.sql import functions as F

    from cc2dataset_spark.functions.links import absolute_url_udf

    df = spark.createDataFrame(
        [
            (None, "http://e.com/a/"),
            ("http://x/y.png", "http://e.com/a/"),
            ("img.png", "http://e.com/a/"),
        ],
        ["url", "base_url"],
    )
    out = df.select(
        absolute_url_udf(
            F.col("base_url"), F.lit(None).cast("string"), F.col("url")
        ).alias("url"),
        "base_url",
    )
    got = {(r.url, r.base_url) for r in out.collect()}
    assert got == {
        (None, "http://e.com/a/"),
        ("http://x/y.png", "http://e.com/a/"),
        ("http://e.com/a/img.png", "http://e.com/a/"),
    }


def test_quality_score_equals_from_tokens_form(spark, sf_dir):
    """Refactor guard: the inline quality_score convenience and the
    pre-tokenized quality_score_from_tokens (now the one formula used
    by text_quality_scores AND dedup_cluster_best_quality) are the
    same function over the real corpus."""
    from pyspark.sql import functions as F

    from cc2dataset_spark.functions import text as T
    from cc2dataset_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents").limit(200)
    both = docs.select(
        T.quality_score("text").alias("a"),
        T.quality_score_from_tokens(
            "text", T.tokens("text")
        ).alias("b"),
    )
    assert both.where(~F.col("a").eqNullSafe(F.col("b"))).count() == 0


def test_decimal_square_micro_units_match_duckdb(spark):
    """r8 regression guard: SUM(value^2) via (18,0) micro-unit squares
    must equal DuckDB bit-for-bit on 6-decimal values — a direct
    (19,6)x(19,6) Spark square is decimal(38,11) HALF_UP-rounded per
    row while DuckDB keeps the exact (38,12) product (measured
    divergence 0.01524163085 vs 0.015241630849 on 0.123457)."""
    import duckdb
    from pyspark.sql import functions as F

    vals = ["0.123457", "9.999995", "123456.654321", "0.000001", "777.123455"]
    df = spark.createDataFrame([(v,) for v in vals], ["value"])
    v = F.col("value").cast("decimal(19,6)")
    m = (v * F.lit(1000000).cast("decimal(7,0)")).cast("decimal(18,0)")
    got = df.agg(
        (F.sum(m * m).cast("double") / F.lit(1e12)).alias("s2")
    ).collect()[0].s2
    con = duckdb.connect()
    want = con.execute(
        "SELECT CAST(SUM(m*m) AS DOUBLE)/1e12 FROM (SELECT "
        "CAST(CAST(v AS DECIMAL(19,6))*1000000 AS DECIMAL(19,0)) AS m "
        "FROM (SELECT unnest(?) AS v))",
        [vals],
    ).fetchone()[0]
    assert got == want, (got, want)
