"""The extraction plan is one linear pass: each archive is parsed once
and every kept link crosses the Python boundary once (one
ArrowEvalPython node, no Union). Plus the URL kernel's edge cases,
checked against the pure-Python oracle."""

from __future__ import annotations

import re
import shutil

from cc2dataset_spark import pipeline
from cc2dataset_spark.operators.extraction import extract_document_links
from cc2dataset_spark.sources import warc_fallback
from cc2dataset_spark.sources.wat import WAT_SCHEMA, read_wat_archives
from tests.fixtures.build_tiny_wat import FIXTURE_PATH
from tests.wat_fixtures import FIXTURE_RECORDS, link, oracle_extract, record


def _n_nodes(plan: str, op: str) -> int:
    # tree lines look like "   +- *(2) Filter ..." / ":  +- Union"
    return len(re.findall(rf"^[\s:+\-*()\d]*{op}\b", plan, re.M))


def test_extraction_plan_is_linear(spark):
    df = extract_document_links(read_wat_archives(spark, [FIXTURE_PATH]), "image")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert _n_nodes(plan, "ArrowEvalPython") == 1, plan
    assert _n_nodes(plan, "Union") == 0, plan
    assert _n_nodes(plan, "Scan ExistingRDD") == 1, plan


def _counting(inner, acc):
    """``inner`` counting its calls in ``acc`` — one call is one parse of
    one archive. A nested function, so Spark ships it by value."""

    def iter_warc_records(raw):
        acc.add(1)
        return inner(raw)

    return iter_warc_records


def test_pipeline_parses_each_archive_once(spark, tmp_path, monkeypatch):
    paths = []
    for i in range(3):
        p = str(tmp_path / f"copy{i}.wat.warc.gz")
        shutil.copyfile(FIXTURE_PATH, p)
        paths.append(p)
    acc = spark.sparkContext.accumulator(0)
    monkeypatch.setattr(
        warc_fallback,
        "iter_warc_records",
        _counting(warc_fallback.iter_warc_records, acc),
    )
    n = pipeline.cc2dataset(
        spark, str(tmp_path / "out"), paths, document_type="image", min_files=1
    )
    assert acc.value == len(paths)
    assert n == len({uid for uid, *_ in oracle_extract(FIXTURE_RECORDS, "image")})


# Records for this test only: FIXTURE_RECORDS (and the checked-in
# archive built from them) stay as they are.
EDGE_RECORDS = [
    # malformed <base href>: urljoin raises, the page url is the base
    record(
        [link(url="pic.png", alt="malformed base", path="IMG@/src")],
        page_url="http://example.com/a/page.html",
        base="http://[",
    ),
    record(
        [
            # urljoin raises: the url passes through, then fails the
            # scheme filter
            link(url="//[bad/x.png", alt="unjoinable", path="IMG@/src"),
            # empty url resolves to the base itself
            link(url="", alt="empty url", path="IMG@/src"),
            link(url="ok.png", alt="plain relative", path="IMG@/src"),
        ],
        page_url="https://example.org/dir/index.html",
    ),
]


def test_url_kernel_edge_cases_match_oracle(spark):
    df = spark.createDataFrame(EDGE_RECORDS, WAT_SCHEMA)
    got = sorted(tuple(r) for r in extract_document_links(df, "image").collect())
    want = sorted(oracle_extract(EDGE_RECORDS, "image"))
    assert got == want
    assert {url for _, url, *_ in want} == {
        "http://example.com/a/pic.png",
        "https://example.org/dir/index.html",
        "https://example.org/dir/ok.png",
    }
