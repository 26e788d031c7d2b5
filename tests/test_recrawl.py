"""Per-URL recrawl dedup: canonicalization equivalences, latest-crawl
selection, and the zero-Python plan (whole-stage codegen, one exchange)."""

from __future__ import annotations

import datetime

import pytest
from pyspark.sql import functions as F

from neural_locality_sensitive_hashing_spark.operators.recrawl import (
    canonical_url,
    latest_crawl_per_url,
    recrawl_stats,
)


def _canon(spark, url: str) -> str:
    return (
        spark.range(1)
        .select(canonical_url(F.lit(url)).alias("c"))
        .first()["c"]
    )


@pytest.mark.parametrize(
    "raw,want",
    [
        # case + default port + trailing slash + fragment
        ("HTTP://WWW.Example.com:80/a/b/#frag", "http://example.com/a/b"),
        ("https://example.com:443/", "https://example.com"),
        # tracking params dropped, survivors sorted
        (
            "https://example.com/p?utm_source=x&b=2&a=1&fbclid=zzz",
            "https://example.com/p?a=1&b=2",
        ),
        ("https://example.com/p?utm_campaign=x&gclid=1", "https://example.com/p"),
        # param ORDER never splits a canonical URL
        ("https://example.com/p?b=2&a=1", "https://example.com/p?a=1&b=2"),
        # non-default port and non-tracking params survive
        (
            "https://example.com:8443/x?id=7",
            "https://example.com:8443/x?id=7",
        ),
        ("http://example.com:8080/x", "http://example.com:8080/x"),
        # repeated www prefixes strip in ONE pass (idempotence)
        ("http://www.www.x.com/", "http://x.com"),
        # unparseable URLs fall back to the raw string, never NULL
        ("//a.com/x", "//a.com/x"),
        ("not_a_url", "not_a_url"),
    ],
)
def test_canonical_url(spark, raw, want):
    assert _canon(spark, raw) == want


def test_unparseable_urls_not_collapsed(spark):
    """Distinct unparseable URLs must each survive latest_crawl_per_url —
    a NULL canonical key would merge them into one window partition and
    silently drop all but one."""
    base = datetime.datetime(2024, 1, 1)
    rows = [
        (0, "//a.com/x", base, "a"),
        (1, "not_a_url", base, "b"),
        (2, "also not a url", base, "c"),
    ]
    pages = spark.createDataFrame(
        rows, "doc_id long, url string, warc_ts timestamp, text string"
    )
    kept = latest_crawl_per_url(pages).collect()
    assert {r.doc_id for r in kept} == {0, 1, 2}
    assert all(r.canonical_url is not None for r in kept)


def test_latest_crawl_per_url(spark):
    base = datetime.datetime(2024, 1, 1)
    day = datetime.timedelta(days=1)
    rows = [
        # three crawls of one page under trivially-different URLs
        (0, "http://www.a.com/x?utm_source=m", base, "old"),
        (1, "http://a.com/x/", base + day, "mid"),
        (2, "HTTP://A.com:80/x#top", base + 2 * day, "new"),
        # a distinct page: same host, different path
        (3, "http://a.com/y", base, "y"),
        # same-timestamp tie -> highest doc_id wins deterministically
        (4, "http://b.com/z", base, "z4"),
        (5, "http://b.com/z", base, "z5"),
    ]
    pages = spark.createDataFrame(
        rows, "doc_id long, url string, warc_ts timestamp, text string"
    )
    kept = {r.doc_id: r for r in latest_crawl_per_url(pages).collect()}
    assert set(kept) == {2, 3, 5}
    assert kept[2].canonical_url == "http://a.com/x"
    assert kept[2].n_crawls == 3
    assert kept[3].n_crawls == 1
    assert kept[5].n_crawls == 2

    stats = {r.canonical_url: r.n_crawls for r in recrawl_stats(pages).collect()}
    assert stats == {"http://a.com/x": 3, "http://b.com/z": 2}


def test_recrawl_plan_is_native_single_exchange(spark):
    """No Python in the plan (pure Catalyst expressions -> codegen) and
    exactly one shuffle (the canonical_url window)."""
    from tools.plan_audit import audit

    pages = spark.createDataFrame(
        [(0, "http://a.com/x", datetime.datetime(2024, 1, 1), "t")],
        "doc_id long, url string, warc_ts timestamp, text string",
    )
    df = latest_crawl_per_url(pages)
    a = audit(df)
    assert a["exchanges"] == 1, a
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PythonUDF" not in plan and "ArrowEval" not in plan


def test_tracking_params_case_insensitive_and_bare(spark):
    """'UTM_Source=x', 'Fbclid=...' and a bare 'ref' are trackers too —
    the case-sensitive '='-required form split one canonical URL into
    several dedup keys (under-dedup)."""
    for raw in (
        "https://a.com/p?UTM_Source=x&a=1",
        "https://a.com/p?Fbclid=zz&a=1",
        "https://a.com/p?ref&a=1",
        "https://a.com/p?REF=home&a=1",
    ):
        assert _canon(spark, raw) == "https://a.com/p?a=1"


def test_planted_crawls_queries(spark):
    """End-to-end over the planted crawls DATA-LAYER table (the driver
    correctness lane's input): the 3 noise-variants per base doc collapse
    to one canonical URL with the newest crawl (k=2) winning, singletons
    survive untouched, and the schemeless raw-string fallback group keeps
    its later crawl."""
    from neural_locality_sensitive_hashing_spark.planted import N_CRAWL_BASE
    from neural_locality_sensitive_hashing_spark.queries import (
        q_recrawl_latest,
        q_recrawl_stats,
    )

    sf = "/root/testdata/sf0.001"
    kept = q_recrawl_latest(spark, sf).collect()
    # N_CRAWL_BASE triple-group winners + N_CRAWL_BASE singletons + 1 fallback
    assert len(kept) == 2 * N_CRAWL_BASE + 1
    triples = [r for r in kept if r.n_crawls == 3]
    assert len(triples) == N_CRAWL_BASE
    # winner of every triple group is the k=2 variant (newest warc_ts)
    assert all(r.crawl_id % 10 == 2 for r in triples)
    assert all(
        r.canonical_url.startswith("https://example")
        and "?a=1&b=2" in r.canonical_url
        for r in triples
    )
    fallback = [r for r in kept if r.crawl_id >= 9000000]
    assert len(fallback) == 1
    assert fallback[0].crawl_id == 9000002  # the LATER schemeless crawl
    assert fallback[0].canonical_url == "no-scheme.example.com/page?x=1"
    assert fallback[0].n_crawls == 2

    stats = {r.canonical_url: r.n_crawls for r in q_recrawl_stats(spark, sf).collect()}
    assert len(stats) == N_CRAWL_BASE + 1
    assert stats["no-scheme.example.com/page?x=1"] == 2
    assert set(stats.values()) == {2, 3}
