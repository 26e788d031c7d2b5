"""Per-URL recrawl deduplication — the FIRST dedup tier on real
Common-Crawl-style inputs, upstream of content dedup.

The input table (url, warc_ts, html, text, lang) carries the same page
crawled many times under trivially-different URLs (tracking params,
fragments, case, default ports, trailing slashes). Canonicalizing the URL
and keeping only the newest crawl per canonical URL removes the bulk of
exact recrawl duplication BEFORE any text is shingled — at 10^12 docs
this is the cheapest 30-50% volume cut in the pipeline, and it is pure
native Catalyst (parse_url + regexp/array expressions, whole-stage
codegen; no Python anywhere).

Canonicalization choices (documented, deterministic):
  * scheme and authority lowercased; default ports (:80 http, :443 https)
    stripped; leading ``www.`` stripped,
  * fragment dropped,
  * trailing slashes on the path dropped (''/'/' equivalence),
  * tracking params (utm_*, fbclid, gclid, msclkid, ref) removed; the
    REMAINING query params sorted so param order never splits a URL.

Shuffle shape: ONE exchange on canonical_url (the window). On Iceberg at
scale, bucket-partitioning the table by canonical_url makes this
exchange-free (partition-local window).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

# Case-insensitive ('UTM_Source=' is the same tracker as 'utm_source='),
# '=' optional (a bare 'ref' param is still a tracker). Under-matching
# here only under-dedups — it never drops a distinct page — but it splits
# what should be one canonical URL into several dedup keys. Valid as both
# Java regex (Spark rlike) and RE2 (the DuckDB oracle replay).
TRACKING_PARAM_RE = r"^(?i)(utm_[a-z]+|fbclid|gclid|msclkid|ref)(=|$)"


def canonical_url(url: Column) -> Column:
    """Canonical form of a URL column, native expressions only.

    Unparseable URLs (missing scheme, protocol-relative, malformed)
    canonicalize to the RAW url string instead of NULL — via try_parse_url
    (plain parse_url THROWS on invalid URLs under Spark 4's ANSI mode,
    which would abort the whole job on one bad crawl record). A NULL key
    would collapse every unparseable row into one window partition and
    silently drop all but one of them in latest_crawl_per_url — the
    raw-string fallback keeps each distinct unparseable URL its own dedup
    key (no loss, just no normalization)."""
    proto = F.lower(F.try_parse_url(url, F.lit("PROTOCOL")))
    authority = F.lower(F.try_parse_url(url, F.lit("AUTHORITY")))
    # strip ALL leading www. prefixes in one anchored pass — one-at-a-time
    # stripping would break idempotence for www.www.x.com
    authority = F.regexp_replace(authority, r"^(www\.)+", "")
    # strip the scheme's default port only
    authority = F.when(
        proto == "http", F.regexp_replace(authority, r":80$", "")
    ).when(
        proto == "https", F.regexp_replace(authority, r":443$", "")
    ).otherwise(authority)
    path = F.coalesce(F.try_parse_url(url, F.lit("PATH")), F.lit(""))
    path = F.regexp_replace(path, r"/+$", "")
    query = F.coalesce(F.try_parse_url(url, F.lit("QUERY")), F.lit(""))
    kept = F.array_sort(
        F.filter(
            F.split(query, "&"),
            lambda p: (p != "") & ~p.rlike(TRACKING_PARAM_RE),
        )
    )
    qpart = F.when(
        F.size(kept) > 0, F.concat(F.lit("?"), F.array_join(kept, "&"))
    ).otherwise(F.lit(""))
    return F.coalesce(
        F.concat(proto, F.lit("://"), authority, path, qpart), url
    )


def latest_crawl_per_url(pages: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """One row per canonical ``url``: the newest crawl by ``warc_ts`` (ties
    broken by highest ``id_col`` — deterministic). Adds ``canonical_url``
    and ``n_crawls`` (how many crawl rows collapsed into this one) to the
    surviving rows."""
    w = Window.partitionBy("canonical_url")
    wr = w.orderBy(F.desc("warc_ts"), F.desc(id_col))
    return (
        pages.withColumn("canonical_url", canonical_url(F.col("url")))
        .withColumn("_rk", F.row_number().over(wr))
        .withColumn("n_crawls", F.count("*").over(w))
        .where(F.col("_rk") == 1)
        .drop("_rk")
    )


def recrawl_stats(pages: DataFrame) -> DataFrame:
    """(canonical_url, n_crawls) for ``url``s crawled more than once — the
    audit view of how much the recrawl tier removes."""
    return (
        pages.select(canonical_url(F.col("url")).alias("canonical_url"))
        .groupBy("canonical_url")
        .agg(F.count("*").alias("n_crawls"))
        .where(F.col("n_crawls") > 1)
    )
