"""Named queries for the driver contract (__spark_entry__.py).

Each entry pairs a Spark DataFrame implementation with (where the semantics
are SQL-expressible) an equivalent DuckDB oracle SQL string over the same
parquet tables. Column names and rounding are kept identical on both sides
because the driver hash-compares values after sorting columns by name.

Tokenization contract shared by Spark and SQL oracles:
    tokens  = non-empty splits of whitespace-normalized text
    shingle = 5 consecutive tokens joined by ' '  (docs shorter than 5
              tokens contribute the whole text as a single shingle)
"""

from __future__ import annotations

import functools
import operator as _op
from collections.abc import Callable

import numpy as np
from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from neural_locality_sensitive_hashing_spark.config import DedupConfig
from neural_locality_sensitive_hashing_spark.functions import text as T
from neural_locality_sensitive_hashing_spark.operators import similarity as S
from neural_locality_sensitive_hashing_spark.operators.connected_components import (
    clusters_with_singletons,
    connected_components,
)
from neural_locality_sensitive_hashing_spark.operators.dedup import (
    keep_list,
    minhash_dedup_clusters,
    minhash_dup_pairs,
)

CFG = DedupConfig()
NGRAM_TAU = 0.5  # exact n-gram Jaccard threshold for the pairs query


def load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


_LANE_TMP: str | None = None


def _lane_result(out: DataFrame) -> DataFrame:
    """Executor-side re-materialization for lane queries whose INPUTS live
    in a per-call tmpdir (incremental stores, archive directories, stream
    checkpoints): the result is written to a session-scoped temp parquet
    and returned as the lazy read-back, so the per-call input dir can be
    deleted without the returned plan dangling — and the lane NEVER
    collects result rows onto the driver at any sf (this replaced the
    round-8 ``rows = out.collect(); createDataFrame(rows, schema)``
    scaffolding, which at a larger driver sf would have materialized
    whole cluster/session tables driver-side). The write is a normal
    distributed action; the result parquet lives until interpreter exit
    (one session-scoped dir, atexit-cleaned), which outlives the
    driver's later collect on the returned DataFrame."""
    import atexit
    import os
    import shutil
    import tempfile
    import uuid

    global _LANE_TMP
    if _LANE_TMP is None:
        _LANE_TMP = tempfile.mkdtemp(prefix="nlsh_lane_results_")
        atexit.register(shutil.rmtree, _LANE_TMP, ignore_errors=True)
    path = os.path.join(_LANE_TMP, uuid.uuid4().hex[:12])
    out.write.parquet(path)
    return out.sparkSession.read.parquet(path)


# --- shared SQL fragments (DuckDB) -----------------------------------------

_SQL_TOKS = (
    "list_filter(string_split(regexp_replace(trim(text), '\\s+', ' ', 'g'), ' '), "
    "x -> x <> '')"
)


def _sql_gram_case(k: int, distinct: bool = True) -> str:
    """DuckDB k-gram CASE expression over a token-array column ``t`` —
    THE single source of the inclusive-slice arithmetic for the shared
    tokenization contract (module docstring): k-token space-joined grams,
    docs shorter than k contributing one whole-document gram. Every
    oracle that shingles (ngram/minhash family, doc_repetition,
    benchmark_decontam) derives its fragment from here so the off-by-one
    -prone bounds exist exactly once."""
    lst = (
        f"[array_to_string(t[i:i+{k - 1}], ' ') "
        f"for i in range(1, len(t) - {k - 2})]"
    )
    if distinct:
        lst = f"list_distinct({lst})"
    return (
        f"CASE WHEN len(t) >= {k} THEN {lst} "
        f"ELSE [array_to_string(t, ' ')] END"
    )


_SQL_SHINGLES = f"""
toks AS (
  SELECT doc_id, {_SQL_TOKS} AS t FROM documents
),
sh AS (
  SELECT doc_id, {_sql_gram_case(5)} AS s
  FROM toks
)
"""

_SQL_EXACT_PAIRS_BODY = f"""
{_SQL_SHINGLES},
cand AS (
  SELECT DISTINCT la.doc_id AS a, lb.doc_id AS b
  FROM (SELECT doc_id, unnest(s) AS g FROM sh) la
  JOIN (SELECT doc_id, unnest(s) AS g FROM sh) lb
    ON la.g = lb.g AND la.doc_id < lb.doc_id
),
jac AS (
  SELECT c.a, c.b,
         round(len(list_intersect(sa.s, sb.s)) * 1.0
               / len(list_distinct(list_concat(sa.s, sb.s))), 6) AS jaccard
  FROM cand c JOIN sh sa ON c.a = sa.doc_id JOIN sh sb ON c.b = sb.doc_id
)
"""

_SQL_EXACT_PAIRS = "WITH " + _SQL_EXACT_PAIRS_BODY


# --- shared 60-bit hash contract (Spark `conv(md5)` == DuckDB hex cast) ------


def _h60(col: Column) -> Column:
    """First 60 bits of md5 as a non-negative BIGINT — the one hash both
    Spark and DuckDB compute bit-identically (xxhash64 has no DuckDB
    counterpart, so every oracle-checked hash-kernel query uses this)."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")


def _sql_h60(expr: str) -> str:
    return f"CAST(('0x' || substring(md5({expr}), 1, 15)) AS BIGINT)"


def _h60_gram_udf(k: int, distinct: bool = False, winnow: int = 0):
    """Fused Arrow kernel: text -> array<bigint> of _h60 k-gram hashes —
    BIT-IDENTICAL to the native chain `transform(shingles(tokens(text),
    k), _h60)` (tokenize on the Java \\s class, space-join k-token grams,
    whole-doc fallback below k, first 60 bits of md5), measured ~3x
    cheaper: the interpreted arrays_zip/concat_ws/conv expression chain
    allocates per-element JVM garbage that stalls the shared local heap
    at high thread counts (the same effect the fused MinHash kernel
    documents, functions/minhash.py), while the worker computes the gram
    bytes + md5 with no shared GC. ``distinct`` de-dupes gram STRINGS
    first (simhash's array_distinct semantics); ``winnow`` > 0 applies
    the sliding-window-of-w minimum + distinct over the positional gram
    hashes (longrepeat_winnowed's fingerprint selection) — both replayed
    exactly as the native expressions compute them, so every consumer's
    oracle stays value-identical."""
    import hashlib
    import re

    ws_re = re.compile(r"[ \t\n\x0b\f\r]+")  # Java regex \s class

    from pyspark.sql.functions import pandas_udf
    from pyspark.sql.types import ArrayType, LongType

    @pandas_udf(ArrayType(LongType()))
    def h60_grams(texts):
        import pandas as pd

        md5 = hashlib.md5
        out = []
        for t in texts:
            if t is None:
                out.append(None)
                continue
            toks = [x for x in ws_re.split(t) if x]
            if len(toks) >= k:
                grams = [" ".join(toks[i : i + k]) for i in range(len(toks) - k + 1)]
            else:
                grams = [" ".join(toks)]
            if distinct:
                grams = list(dict.fromkeys(grams))
            hs = np.fromiter(
                (
                    int.from_bytes(md5(g.encode("utf-8")).digest()[:8], "big") >> 4
                    for g in grams
                ),
                dtype=np.int64,
                count=len(grams),
            )
            if winnow:
                if len(hs) >= winnow:
                    hs = np.lib.stride_tricks.sliding_window_view(hs, winnow).min(axis=1)
                hs = np.unique(hs)
            out.append(hs)
        return pd.Series(out)

    return h60_grams


def _spark_shingled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, sh): per-doc distinct 5-gram hash set. r10: computed by
    the fused Arrow kernel (functions/minhash.py::make_gram_hash_text_udf)
    instead of the interpreted native zip_with rolling fold — every
    consumer (ngram_jaccard_pairs, unique_documents, boilerplate_shingles)
    is set-semantic (join equality, intersection/union sizes, counts), so
    the hash-family change is output-invariant up to the accepted 2^-64
    collision class; the native shingle_set measured 0.78s of noop wall
    for the 5k-doc scan alone at sf0.1 (interpreted per-element JVM
    allocation — the fused-MinHash lesson, functions/minhash.py)."""
    docs = load(spark, sf_dir, "documents")
    from neural_locality_sensitive_hashing_spark.functions.minhash import (
        make_gram_hash_text_udf,
    )
    from neural_locality_sensitive_hashing_spark.partitioning import fan_out

    # r10: the sf documents table reads as ONE scan partition, which ran
    # this kernel single-threaded; fan_out spreads it over the slots from
    # 1 MiB of docs up (partitioning.py), a no-op at real scale
    return fan_out(docs).select(
        "doc_id", make_gram_hash_text_udf(CFG.shingle_k)(F.col("text")).alias("sh")
    )


def _spark_exact_jaccard_pairs(spark: SparkSession, sf_dir: str, tau: float) -> DataFrame:
    """Exact n-gram Jaccard pairs via shared-shingle prefilter (no crossJoin:
    only pairs with jaccard > 0 are candidates, exactly as in the oracle)."""
    sh = _spark_shingled(spark, sf_dir).persist()
    ex = sh.select("doc_id", F.explode("sh").alias("g"))
    cand = (
        ex.alias("l")
        .join(ex.alias("r"), "g")
        .where(F.col("l.doc_id") < F.col("r.doc_id"))
        .select(F.col("l.doc_id").alias("a"), F.col("r.doc_id").alias("b"))
        .dropDuplicates(["a", "b"])
    )
    sa = sh.select(F.col("doc_id").alias("a"), F.col("sh").alias("sh_a"))
    sb = sh.select(F.col("doc_id").alias("b"), F.col("sh").alias("sh_b"))
    inter = F.size(F.array_intersect("sh_a", "sh_b")).cast("double")
    union = F.size(F.array_union("sh_a", "sh_b")).cast("double")
    return (
        cand.join(sa, "a")
        .join(sb, "b")
        .select("a", "b", F.round(inter / union, 6).alias("jaccard"))
        .where(F.col("jaccard") >= tau)
    )


# --- documents: dedup family ------------------------------------------------


def q_exact_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-duplicate clusters keyed on a 128-bit fingerprint: the window
    exchange carries md5(text), never the document text itself (at 100 TB
    the text-keyed variant would shuffle the whole corpus)."""
    docs = load(spark, sf_dir, "documents")
    w = Window.partitionBy(F.md5("text"))
    return docs.select("doc_id", F.min("doc_id").over(w).alias("cluster_id"))


SQL_EXACT_DEDUP_CLUSTERS = """
SELECT doc_id, min(doc_id) OVER (PARTITION BY md5(text)) AS cluster_id FROM documents
"""


def q_exact_dup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-duplicate pairs on md5(text) over documents ∪
    planted_documents.  The driver corpus has no exact duplicates, which
    would make this oracle vacuously green (0 rows vs 0 rows); the planted
    table (a DATA-LAYER parquet table derived deterministically from the
    corpus — see planted.py; previous rounds unioned the same rows inside
    the query body) supplies 5 real exact-duplicate pairs, and BOTH
    engines read the same file, so the comparison checks real values and
    the query answers its own name over tables only."""
    from neural_locality_sensitive_hashing_spark.planted import ensure_planted

    docs_planted, _ = ensure_planted(sf_dir)
    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    fp = (
        docs.unionByName(spark.read.parquet(docs_planted))
        .select("doc_id", F.md5("text").alias("fp"))
    )
    return (
        fp.alias("l")
        .join(fp.alias("r"), "fp")
        .where(F.col("l.doc_id") < F.col("r.doc_id"))
        .select(F.col("l.doc_id").alias("a"), F.col("r.doc_id").alias("b"))
    )


def _sql_exact_dup_pairs(sf_dir: str = "/root/testdata/sf0.01") -> str:
    """Oracle over the same two tables (documents + the planted parquet)."""
    from neural_locality_sensitive_hashing_spark.planted import ensure_planted

    docs_planted, _ = ensure_planted(sf_dir)
    return f"""
WITH alld AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id, text FROM read_parquet('{docs_planted}')
)
SELECT l.doc_id AS a, r.doc_id AS b
FROM alld l JOIN alld r ON md5(l.text) = md5(r.text) AND l.doc_id < r.doc_id
"""


def q_ngram_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _spark_exact_jaccard_pairs(spark, sf_dir, NGRAM_TAU)


def q_unique_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Documents with NO near-duplicate partner — the anti-join membership
    mask as a first-class query (P6, the reference's
    `np.isin(..., invert=True)` — ``nlsh/trainers/proposed.py:117``): the
    keep-side output of a dedup pass, which is what a training-data
    pipeline actually materializes. Left-anti join against both pair
    endpoints; at 100 TB this is two broadcast-able id-only joins."""
    docs = load(spark, sf_dir, "documents").select("doc_id")
    pairs = _spark_exact_jaccard_pairs(spark, sf_dir, NGRAM_TAU).select("a", "b")
    dup_ids = pairs.select(F.col("a").alias("doc_id")).unionByName(
        pairs.select(F.col("b").alias("doc_id"))
    )
    return docs.join(dup_ids, "doc_id", "left_anti")


SQL_NGRAM_JACCARD_PAIRS = f"""
{_SQL_EXACT_PAIRS}
SELECT a, b, jaccard FROM jac WHERE jaccard >= {NGRAM_TAU}
"""

SQL_UNIQUE_DOCUMENTS = f"""
{_SQL_EXACT_PAIRS},
dup AS (SELECT a AS doc_id FROM jac WHERE jaccard >= {NGRAM_TAU}
        UNION SELECT b FROM jac WHERE jaccard >= {NGRAM_TAU})
SELECT d.doc_id FROM documents d
WHERE d.doc_id NOT IN (SELECT doc_id FROM dup)
"""


def q_boilerplate_shingles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document cross-doc boilerplate fraction: the share of a doc's
    distinct 5-gram shingles that appear in MORE THAN ONE document —
    the CCNet/C4-style paragraph/n-gram duplication signal used to strip
    navigation chrome and templated text before training. 100 TB shape:
    explode + groupBy(shingle) is a high-cardinality partial-agg (no hot
    key — a shingle shared by k docs carries k rows, and winnowing/
    long-repeat handles pathological megadup strings upstream); the
    join-back reuses the aggregate's hash partitioning on g, then one
    per-doc aggregation. No window, no low-cardinality exchange."""
    sh = _spark_shingled(spark, sf_dir)
    ex = sh.select("doc_id", F.explode("sh").alias("g"))
    # shingle_set is per-doc DISTINCT, so ex is unique per (doc_id, g) and
    # count(*) over the g partition == countDistinct(doc_id) — without
    # the distinct-agg expand (the oracle spells count(DISTINCT doc_id);
    # same values). r10: the aggregate-then-join-back shape (groupBy(g)
    # -> join on g) is replaced by ONE count window over g — the join
    # needed a second exchange + per-partition hash build of the
    # same-size gd table, and measured 2x the wall (3.25s -> 1.63s noop
    # at sf0.1). g is a high-cardinality hash key, so the window
    # partition is skew-safe exactly where the groupBy was.
    ex2 = ex.select(
        "doc_id", F.count("*").over(Window.partitionBy("g")).alias("nd")
    )
    return ex2.groupBy("doc_id").agg(
        F.count("*").alias("n_shingles"),
        F.round(F.avg((F.col("nd") > 1).cast("double")), 6).alias("shared_frac"),
    )


SQL_BOILERPLATE_SHINGLES = f"""
WITH {_SQL_SHINGLES},
ex AS (SELECT doc_id, unnest(s) AS g FROM sh),
gd AS (SELECT g, count(DISTINCT doc_id) AS nd FROM ex GROUP BY g)
SELECT ex.doc_id, count(*) AS n_shingles,
       round(avg(CASE WHEN gd.nd > 1 THEN 1.0 ELSE 0.0 END), 6) AS shared_frac
FROM ex JOIN gd USING (g)
GROUP BY ex.doc_id
"""


def q_minhash_dedup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full LSH engine pipeline. Oracle = exact Jaccard >= τ: with 32x4
    banding the per-pair miss probability at j=0.70 is ~1.5e-4, so at test
    scale the LSH output equals the exact oracle set (verified in CI)."""
    docs = load(spark, sf_dir, "documents")
    pairs = minhash_dup_pairs(docs, CFG)
    return pairs.select("a", "b", F.round("jaccard", 6).alias("jaccard"))


SQL_MINHASH_DEDUP_PAIRS = f"""
{_SQL_EXACT_PAIRS}
SELECT a, b, jaccard FROM jac WHERE jaccard >= {CFG.jaccard_threshold}
"""


def q_minhash_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    return minhash_dedup_clusters(load(spark, sf_dir, "documents"), CFG)


SQL_MINHASH_DEDUP_CLUSTERS = f"""
WITH RECURSIVE {_SQL_EXACT_PAIRS_BODY},
dup AS (SELECT a, b FROM jac WHERE jaccard >= {CFG.jaccard_threshold}),
edges AS (SELECT a AS src, b AS dst FROM dup UNION SELECT b, a FROM dup),
reach AS (
  SELECT src, src AS dst FROM (SELECT DISTINCT src FROM edges)
  UNION
  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src
),
labels AS (SELECT src AS doc_id, min(dst) AS cluster_id FROM reach GROUP BY src)
SELECT d.doc_id, coalesce(l.cluster_id, d.doc_id) AS cluster_id
FROM documents d LEFT JOIN labels l ON d.doc_id = l.doc_id
"""


def q_dedup_keep_list(spark: SparkSession, sf_dir: str) -> DataFrame:
    """THE deduped corpus: one surviving representative per near-dup
    cluster, with how many documents it stands for — the keep-list a
    training-data pipeline actually materializes and ships downstream
    (everything upstream exists to produce this table). Representative =
    the cluster's min doc_id (deterministic; cluster_id IS that min by
    the union-find labeling, so survivors are exactly the rows where
    doc_id == cluster_id — dedup.keep_list)."""
    return keep_list(minhash_dedup_clusters(load(spark, sf_dir, "documents"), CFG))


SQL_DEDUP_KEEP_LIST = f"""
WITH RECURSIVE {_SQL_EXACT_PAIRS_BODY},
dup AS (SELECT a, b FROM jac WHERE jaccard >= {CFG.jaccard_threshold}),
edges AS (SELECT a AS src, b AS dst FROM dup UNION SELECT b, a FROM dup),
reach AS (
  SELECT src, src AS dst FROM (SELECT DISTINCT src FROM edges)
  UNION
  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src
),
labels AS (SELECT src AS doc_id, min(dst) AS cluster_id FROM reach GROUP BY src),
clusters AS (
  SELECT d.doc_id, coalesce(l.cluster_id, d.doc_id) AS cluster_id
  FROM documents d LEFT JOIN labels l ON d.doc_id = l.doc_id
)
SELECT cluster_id AS doc_id, count(*) AS n_docs_represented
FROM clusters
GROUP BY cluster_id
"""


def q_minhash_dedup_pairs_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The STREAMING content-dedup tier in the value-check lane (the
    pattern recrawl_latest_incremental proved): drain the corpus through
    streaming/incremental.py (one grouped candidate pass over each
    batch's new bands and the bands kept in the signature store) in three
    deterministic micro-batches (split by doc_id % 3 — order-scrambling:
    a dup pair's two ends usually arrive in different batches, so most
    pairs are found as new×stored pairs of that pass, not new×new) and return the accumulated dup-pair store. The oracle is
    EXACTLY the batch tier's SQL (exact Jaccard >= tau), so the driver's
    hash compare certifies incremental == batch == oracle — the
    amortized build-once-probe-many index of the reference
    (nlsh/indexer.py:34-38) re-expressed as persistent band/signature
    stores. Fresh per-call store under a tmpdir (the stream state is the
    unit under test, not a cache)."""
    import shutil
    import tempfile

    from neural_locality_sensitive_hashing_spark.streaming.incremental import (
        IncrementalDeduper,
    )

    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    state = tempfile.mkdtemp(prefix="nlsh_dedup_inc_")
    try:
        dedup = IncrementalDeduper(spark, CFG, state)
        for i in range(3):
            dedup.process_batch(docs.where(F.col("doc_id") % 3 == i), i)
        out = dedup.dup_pairs().select(
            "a", "b", F.round("jaccard", 6).alias("jaccard")
        )
        # executor-side materialization before the tmp store is deleted
        return _lane_result(out)
    finally:
        shutil.rmtree(state, ignore_errors=True)


def q_minhash_dedup_clusters_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """END-TO-END incremental dedup in the value-check lane: where
    minhash_dedup_pairs_incremental certifies the streaming store's PAIR
    emission, this runs the rest of the pipeline — union-find over the
    accumulated incremental pair store, then singleton fill-in — and
    must hash-match the BATCH clusters oracle (SQL_MINHASH_DEDUP_
    CLUSTERS). A green row proves the whole incremental pipeline (band
    store, grouped new×new + new×stored candidate pass, connected
    components, cluster labeling)
    equals the one-shot batch job: the reference's amortized
    build-once-probe-many index (nlsh/indexer.py:34-38) carried to its
    logical end, cluster assignments included. Same 3-batch
    order-scrambling drain (doc_id % 3) and fresh per-call store as the
    pairs lane."""
    import shutil
    import tempfile

    from neural_locality_sensitive_hashing_spark.streaming.incremental import (
        IncrementalDeduper,
    )

    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    state = tempfile.mkdtemp(prefix="nlsh_dedup_cinc_")
    try:
        dedup = IncrementalDeduper(spark, CFG, state)
        for i in range(3):
            dedup.process_batch(docs.where(F.col("doc_id") % 3 == i), i)
        labels = connected_components(
            dedup.dup_pairs(), CFG.max_cc_iterations
        )
        out = clusters_with_singletons(labels, docs)
        # executor-side materialization before the tmp store is deleted
        return _lane_result(out)
    finally:
        shutil.rmtree(state, ignore_errors=True)


# --- recrawl tier (per-URL dedup, upstream of content dedup) -----------------


def q_recrawl_latest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Newest crawl per canonical URL over the planted_crawls table — the
    FIRST dedup tier on Common-Crawl-style inputs (operators/recrawl.py).
    The driver corpus has no url/warc_ts columns and synthetic URLs would
    be unique, so the tier runs on the planted DATA-LAYER crawls table
    (planted.py: 4 URL variants per base doc differing only by www/case/
    default-port/trailing-slash/fragment/param-order/tracking noise, plus
    a schemeless URL crawled twice for the raw-string fallback); BOTH
    engines read the same parquet, so the canonicalization + window are
    value-checked on non-vacuous n_crawls>1 groups."""
    from neural_locality_sensitive_hashing_spark.planted import ensure_planted_crawls
    from neural_locality_sensitive_hashing_spark.operators.recrawl import (
        latest_crawl_per_url,
    )

    crawls = spark.read.parquet(ensure_planted_crawls(sf_dir))
    return latest_crawl_per_url(crawls, id_col="crawl_id").select(
        "crawl_id", "canonical_url", "n_crawls"
    )


def q_recrawl_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audit view of the recrawl tier: canonical URLs crawled >1 time and
    how many raw crawls each collapses (operators/recrawl.py)."""
    from neural_locality_sensitive_hashing_spark.planted import ensure_planted_crawls
    from neural_locality_sensitive_hashing_spark.operators.recrawl import (
        recrawl_stats,
    )

    crawls = spark.read.parquet(ensure_planted_crawls(sf_dir))
    return recrawl_stats(crawls)


def _sql_canonical_crawls(sf_dir: str) -> str:
    """DuckDB CTE replaying operators/recrawl.py::canonical_url with
    string/regexp functions (DuckDB has no parse_url): scheme+authority
    lowercased, www. prefixes and default ports stripped, fragment
    dropped, trailing path slashes dropped, tracking params removed with
    the SAME TRACKING_PARAM_RE, survivors sorted; schemeless/unparseable
    URLs (no '://') fall back to the raw string, exactly as the Spark
    side's try_parse_url NULL fallback does."""
    from neural_locality_sensitive_hashing_spark.operators.recrawl import (
        TRACKING_PARAM_RE,
    )
    from neural_locality_sensitive_hashing_spark.planted import ensure_planted_crawls

    crawls = ensure_planted_crawls(sf_dir)
    scheme = r"[a-zA-Z][a-zA-Z0-9+.\-]*"
    return f"""
raw AS (SELECT * FROM read_parquet('{crawls}')),
parts AS (
  SELECT *,
    lower(regexp_extract(url, '^({scheme})://', 1)) AS proto,
    regexp_replace(lower(regexp_extract(url, '^{scheme}://([^/?#]*)', 1)),
                   '^(www\\.)+', '') AS auth1,
    regexp_replace(regexp_extract(url, '^{scheme}://[^/?#]*([^?#]*)', 1),
                   '/+$', '') AS path,
    regexp_extract(url, '\\?([^#]*)', 1) AS q0
  FROM raw
),
canon AS (
  SELECT *, CASE WHEN proto = '' THEN url ELSE
    proto || '://'
    || CASE WHEN proto = 'http' THEN regexp_replace(auth1, ':80$', '')
            WHEN proto = 'https' THEN regexp_replace(auth1, ':443$', '')
            ELSE auth1 END
    || path
    || CASE WHEN len(kept) > 0 THEN '?' || array_to_string(kept, '&')
            ELSE '' END
  END AS canonical_url
  FROM (
    SELECT *, list_sort(list_filter(string_split(q0, '&'),
        p -> p <> '' AND NOT regexp_matches(p, '{TRACKING_PARAM_RE}'))) AS kept
    FROM parts
  )
)
"""


def _sql_recrawl_latest(sf_dir: str = "/root/testdata/sf0.01") -> str:
    return f"""
WITH {_sql_canonical_crawls(sf_dir)}
SELECT crawl_id, canonical_url, n_crawls FROM (
  SELECT crawl_id, canonical_url,
         row_number() OVER (PARTITION BY canonical_url
                            ORDER BY warc_ts DESC, crawl_id DESC) AS rk,
         count(*) OVER (PARTITION BY canonical_url) AS n_crawls
  FROM canon
) WHERE rk = 1
"""


def _sql_recrawl_stats(sf_dir: str = "/root/testdata/sf0.01") -> str:
    return f"""
WITH {_sql_canonical_crawls(sf_dir)}
SELECT canonical_url, count(*) AS n_crawls
FROM canon GROUP BY canonical_url HAVING count(*) > 1
"""


def q_recrawl_latest_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The STREAMING recrawl tier in the value-check lane: drain the
    planted crawls table through streaming/recrawl_stream.py's
    foreachBatch upsert in three micro-batches (split by crawl_id % 3 —
    deterministic, order-scrambling: a group's winner can arrive before
    its losers) and return the final store. Must produce byte-identical
    (crawl_id, canonical_url, n_crawls) to the one-shot batch window —
    the oracle is EXACTLY recrawl_latest's DuckDB SQL, so the driver's
    hash compare certifies incremental == batch == oracle. Fresh
    per-call store under a tmpdir (the stream state is the unit under
    test, not a cache)."""
    import shutil
    import tempfile

    from neural_locality_sensitive_hashing_spark.planted import ensure_planted_crawls
    from neural_locality_sensitive_hashing_spark.streaming.recrawl_stream import (
        IncrementalRecrawl,
    )

    crawls = spark.read.parquet(ensure_planted_crawls(sf_dir))
    state = tempfile.mkdtemp(prefix="nlsh_recrawl_inc_")
    try:
        sink = IncrementalRecrawl(spark, state)
        for i in range(3):
            sink.process_batch(crawls.where(F.col("crawl_id") % 3 == i), i)
        out = sink.latest_crawls().select(
            "crawl_id", "canonical_url", "n_crawls"
        )
        # executor-side materialization before the tmp store is deleted
        return _lane_result(out)
    finally:
        shutil.rmtree(state, ignore_errors=True)


_HOST_RE = r"^[a-z][a-z0-9+.\-]*://([^/?#]*)"


def q_crawl_host_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-host crawl pressure over the planted crawls table: raw crawl
    rows and distinct canonical pages per host — the audit a crawler's
    politeness/budget logic reads. Schemeless fallback URLs group under
    host '' (regexp_extract returns '' on no match in BOTH engines).
    One exchange (the host aggregate); countDistinct adds its expand
    within the same key space."""
    from neural_locality_sensitive_hashing_spark.operators.recrawl import (
        canonical_url,
    )
    from neural_locality_sensitive_hashing_spark.planted import ensure_planted_crawls

    crawls = spark.read.parquet(ensure_planted_crawls(sf_dir))
    canon = crawls.select(canonical_url(F.col("url")).alias("cu"))
    return (
        canon.select(F.regexp_extract("cu", _HOST_RE, 1).alias("host"), "cu")
        .groupBy("host")
        .agg(
            F.count("*").alias("n_crawls"),
            F.countDistinct("cu").alias("n_pages"),
        )
    )


def _sql_crawl_host_stats(sf_dir: str = "/root/testdata/sf0.01") -> str:
    return f"""
WITH {_sql_canonical_crawls(sf_dir)}
SELECT regexp_extract(canonical_url, '{_HOST_RE}', 1) AS host,
       count(*) AS n_crawls,
       count(DISTINCT canonical_url) AS n_pages
FROM canon GROUP BY host
"""


def q_warc_pages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The WARC crawl-archive tier (sources/warc.py) in the value-check
    lane: the planted crawls table makes a FULL trip through the archive
    loop — the N32 sink (write_warc) encodes it into Common-Crawl-layout
    .warc.gz archives under a tmpdir, one archive per partition, and the
    N30 source (warc_pages) parses them back through the linear
    offset-walked gzip reader and re-derives text/lang with the native
    Catalyst kernels. The oracle is DuckDB over the SAME planted
    parquet, so a green row certifies encode -> parse -> extract ==
    ground truth end-to-end in the hard lane (the reference's S1/S4
    scan/sink contract, nlsh/data.py:23-49: load = exactly what was
    written). html payload = the row's text wrapped by the datagen
    inverse (escape + <main>), so extract_text(html) == text
    byte-identically per the frozen extractor contract. Archives are
    scaffolding (fresh tmpdir per call); the operators under test are
    the sink, the parser, and the extractor."""
    import shutil
    import tempfile

    from neural_locality_sensitive_hashing_spark.functions.text import (
        escape_html_text,
    )
    from neural_locality_sensitive_hashing_spark.planted import ensure_planted_crawls
    from neural_locality_sensitive_hashing_spark.sources.warc import (
        warc_pages,
        write_warc,
    )

    crawls = spark.read.parquet(ensure_planted_crawls(sf_dir))
    pages = crawls.select(
        "crawl_id",
        "url",
        # planted warc_ts is NTZ; value-identical TZ cast under the
        # pinned-UTC session (write_warc asserts UTC)
        F.col("warc_ts").cast("timestamp").alias("warc_ts"),
        F.concat(
            F.lit("<html><head><title>crawl</title></head><body>"
                  "<header>nav</header><main><p>"),
            escape_html_text(F.col("text")),
            F.lit("</p></main><footer>f</footer></body></html>"),
        ).cast("binary").alias("html"),
    )
    out_dir = tempfile.mkdtemp(prefix="nlsh_warc_lane_")
    try:
        # 4 partitions -> 4 archives: exercises the one-archive-per-
        # partition sink shape and a multi-file parallel read-back
        manifest = write_warc(pages.repartition(4, "crawl_id"), out_dir)
        manifest.count()  # the action that triggers the distributed write
        out = warc_pages(spark, f"{out_dir}/part-*.warc.gz").select(
            "url", "warc_ts", "text", "lang"
        )
        # executor-side materialization before the tmp archives are deleted
        return _lane_result(out)
    finally:
        shutil.rmtree(out_dir, ignore_errors=True)


def q_wet_pages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The WET extracted-text tier (N33, sources/warc.py) in the
    value-check lane, AND the mixed-archive type-filter split in the
    same row: ONE tmpdir receives BOTH archive families for the planted
    crawls table — write_warc encodes (url, warc_ts, html) into
    ``part-NNNNN.warc.gz`` and write_wet encodes (url, warc_ts, text)
    into ``part-NNNNN.wet.gz`` (4 archives each, the family-scoped
    stale-clear leaving the other family untouched) — and BOTH sources
    then read the SAME ``part-*`` glob over the mixed directory.
    read_warc's response-record filter must pick out exactly the WARC
    family's pages (re-deriving text from html via the frozen
    extractor) and read_wet's conversion-record filter exactly the WET
    family's (text shipped as-is), each tagged with its src. The oracle
    is DuckDB over the SAME planted parquet crossed with the two src
    tags, so a green row certifies, in the hard lane: WET encode ->
    parse == ground truth (the round-8 gap — N33 was the only engine
    tier without a lane row), the record-type filter split on a mixed
    directory (previously pytest-only, tests/test_warc.py), and the
    WARC roundtrip again beside it. The reference tie-in is the S1/S4
    scan/sink contract (nlsh/data.py:23-49, precompute.py:92-97: load
    returns exactly what was written). Archives are scaffolding (fresh
    tmpdir per call); the operators under test are the two sinks, the
    two record-walk parsers, and the extractor."""
    import shutil
    import tempfile

    from neural_locality_sensitive_hashing_spark.functions.text import (
        escape_html_text,
    )
    from neural_locality_sensitive_hashing_spark.planted import ensure_planted_crawls
    from neural_locality_sensitive_hashing_spark.sources.warc import (
        warc_pages,
        wet_pages,
        write_warc,
        write_wet,
    )

    crawls = spark.read.parquet(ensure_planted_crawls(sf_dir))
    # planted warc_ts is NTZ; value-identical TZ cast under the
    # pinned-UTC session (the sinks assert UTC)
    ts = F.col("warc_ts").cast("timestamp").alias("warc_ts")
    html_pages = crawls.select(
        "crawl_id",
        "url",
        ts,
        F.concat(
            F.lit("<html><head><title>crawl</title></head><body>"
                  "<header>nav</header><main><p>"),
            escape_html_text(F.col("text")),
            F.lit("</p></main><footer>f</footer></body></html>"),
        ).cast("binary").alias("html"),
    )
    text_pages = crawls.select("crawl_id", "url", ts, "text")
    out_dir = tempfile.mkdtemp(prefix="nlsh_wet_lane_")
    try:
        # 4 partitions per family -> 8 archives in ONE directory
        write_warc(html_pages.repartition(4, "crawl_id"), out_dir).count()
        write_wet(text_pages.repartition(4, "crawl_id"), out_dir).count()
        mixed = f"{out_dir}/part-*"  # matches BOTH .warc.gz and .wet.gz
        w = warc_pages(spark, mixed).select(
            F.lit("warc").alias("src"), "url", "warc_ts", "text", "lang"
        )
        t = wet_pages(spark, mixed).select(
            F.lit("wet").alias("src"), "url", "warc_ts", "text", "lang"
        )
        # executor-side materialization before the tmp archives are deleted
        return _lane_result(w.unionByName(t))
    finally:
        shutil.rmtree(out_dir, ignore_errors=True)


def _sql_planted_pages_with_lang(sf_dir: str) -> str:
    """Shared oracle CTE body for the archive-roundtrip lanes: the
    planted crawls table itself, with lang re-derived by the SAME
    stopword-score CASE the doc_profile oracle pins against
    functions/text.py::lang_id — certifying that what comes back out of
    the archives is exactly what went in. Ends in a ``pages`` CTE of
    (url, warc_ts, text, lang)."""
    from neural_locality_sensitive_hashing_spark.planted import ensure_planted_crawls

    crawls = ensure_planted_crawls(sf_dir)
    return f"""
raw AS (SELECT url, warc_ts, text FROM read_parquet('{crawls}')),
toks AS (SELECT *, {_SQL_TOKS} AS t FROM raw),
scored AS (SELECT *, {_sql_lang_scores()} FROM toks),
best AS (SELECT *, greatest(s_en, s_de, s_fr, s_es) AS s_best FROM scored),
pages AS (
  SELECT url, warc_ts, text,
    CASE WHEN s_best > 0 AND s_en = s_best THEN 'en'
         WHEN s_best > 0 AND s_de = s_best THEN 'de'
         WHEN s_best > 0 AND s_fr = s_best THEN 'fr'
         WHEN s_best > 0 AND s_es = s_best THEN 'es'
         ELSE 'und' END AS lang
  FROM best
)"""


def _sql_warc_pages(sf_dir: str = "/root/testdata/sf0.01") -> str:
    return f"""
WITH {_sql_planted_pages_with_lang(sf_dir)}
SELECT url, warc_ts, text, lang FROM pages
"""


def _sql_wet_pages(sf_dir: str = "/root/testdata/sf0.01") -> str:
    """Oracle for the mixed-archive WET lane: the planted pages table
    once per source family — q_wet_pages reads the SAME mixed directory
    through BOTH sources, and each must recover exactly the planted
    rows from its own family's archives (the WARC side re-deriving text
    from html, the WET side shipping text as-is)."""
    return f"""
WITH {_sql_planted_pages_with_lang(sf_dir)}
SELECT s.src, p.url, p.warc_ts, p.text, p.lang
FROM pages p
CROSS JOIN (SELECT 'warc' AS src UNION ALL SELECT 'wet') s
"""


# --- PII scrubbing -----------------------------------------------------------


def q_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Email/IPv4 redaction (functions/pii.py) over documents ∪ the
    planted_pii table (the synthetic corpus carries no PII, which would
    make this oracle vacuous — planted.py suffixes 25 derived docs with
    deterministic emails/IPv4s, two of them with a second email). Emits
    per-doc match counts and the md5 of the REDACTED text, so the
    hash-compare pins every replaced byte without shipping full texts
    through the driver compare. Zero exchanges: scan-local regex chains
    in whole-stage codegen."""
    from neural_locality_sensitive_hashing_spark.functions import pii
    from neural_locality_sensitive_hashing_spark.planted import ensure_planted_pii

    pii_path = ensure_planted_pii(sf_dir)
    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    alld = docs.unionByName(spark.read.parquet(pii_path))
    return alld.select(
        "doc_id",
        pii.email_count(F.col("text")).alias("n_emails"),
        pii.ipv4_count(F.col("text")).alias("n_ipv4"),
        F.md5(pii.scrub(F.col("text"))).alias("clean_md5"),
    )


def _sql_pii_scrub(sf_dir: str = "/root/testdata/sf0.01") -> str:
    from neural_locality_sensitive_hashing_spark.functions.pii import (
        EMAIL_RE,
        EMAIL_TOKEN,
        IPV4_RE,
        IPV4_TOKEN,
    )
    from neural_locality_sensitive_hashing_spark.planted import ensure_planted_pii

    pii_path = ensure_planted_pii(sf_dir)
    return f"""
WITH alld AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id, text FROM read_parquet('{pii_path}')
)
SELECT doc_id,
       len(regexp_extract_all(text, '{EMAIL_RE}')) AS n_emails,
       len(regexp_extract_all(text, '{IPV4_RE}')) AS n_ipv4,
       md5(regexp_replace(regexp_replace(text, '{EMAIL_RE}', '{EMAIL_TOKEN}', 'g'),
                          '{IPV4_RE}', '{IPV4_TOKEN}', 'g')) AS clean_md5
FROM alld
"""


SIMHASH_BITS_SQL = 60  # 60 bits = what the shared md5 hash contract yields
SIMHASH_CHUNKS = 4  # pigeonhole: hamming<=3 pairs share >=1 of 4 exact chunks
SIMHASH_HAMMING_MAX = 3


def _simhash60_code_udf(k: int = CFG.shingle_k):
    """Fused Arrow kernel: text -> 60-bit SimHash code under the shared
    md5/_h60 contract — value-identical to the expression pipeline
    (distinct k-gram h60s -> per-bit +1/-1 sums -> sign pack with >= 0
    ties-to-1), because every step is integer-exact: the j-th bit sum is
    sum over distinct grams of (2*bit_j - 1) and the code sets bit j iff
    that sum >= 0, exactly as the 60 CASE aggregates did."""
    import hashlib
    import re

    ws_re = re.compile(r"[ \t\n\x0b\f\r]+")  # Java regex \s class
    bit_idx = np.arange(SIMHASH_BITS_SQL, dtype=np.uint64)

    from pyspark.sql.functions import pandas_udf
    from pyspark.sql.types import LongType

    @pandas_udf(LongType())
    def simhash60(texts):
        import pandas as pd

        md5 = hashlib.md5
        out = np.zeros(len(texts), dtype=np.int64)
        for i, t in enumerate(texts):
            if t is None:
                continue
            toks = [x for x in ws_re.split(t) if x]
            if len(toks) >= k:
                grams = {
                    " ".join(toks[j : j + k]) for j in range(len(toks) - k + 1)
                }
            else:
                grams = {" ".join(toks)}
            hs = np.fromiter(
                (
                    int.from_bytes(md5(g.encode("utf-8")).digest()[:8], "big") >> 4
                    for g in grams
                ),
                dtype=np.uint64,
                count=len(grams),
            )
            bits = (hs[:, None] >> bit_idx[None, :]) & np.uint64(1)  # (n, 60)
            sums = 2 * bits.sum(axis=0).astype(np.int64) - len(hs)
            code = ((sums >= 0).astype(np.uint64) << bit_idx).sum(dtype=np.uint64)
            out[i] = np.int64(code)
        return pd.Series(out)

    return simhash60


def q_simhash_dup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash Hamming-ball near-dup pairs, fully native Catalyst AND
    SQL-mirrorable: 60-bit code from md5'd shingles (the shared _h60
    contract), 4x15-bit pigeonhole banding, bit_count(xor) verify. The
    lane is self-contained, and the md5 hash keeps every step
    DuckDB-checkable, so the driver value-verifies it end to end.
    """
    docs = load(spark, sf_dir, "documents")
    # r10: the whole code derivation — distinct k-gram h60 hashes, the
    # 60 per-bit +1/-1 sums, the sign pack — is a pure per-document
    # function of text, so it fuses into ONE Arrow kernel
    # (_simhash60_code_udf: same md5 contract, integer-exact sums and
    # comparisons — value-identical codes). The expression form paid an
    # interpreted per-gram md5/concat chain, a 250k-row explode, an
    # exchange, and a 60-CASE-expression aggregate for what is
    # per-row-local math; the kernel leaves ZERO exchanges before the
    # 4-chunk candidate join over the 5k-row code table.
    from neural_locality_sensitive_hashing_spark.partitioning import fan_out

    codes = fan_out(docs).select(
        "doc_id", _simhash60_code_udf()(F.col("text")).alias("code")
    )
    chunk_w = SIMHASH_BITS_SQL // SIMHASH_CHUNKS
    chunks = codes.select(
        "doc_id",
        "code",
        F.posexplode(
            F.array(
                *[
                    F.shiftright(F.col("code"), c * chunk_w).bitwiseAND(
                        F.lit((1 << chunk_w) - 1)
                    )
                    for c in range(SIMHASH_CHUNKS)
                ]
            )
        ).alias("chunk_idx", "chunk"),
    )
    l = chunks.alias("l")
    r = chunks.alias("r")
    cand = (
        l.join(r, ["chunk_idx", "chunk"])
        .where(F.col("l.doc_id") < F.col("r.doc_id"))
        .select(
            F.col("l.doc_id").alias("a"),
            F.col("r.doc_id").alias("b"),
            F.col("l.code").alias("ca"),
            F.col("r.code").alias("cb"),
        )
        .dropDuplicates(["a", "b"])
    )
    return cand.select(
        "a", "b", F.bit_count(F.col("ca").bitwiseXOR(F.col("cb"))).alias("hamming")
    ).where(F.col("hamming") <= SIMHASH_HAMMING_MAX)


def _sql_simhash_pairs() -> str:
    chunk_w = SIMHASH_BITS_SQL // SIMHASH_CHUNKS
    bit_sums = ", ".join(
        f"sum(CASE WHEN (h >> {j}) & 1 = 1 THEN 1 ELSE -1 END) AS s{j}"
        for j in range(SIMHASH_BITS_SQL)
    )
    code_sum = " + ".join(
        f"(CASE WHEN s{j} >= 0 THEN CAST({1 << j} AS BIGINT) ELSE 0 END)"
        for j in range(SIMHASH_BITS_SQL)
    )
    return f"""
WITH {_SQL_SHINGLES},
g AS (
  SELECT doc_id, {_sql_h60('u.g')} AS h
  FROM (SELECT doc_id, unnest(s) AS g FROM sh) u
),
bits AS (SELECT doc_id, {bit_sums} FROM g GROUP BY doc_id),
codes AS (SELECT doc_id, {code_sum} AS code FROM bits),
chunks AS (
  SELECT doc_id, code, c.c AS chunk_idx,
         (code >> (c.c * {chunk_w})) & {(1 << chunk_w) - 1} AS chunk
  FROM codes CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS c) c
),
cand AS (
  SELECT DISTINCT l.doc_id AS a, r.doc_id AS b, l.code AS ca, r.code AS cb
  FROM chunks l
  JOIN chunks r ON l.chunk_idx = r.chunk_idx AND l.chunk = r.chunk
              AND l.doc_id < r.doc_id
)
SELECT a, b, bit_count(xor(ca, cb)) AS hamming
FROM cand WHERE bit_count(xor(ca, cb)) <= {SIMHASH_HAMMING_MAX}
"""


SQL_SIMHASH_DUP_PAIRS = _sql_simhash_pairs()


LONG_REPEAT_GRAM = 12


def q_long_repeat_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact shared-verbatim-block pairs WITH the exact longest-run
    length: docs sharing >=1 distinct 12-token gram, the shared-gram
    count, and max_run — the exact token length of the longest verbatim
    block the pair shares (the §2.8 "suffix-array pass" promise,
    round-8 extension). No suffix array is materialized and no per-row
    Python runs: positional 12-gram matches between two docs are points
    (i, j), and a shared token run of length R >= 12 is EXACTLY a run
    of R-11 consecutive matches along one diagonal i-j, so
    max_run = 11 + the longest consecutive-i chain per (pair, diagonal)
    — a high-cardinality (a, b, diag) window plus two aggregations,
    all Catalyst. Match rows only exist inside genuinely shared blocks,
    so the diagonal stage's input is the same size class as the
    shared-gram join it extends. The winnowed engine-scale variant is
    `longrepeat_winnowed_pairs`; operators/suffix.py::
    long_repeat_pairs_exact composes this same diagonal kernel with
    winnowed candidate pre-filtering for the 100 TB path."""
    docs = load(spark, sf_dir, "documents")
    toks = T.tokens(F.col("text"))
    # r10: the per-gram re-tokenization filter (size(tokens(g)) >= 12 on
    # every exploded gram row) is hoisted to ONE doc-level size check —
    # equivalent by construction: a doc with >= 12 tokens only emits
    # exact-12-token grams, a shorter doc only its (<12-token) whole-text
    # gram. The join/count key is an 8 B positional gram hash from the
    # fused Arrow kernel (functions/minhash.py::make_gram_hash_text_udf,
    # distinct=False — order and multiplicity preserved, so posexplode
    # yields the same (i, gram-identity) stream) instead of the ~90 B
    # gram string built by interpreted expressions — the self-join and
    # both aggregations shuffle ~10x fewer key bytes; candidate/count
    # semantics unchanged up to the engine-wide accepted 2^-64 hash
    # collision class (shingle_set, functions/text.py).
    from neural_locality_sensitive_hashing_spark.functions.minhash import (
        make_gram_hash_text_udf,
    )

    from neural_locality_sensitive_hashing_spark.partitioning import fan_out

    gp = fan_out(docs.where(F.size(toks) >= F.lit(LONG_REPEAT_GRAM))).select(
        "doc_id",
        F.posexplode(
            make_gram_hash_text_udf(LONG_REPEAT_GRAM, distinct=False)(F.col("text"))
        ).alias("i", "g"),
    )
    # persisted: the positional-gram self-join (the heaviest stage) feeds
    # BOTH the diagonal-run aggregation and the n_shared aggregation —
    # unpersisted it would execute twice (same cache lifecycle contract
    # as dedup.py's sigs: bench/driver clearCache between queries)
    m = (
        gp.alias("l")
        .join(gp.alias("r"), "g")
        .where(F.col("l.doc_id") < F.col("r.doc_id"))
        .select(
            F.col("l.doc_id").alias("a"),
            F.col("r.doc_id").alias("b"),
            F.col("l.i").alias("i"),
            (F.col("l.i") - F.col("r.i")).alias("diag"),
            "g",
        )
        .persist()
    )
    w = Window.partitionBy("a", "b", "diag").orderBy("i")
    runs = m.withColumn("grp", F.col("i") - F.row_number().over(w))
    run_len = runs.groupBy("a", "b", "diag", "grp").agg(
        F.count("*").alias("rl")
    )
    longest = run_len.groupBy("a", "b").agg(
        (F.max("rl") + F.lit(LONG_REPEAT_GRAM - 1)).alias("max_run")
    )
    shared = m.groupBy("a", "b").agg(F.countDistinct("g").alias("n_shared"))
    return shared.join(longest, ["a", "b"]).select(
        "a", "b", "n_shared", "max_run"
    )


SQL_LONG_REPEAT_PAIRS = f"""
WITH toks AS (
  SELECT doc_id, {_SQL_TOKS} AS t FROM documents
),
grams AS (
  SELECT doc_id, u.i AS i, u.g AS g FROM (
    SELECT doc_id, unnest(
      [{{'i': i, 'g': array_to_string(t[i:i+{LONG_REPEAT_GRAM - 1}], ' ')}}
       for i in range(1, len(t) - {LONG_REPEAT_GRAM - 2})]) AS u
    FROM toks WHERE len(t) >= {LONG_REPEAT_GRAM}
  )
),
m AS (
  SELECT l.doc_id AS a, r.doc_id AS b, l.i AS i, l.i - r.i AS diag, l.g AS g
  FROM grams l JOIN grams r ON l.g = r.g AND l.doc_id < r.doc_id
),
runs AS (
  SELECT a, b, diag,
         i - row_number() OVER (PARTITION BY a, b, diag ORDER BY i) AS grp
  FROM m
),
rl AS (
  SELECT a, b, max(cnt) + {LONG_REPEAT_GRAM - 1} AS max_run FROM (
    SELECT a, b, diag, grp, count(*) AS cnt FROM runs GROUP BY a, b, diag, grp
  ) GROUP BY a, b
),
shared AS (SELECT a, b, count(DISTINCT g) AS n_shared FROM m GROUP BY a, b)
SELECT s.a, s.b, s.n_shared, rl.max_run
FROM shared s JOIN rl ON s.a = rl.a AND s.b = rl.b
"""


WINNOW_WINDOW = 4


def q_longrepeat_winnowed_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowed long-repeat pairs (Schleimer/Wilkerson/Aiken fingerprints),
    fully native AND SQL-mirrorable: positional 12-gram hashes (_h60 over
    the gram strings), sliding-window-of-4 minimum, distinct fingerprints,
    equi-join. Guarantee: any shared verbatim block of
    >= gram_len + window - 1 tokens yields >= 1 shared fingerprint.

    The engine-scale variant (xxhash64 + numpy sliding-min Arrow kernel)
    lives in operators/suffix.py; this named query uses the shared md5
    hash contract so the driver value-verifies the winnowing semantics.
    """
    docs = load(spark, sf_dir, "documents")
    toks = T.tokens(F.col("text"))
    # r10: positional h60 gram hashing + window-min winnowing + distinct
    # all fused into one Arrow kernel (_h60_gram_udf: same md5 contract,
    # same sliding-min selection — value-identical fingerprints). The
    # native form spent its wall in interpreted per-gram md5/conv and
    # per-window array_min slices; the kernel computes both in numpy.
    # (Historical note kept: the gram-hash array must not be inlined into
    # the winnow expression — no CSE across lambda scopes, measured 193s.)
    from neural_locality_sensitive_hashing_spark.partitioning import fan_out

    fpe = fan_out(docs.where(F.size(toks) >= LONG_REPEAT_GRAM)).select(
        "doc_id",
        F.explode(
            _h60_gram_udf(LONG_REPEAT_GRAM, winnow=WINNOW_WINDOW)(F.col("text"))
        ).alias("fp"),
    )
    l = fpe.alias("l")
    r = fpe.alias("r")
    return (
        l.join(r, "fp")
        .where(F.col("l.doc_id") < F.col("r.doc_id"))
        .groupBy(F.col("l.doc_id").alias("a"), F.col("r.doc_id").alias("b"))
        .agg(F.count("*").alias("n_shared_fp"))
    )


_GL = LONG_REPEAT_GRAM
SQL_LONGREPEAT_WINNOWED_PAIRS = f"""
WITH toks AS (
  SELECT doc_id, {_SQL_TOKS} AS t FROM documents
),
g AS (
  SELECT doc_id,
         [{_sql_h60(f"array_to_string(t[i:i+{_GL - 1}], ' ')")}
          for i in range(1, len(t) - {_GL - 2})] AS gh
  FROM toks WHERE len(t) >= {_GL}
),
fp AS (
  SELECT doc_id,
         CASE WHEN len(gh) >= {WINNOW_WINDOW}
              THEN [list_min(gh[i:i+{WINNOW_WINDOW - 1}])
                    for i in range(1, len(gh) - {WINNOW_WINDOW - 2})]
              ELSE gh END AS fps
  FROM g
),
fpe AS (
  SELECT DISTINCT doc_id, fp
  FROM (SELECT doc_id, unnest(fps) AS fp FROM fp)
)
SELECT l.doc_id AS a, r.doc_id AS b, count(*) AS n_shared_fp
FROM fpe l JOIN fpe r ON l.fp = r.fp AND l.doc_id < r.doc_id
GROUP BY a, b
"""


LEARNED_BITS = 10
LEARNED_PROBES = 8
LEARNED_TRAIN_ROWS = 2048


def _train_slice(sf_dir: str) -> np.ndarray:
    """THE deterministic trainer input shared by every learned-family
    query AND its oracle generator: the first LEARNED_TRAIN_ROWS
    embeddings by vec_id, read via pyarrow (no Spark needed — the trainer
    is driver-side by design, SURVEY §3 E1). Single definition: the slice
    contract (sort, head, dtype) must never diverge between query
    families, or a family silently trains on a different slice and its
    oracle replay stops matching."""
    import pyarrow.parquet as pq

    t = pq.read_table(f"{sf_dir}/embeddings.parquet", columns=["vec_id", "embedding"])
    df = t.to_pandas().sort_values("vec_id").head(LEARNED_TRAIN_ROWS)
    return np.stack([np.asarray(v, dtype=np.float64) for v in df["embedding"]])


@functools.lru_cache(maxsize=4)
def _learned_weights_for(sf_dir: str):
    """Fitted single-code weights over the shared _train_slice — the
    fixed slice makes the weights replayable as SQL literals."""
    from neural_locality_sensitive_hashing_spark.learned.partitioner import (
        train_partitioner,
    )

    return train_partitioner(_train_slice(sf_dir), n_bits=LEARNED_BITS, seed=42)


def q_learned_ann_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Learned-partitioner ANN (driver-side numpy trainer + broadcast Arrow
    kernel; corpus hashed once, queries multi-probe). The oracle replays
    the fitted weights, sigmoid head, MSB bit-pack and least-confident-bit
    probe expansion as SQL literals — the approximate semantics themselves
    are value-checked."""
    from neural_locality_sensitive_hashing_spark.operators.learned import learned_ann

    emb = load(spark, sf_dir, "embeddings")
    weights = _learned_weights_for(sf_dir)
    queries = emb.where(F.col("vec_id") < 32)
    return learned_ann(queries, emb, weights, k=ANN_K, n_probes=LEARNED_PROBES)


MB_BANDS = 4


@functools.lru_cache(maxsize=4)
def _multiband_weights_for(sf_dir: str):
    """Same deterministic _train_slice, B independent fits (seeds
    42..42+B-1) — replayable as SQL literals per band."""
    from neural_locality_sensitive_hashing_spark.learned.partitioner import (
        train_multiband_partitioner,
    )

    return train_multiband_partitioner(
        _train_slice(sf_dir), n_bands=MB_BANDS, n_bits=LEARNED_BITS, seed=42
    )


def q_learned_multiband_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-band learned ANN: B independently-trained codes unioned (the
    learned analogue of LSH banding's OR-amplification — measured to
    dominate the single hyperplane banding's recall-per-candidate frontier
    on the diffuse corpus, BENCH/LEARNED_GRID.md). Plan shape identical to
    learned_ann: one band-offset explode, one bucket equi-join, ids-only
    dedup, post-dedup vector gather. The oracle replays all B weight
    matrices and joins on (band, code)."""
    from neural_locality_sensitive_hashing_spark.operators.learned import (
        learned_ann_multiband,
    )

    emb = load(spark, sf_dir, "embeddings")
    wl = _multiband_weights_for(sf_dir)
    queries = emb.where(F.col("vec_id") < 32)
    return learned_ann_multiband(queries, emb, wl, k=ANN_K, n_probes=LEARNED_PROBES)


BAG_BANDS = 8
BAG_BITS = 8
BAG_FRAC = 0.7


@functools.lru_cache(maxsize=4)
def _bagged_weights_for(sf_dir: str):
    """The round-5 LEARNED_GRID winner's construction (8 bands x 8 bits,
    per-band feature bagging 0.7) on the shared _train_slice — the
    config that beats raw hyperplanes at the >=15%-candidate-mass
    frontier, here as an oracle-checked query."""
    from neural_locality_sensitive_hashing_spark.learned.partitioner import (
        train_multiband_partitioner,
    )

    return train_multiband_partitioner(
        _train_slice(sf_dir), n_bands=BAG_BANDS, n_bits=BAG_BITS, seed=42,
        feature_bag_frac=BAG_FRAC,
    )


def q_learned_bagged_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Feature-bagged multiband learned ANN (8 x 8b, bag 0.7): each band
    trains on its own random column subset so bands make decorrelated
    mistakes — the construction that closed the high-mass frontier
    against raw hyperplanes (BENCH/LEARNED_GRID.md round-5, replicated in
    BENCH/PROBE_SWEEP.md). Serving plan is IDENTICAL to
    learned_multiband_ann (bagged weights re-expand to full-dim rows):
    one band-offset explode, one bucket equi-join, ids-only dedup,
    post-dedup gather. Oracle replays all 8 bagged weight matrices."""
    from neural_locality_sensitive_hashing_spark.operators.learned import (
        learned_ann_multiband,
    )

    emb = load(spark, sf_dir, "embeddings")
    wl = _bagged_weights_for(sf_dir)
    queries = emb.where(F.col("vec_id") < 32)
    return learned_ann_multiband(queries, emb, wl, k=ANN_K, n_probes=LEARNED_PROBES)


def _sql_learned_bagged_ann(sf_dir: str = "/root/testdata/sf0.01") -> str:
    return _sql_multiband_replay(_bagged_weights_for(sf_dir), BAG_BITS)


def _sql_learned_multiband_ann(sf_dir: str = "/root/testdata/sf0.01") -> str:
    """Oracle for q_learned_multiband_ann: the single-band replay
    (_sql_learned_ann) with a band column threaded through every CTE;
    candidates join on (band, code) — equivalent to the engine's
    band-offset buckets."""
    return _sql_multiband_replay(_multiband_weights_for(sf_dir), LEARNED_BITS)


def _sql_multiband_replay(wl, h: int) -> str:
    """Shared SQL replay for ANY multiband weight list (plain or
    feature-bagged — bagged weights are full-dim matrices with zero rows
    on the unseen columns, so the same replay applies verbatim)."""
    rows = []
    for band, w in enumerate(wl):
        W, b = w["W"], w["b"]
        for k in range(h):
            arr = "[" + ", ".join(repr(float(v)) for v in W[:, k]) + "]"
            rows.append(f"({band}, {k}, {arr}::DOUBLE[], {float(b[k])!r})")
    wvals = ",\n".join(rows)
    return f"""
WITH wcols(band, k, wv, bk) AS (VALUES
{wvals}
),
e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
p AS (
  SELECT vec_id, band, k,
         1.0 / (1.0 + exp(-greatest(least(list_dot_product(v, wv) + bk, 30.0), -30.0)))
           AS pk
  FROM e CROSS JOIN wcols
),
base AS (
  SELECT vec_id, band,
         sum(CASE WHEN pk > 0.5 THEN CAST(1 << ({h - 1} - k) AS BIGINT) ELSE 0 END)
           AS code
  FROM p GROUP BY vec_id, band
),
conf AS (
  SELECT vec_id, band, k,
         row_number() OVER (PARTITION BY vec_id, band
                            ORDER BY abs(pk - 0.5) ASC, k ASC) AS rnk
  FROM p
),
flips AS (
  SELECT vec_id, band,
         max(CASE WHEN rnk = 1 THEN CAST(1 << ({h - 1} - k) AS BIGINT) END) AS f0,
         max(CASE WHEN rnk = 2 THEN CAST(1 << ({h - 1} - k) AS BIGINT) END) AS f1,
         max(CASE WHEN rnk = 3 THEN CAST(1 << ({h - 1} - k) AS BIGINT) END) AS f2
  FROM conf GROUP BY vec_id, band
),
qcodes AS (
  SELECT vec_id, band, xor(code, s) AS code FROM (
    SELECT b.vec_id, b.band, b.code,
           unnest([0, f.f0, f.f1, xor(f.f0, f.f1), f.f2,
                   xor(f.f0, f.f2), xor(f.f1, f.f2),
                   xor(xor(f.f0, f.f1), f.f2)]) AS s
    FROM base b JOIN flips f ON b.vec_id = f.vec_id AND b.band = f.band
    WHERE b.vec_id < 32
  )
),
cand AS (
  SELECT DISTINCT q.vec_id AS query_id, c.vec_id AS neighbor_id
  FROM qcodes q JOIN base c
    ON q.band = c.band AND q.code = c.code AND q.vec_id <> c.vec_id
),
sim AS (
  SELECT query_id, neighbor_id, {_SQL_COS} AS cosine
  FROM cand JOIN e a ON cand.query_id = a.vec_id
            JOIN e b ON cand.neighbor_id = b.vec_id
),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY query_id
                               ORDER BY cosine DESC, neighbor_id ASC) AS rank
  FROM sim
)
SELECT query_id, neighbor_id, cosine, rank FROM ranked WHERE rank <= {ANN_K}
"""


def _sql_learned_ann(sf_dir: str = "/root/testdata/sf0.01") -> str:
    """Oracle for q_learned_ann_cosine: full SQL replay of the learned
    multi-probe query path with the fitted (W, b) embedded as literals.
    Generated against the driver's correctness sf_dir (sf0.01)."""
    w = _learned_weights_for(sf_dir)
    W, b = w["W"], w["b"]  # (dim, n_bits), (n_bits,)
    h = LEARNED_BITS
    rows = []
    for k in range(h):
        arr = "[" + ", ".join(repr(float(v)) for v in W[:, k]) + "]"
        rows.append(f"({k}, {arr}::DOUBLE[], {float(b[k])!r})")
    wvals = ",\n".join(rows)
    # probe set = base code XOR every subset of the 3 least-confident bit
    # weights (n_probes=8 -> masks 0..7), mirroring hash_codes_numpy
    return f"""
WITH wcols(k, wv, bk) AS (VALUES
{wvals}
),
e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
p AS (
  SELECT vec_id, k,
         1.0 / (1.0 + exp(-greatest(least(list_dot_product(v, wv) + bk, 30.0), -30.0)))
           AS pk
  FROM e CROSS JOIN wcols
),
base AS (
  SELECT vec_id,
         sum(CASE WHEN pk > 0.5 THEN CAST(1 << ({h - 1} - k) AS BIGINT) ELSE 0 END)
           AS code
  FROM p GROUP BY vec_id
),
conf AS (
  SELECT vec_id, k,
         row_number() OVER (PARTITION BY vec_id ORDER BY abs(pk - 0.5) ASC, k ASC)
           AS rnk
  FROM p
),
flips AS (
  SELECT vec_id,
         max(CASE WHEN rnk = 1 THEN CAST(1 << ({h - 1} - k) AS BIGINT) END) AS f0,
         max(CASE WHEN rnk = 2 THEN CAST(1 << ({h - 1} - k) AS BIGINT) END) AS f1,
         max(CASE WHEN rnk = 3 THEN CAST(1 << ({h - 1} - k) AS BIGINT) END) AS f2
  FROM conf GROUP BY vec_id
),
qcodes AS (
  SELECT vec_id, xor(code, s) AS bucket FROM (
    SELECT b.vec_id, b.code,
           unnest([0, f.f0, f.f1, xor(f.f0, f.f1), f.f2,
                   xor(f.f0, f.f2), xor(f.f1, f.f2),
                   xor(xor(f.f0, f.f1), f.f2)]) AS s
    FROM base b JOIN flips f ON b.vec_id = f.vec_id
    WHERE b.vec_id < 32
  )
),
cand AS (
  SELECT DISTINCT q.vec_id AS query_id, c.vec_id AS neighbor_id
  FROM qcodes q JOIN base c ON q.bucket = c.code AND q.vec_id <> c.vec_id
),
sim AS (
  SELECT query_id, neighbor_id, {_SQL_COS} AS cosine
  FROM cand JOIN e a ON cand.query_id = a.vec_id
            JOIN e b ON cand.neighbor_id = b.vec_id
),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY query_id
                               ORDER BY cosine DESC, neighbor_id ASC) AS rank
  FROM sim
)
SELECT query_id, neighbor_id, cosine, rank FROM ranked WHERE rank <= {ANN_K}
"""


# --- documents: text analysis ------------------------------------------------


# simple word/digit/punct pre-tokenizer used by the per-doc profile's
# bpe_tokens budget column (text.py's BPE_TOKEN_RE is the GPT-2-faithful
# variant, value-checked by the separate bpe_token_stats row)
BPE_REGEX = r"[A-Za-z]+|[0-9]|[^A-Za-z0-9\s]"


def q_doc_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document profile row: token counts (whitespace + BPE-ish
    budget proxy), quality score, language guess, and content
    fingerprint. CONSOLIDATES round-7's token_stats into this row (the
    driver caps correctness rows at 50/round and round 8 adds the WARC
    and incremental-clusters lanes): n_tokens IS token_stats.ws_tokens
    (same kernel) and bpe_tokens is its second column verbatim, so both
    kernels stay value-checked under one row; q_token_stats itself
    remains exported for the bench series."""
    docs = load(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        T.token_count(F.col("text")).alias("n_tokens"),
        F.size(
            F.regexp_extract_all(F.col("text"), F.lit(BPE_REGEX), F.lit(0))
        ).alias("bpe_tokens"),
        T.quality_score(F.col("text")).alias("quality"),
        T.lang_id(F.col("text")).alias("lang_guess"),
        F.md5("text").alias("fp_md5"),
    )


def _sql_lang_scores() -> str:
    from neural_locality_sensitive_hashing_spark.functions.text import _LANG_MARKERS

    parts = []
    for lang, words in _LANG_MARKERS.items():
        arr = "[" + ", ".join(f"'{w}'" for w in words) + "]"
        parts.append(
            f"len(list_intersect(list_distinct(list_transform(t, x -> lower(x))), {arr})) AS s_{lang}"
        )
    return ", ".join(parts)


SQL_DOC_PROFILE = f"""
WITH toks AS (
  SELECT doc_id, text, {_SQL_TOKS} AS t FROM documents
),
scored AS (
  SELECT doc_id, text, len(t) AS n_tokens, {_sql_lang_scores()}
  FROM toks
),
best AS (
  SELECT *, greatest(s_en, s_de, s_fr, s_es) AS s_best FROM scored
)
SELECT doc_id, n_tokens,
  len(regexp_extract_all(text, '{BPE_REGEX}')) AS bpe_tokens,
  round((
    (CASE WHEN n_tokens > 0 AND (length(text)*1.0/n_tokens) BETWEEN 3.0 AND 10.0 THEN 1 ELSE 0 END)
    + (CASE WHEN length(text) > 0
            THEN length(regexp_replace(text, '[^a-zA-Z]', '', 'g'))*1.0/length(text)
            ELSE 0 END)
    + (CASE WHEN n_tokens BETWEEN 10 AND 100000 THEN 1 ELSE 0 END)
  ) / 3.0, 6) AS quality,
  CASE WHEN s_best > 0 AND s_en = s_best THEN 'en'
       WHEN s_best > 0 AND s_de = s_best THEN 'de'
       WHEN s_best > 0 AND s_fr = s_best THEN 'fr'
       WHEN s_best > 0 AND s_es = s_best THEN 'es'
       ELSE 'und' END AS lang_guess,
  md5(text) AS fp_md5
FROM best
"""


# q_lang_summary retired in round 8: its aggregates are value-checked
# inside lang_token_quartiles' row (n_docs/avg_tokens/max_tokens) and
# nothing else referenced it — deleted rather than kept as dead code.


def q_top_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    return (
        docs.select(F.explode(T.tokens(F.col("text"))).alias("token"))
        .groupBy("token")
        .agg(F.count("*").alias("cnt"))
        .orderBy(F.desc("cnt"), F.asc("token"))
        .limit(100)
    )


SQL_TOP_TOKENS = f"""
WITH toks AS (SELECT unnest({_SQL_TOKS}) AS token FROM documents)
SELECT token, count(*) AS cnt FROM toks GROUP BY token
ORDER BY cnt DESC, token ASC LIMIT 100
"""


# --- embeddings: similarity search -------------------------------------------


def q_knn_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") < 32)
    return S.knn_bruteforce(queries, emb, k=10)


SQL_KNN_BRUTEFORCE = """
WITH q AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings WHERE vec_id < 32),
c AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
sim AS (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         round(list_dot_product(q.v, c.v)
               / (sqrt(list_dot_product(q.v, q.v)) * sqrt(list_dot_product(c.v, c.v))), 6)
           AS cosine
  FROM q, c WHERE q.vec_id <> c.vec_id
),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id ASC)
           AS rank
  FROM sim
)
SELECT query_id, neighbor_id, cosine, rank FROM ranked WHERE rank <= 10
"""


# ANN config shared by the Spark query and its DuckDB oracle: the oracle
# embeds the SAME Gaussian hyperplanes as SQL literals and replicates the
# sign/bit-pack/band-join/re-rank pipeline — so the oracle checks the
# *approximate* semantics themselves, not an exact stand-in.
ANN_DIM = 64  # embeddings table dimension (driver testdata contract)
ANN_BANDS = 8
ANN_BITS = 8
ANN_SEED = 42
ANN_K = 10


def q_ann_lsh_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hyperplane-LSH approximate neighbors (J1 bucket join + exact
    re-rank). Value-checked against a DuckDB oracle that replays the same
    hyperplanes; the multi-probe recall knob is exercised in
    tests/test_similarity.py and BENCH/PROBE_SWEEP.md."""
    emb = load(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") < 32)
    return S.ann_lsh(
        queries, emb, dim=ANN_DIM, k=ANN_K,
        num_bands=ANN_BANDS, bits_per_band=ANN_BITS, seed=ANN_SEED,
    )


def _sql_plane_literals(planes: np.ndarray) -> str:
    rows = []
    for i, row in enumerate(planes):
        arr = "[" + ", ".join(repr(float(v)) for v in row) + "]"
        rows.append(f"({i}, {arr}::DOUBLE[])")
    return ",\n".join(rows)


def _sql_hyperplane_buckets() -> str:
    """CTE block computing (vec_id, bucket) exactly like make_hyperplane_udf:
    bit = dot > 0, MSB-first pack per band, band index mixed in at <<32."""
    planes = S.hyperplane_params(ANN_DIM, ANN_BANDS, ANN_BITS, ANN_SEED)
    return f"""
planes(pid, plane) AS (VALUES
{_sql_plane_literals(planes)}
),
e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
proj AS (
  SELECT vec_id, pid,
         CASE WHEN list_dot_product(v, plane) > 0 THEN 1 ELSE 0 END AS bit
  FROM e CROSS JOIN planes
),
bk AS (
  SELECT vec_id,
         sum(bit * CAST(1 << ({ANN_BITS - 1} - (pid % {ANN_BITS})) AS BIGINT))
           + CAST(pid // {ANN_BITS} AS BIGINT) * 4294967296 AS bucket
  FROM proj GROUP BY vec_id, pid // {ANN_BITS}
)"""


_SQL_COS = (
    "round(list_dot_product(a.v, b.v) / (sqrt(list_dot_product(a.v, a.v)) "
    "* sqrt(list_dot_product(b.v, b.v))), 6)"
)

SQL_ANN_LSH_COSINE = f"""
WITH {_sql_hyperplane_buckets()},
cand AS (
  SELECT DISTINCT q.vec_id AS query_id, c.vec_id AS neighbor_id
  FROM bk q JOIN bk c ON q.bucket = c.bucket AND q.vec_id <> c.vec_id
  WHERE q.vec_id < 32
),
sim AS (
  SELECT query_id, neighbor_id, {_SQL_COS} AS cosine
  FROM cand JOIN e a ON cand.query_id = a.vec_id
            JOIN e b ON cand.neighbor_id = b.vec_id
),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY query_id
                               ORDER BY cosine DESC, neighbor_id ASC) AS rank
  FROM sim
)
SELECT query_id, neighbor_id, cosine, rank FROM ranked WHERE rank <= {ANN_K}
"""


def q_ann_recall_at_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@k of the LSH path vs exact brute force, per query — the
    reference's core quality metric (``nlsh/metrics.py:4-25``,
    ``nlsh/trainers/base.py:94-108``) as an engine query. Both sides are
    computed in Spark; the oracle recomputes both in SQL."""
    from neural_locality_sensitive_hashing_spark.operators.metrics import recall_at_k

    emb = load(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") < 32)
    ann = S.ann_lsh(
        queries, emb, dim=ANN_DIM, k=ANN_K,
        num_bands=ANN_BANDS, bits_per_band=ANN_BITS, seed=ANN_SEED,
    )
    exact = S.knn_bruteforce(queries, emb, k=ANN_K)
    return recall_at_k(ann, exact, k=ANN_K)


SQL_ANN_RECALL_AT_K = f"""
WITH {_sql_hyperplane_buckets()},
cand AS (
  SELECT DISTINCT q.vec_id AS query_id, c.vec_id AS neighbor_id
  FROM bk q JOIN bk c ON q.bucket = c.bucket AND q.vec_id <> c.vec_id
  WHERE q.vec_id < 32
),
sim AS (
  SELECT query_id, neighbor_id, {_SQL_COS} AS cosine
  FROM cand JOIN e a ON cand.query_id = a.vec_id
            JOIN e b ON cand.neighbor_id = b.vec_id
),
ann AS (
  SELECT query_id, neighbor_id FROM (
    SELECT *, row_number() OVER (PARTITION BY query_id
                                 ORDER BY cosine DESC, neighbor_id ASC) AS rank
    FROM sim
  ) WHERE rank <= {ANN_K}
),
xsim AS (
  SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id, {_SQL_COS} AS cosine
  FROM e a JOIN e b ON a.vec_id <> b.vec_id WHERE a.vec_id < 32
),
exact AS (
  SELECT query_id, neighbor_id FROM (
    SELECT *, row_number() OVER (PARTITION BY query_id
                                 ORDER BY cosine DESC, neighbor_id ASC) AS rank
    FROM xsim
  ) WHERE rank <= {ANN_K}
)
SELECT e1.query_id,
       round(count(a1.neighbor_id) * 1.0 / {ANN_K}, 6) AS recall
FROM exact e1 LEFT JOIN ann a1
  ON e1.query_id = a1.query_id AND e1.neighbor_id = a1.neighbor_id
GROUP BY e1.query_id
"""


IVF_CENTROIDS = 64
IVF_PROBES = 4
IVF_ITERS = 20


@functools.lru_cache(maxsize=4)
def _ivf_codebook_for(sf_dir: str):
    """Deterministic spherical-k-means codebook over the shared
    _train_slice (replayable as SQL literals)."""
    from neural_locality_sensitive_hashing_spark.learned.vq import train_vq_codebook

    return train_vq_codebook(
        _train_slice(sf_dir), n_centroids=IVF_CENTROIDS, iters=IVF_ITERS, seed=42
    )


def q_ivf_ann_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN: nearest-centroid buckets + multi-probe + exact re-rank —
    the scale path for embedding similarity when hyperplane codes are too
    coarse. Oracle replays the trained centroids as SQL literals."""
    from neural_locality_sensitive_hashing_spark.operators.learned import ivf_ann

    emb = load(spark, sf_dir, "embeddings")
    cb = _ivf_codebook_for(sf_dir)
    queries = emb.where(F.col("vec_id") < 32)
    return ivf_ann(queries, emb, cb, k=ANN_K, n_probes=IVF_PROBES)


def _sql_ivf_ann(sf_dir: str = "/root/testdata/sf0.01") -> str:
    cb = _ivf_codebook_for(sf_dir)
    rows = []
    for i in range(cb.shape[0]):
        arr = "[" + ", ".join(repr(float(v)) for v in cb[i]) + "]"
        rows.append(f"({i}, {arr}::DOUBLE[])")
    vals = ",\n".join(rows)
    return f"""
WITH cents(cid, cv) AS (VALUES
{vals}
),
e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
en AS (
  SELECT vec_id, v,
         list_transform(v, x -> x / greatest(sqrt(list_dot_product(v, v)), 1e-12)) AS vn
  FROM e
),
scored AS (
  SELECT vec_id, cid,
         row_number() OVER (PARTITION BY vec_id
                            ORDER BY list_dot_product(vn, cv) DESC, cid ASC) AS rnk
  FROM en CROSS JOIN cents
),
cbk AS (SELECT vec_id, cid AS bucket FROM scored WHERE rnk = 1),
qbk AS (SELECT vec_id, cid AS bucket FROM scored WHERE rnk <= {IVF_PROBES} AND vec_id < 32),
cand AS (
  SELECT DISTINCT q.vec_id AS query_id, c.vec_id AS neighbor_id
  FROM qbk q JOIN cbk c ON q.bucket = c.bucket AND q.vec_id <> c.vec_id
),
sim AS (
  SELECT query_id, neighbor_id, {_SQL_COS} AS cosine
  FROM cand JOIN e a ON cand.query_id = a.vec_id
            JOIN e b ON cand.neighbor_id = b.vec_id
),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY query_id
                               ORDER BY cosine DESC, neighbor_id ASC) AS rank
  FROM sim
)
SELECT query_id, neighbor_id, cosine, rank FROM ranked WHERE rank <= {ANN_K}
"""


def q_knn_bruteforce_l2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact Euclidean top-k (K9 — the reference's SIFT-euclidean metric,
    ``nlsh/data.py:176-201``)."""
    emb = load(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") < 32)
    return S.knn_bruteforce_l2(queries, emb, k=10)


SQL_KNN_BRUTEFORCE_L2 = """
WITH q AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings WHERE vec_id < 32),
c AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
sim AS (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         round(list_distance(q.v, c.v), 6) AS dist
  FROM q, c WHERE q.vec_id <> c.vec_id
),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY dist ASC, neighbor_id ASC)
           AS rank
  FROM sim
)
SELECT query_id, neighbor_id, dist, rank FROM ranked WHERE rank <= 10
"""


# E2LSH config shared by Spark query + oracle (projection literals in SQL)
E2_BANDS = 16
E2_ROWS = 2
E2_WIDTH = 4.0
E2_SEED = 42


def q_ann_lsh_l2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E2LSH (p-stable projections) approximate Euclidean neighbors; oracle
    replays the same projections + quantization in SQL."""
    emb = load(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") < 32)
    return S.ann_lsh_l2(
        queries, emb, dim=ANN_DIM, k=ANN_K,
        num_bands=E2_BANDS, rows_per_band=E2_ROWS, bucket_width=E2_WIDTH,
        seed=E2_SEED,
    )


def _sql_e2lsh_buckets() -> str:
    v, b = S.e2lsh_params(ANN_DIM, E2_BANDS, E2_ROWS, E2_WIDTH, E2_SEED)
    rows = []
    for i in range(v.shape[0]):
        arr = "[" + ", ".join(repr(float(x)) for x in v[i]) + "]"
        rows.append(f"({i}, {arr}::DOUBLE[], {b[i]!r})")
    vals = ",\n".join(rows)
    return f"""
projs(pid, pv, pb) AS (VALUES
{vals}
),
e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
quant AS (
  SELECT vec_id, pid,
         ((CAST(floor((list_dot_product(v, pv) + pb) / {E2_WIDTH!r}) AS BIGINT)
           % 65536) + 65536) % 65536 AS c
  FROM e CROSS JOIN projs
),
bk AS (
  SELECT vec_id,
         CAST(pid // {E2_ROWS} AS BIGINT) * 4294967296
           + max(CASE WHEN pid % {E2_ROWS} = 0 THEN c END) * 65536
           + max(CASE WHEN pid % {E2_ROWS} = 1 THEN c END) AS bucket
  FROM quant GROUP BY vec_id, pid // {E2_ROWS}
)"""


SQL_ANN_LSH_L2 = f"""
WITH {_sql_e2lsh_buckets()},
cand AS (
  SELECT DISTINCT q.vec_id AS query_id, c.vec_id AS neighbor_id
  FROM bk q JOIN bk c ON q.bucket = c.bucket AND q.vec_id <> c.vec_id
  WHERE q.vec_id < 32
),
sim AS (
  SELECT query_id, neighbor_id, round(list_distance(a.v, b.v), 6) AS dist
  FROM cand JOIN e a ON cand.query_id = a.vec_id
            JOIN e b ON cand.neighbor_id = b.vec_id
),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY query_id
                               ORDER BY dist ASC, neighbor_id ASC) AS rank
  FROM sim
)
SELECT query_id, neighbor_id, dist, rank FROM ranked WHERE rank <= {ANN_K}
"""


def q_embedding_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-vector moments PLUS the P1+P2 preprocessing value-check that
    round 9 folded in from the retired ``embedding_normalized`` row (the
    50-row cap admits the WET lane row in its place; same consolidation
    move as token_stats -> doc_profile in round 8): ``l2_val_sum`` is the
    per-vector sum of the rounded unit-sphere projections (reference
    nlsh/data.py:9-10,35-37) and ``z_val_sum`` the per-vector sum of the
    rounded per-dimension corpus z-scores with sample stddev
    (nlsh/data.py:29-33), so both kernels stay value-checked per vec_id
    under one row. The sums are over ALREADY-ROUNDED values cast to
    decimal, making them summation-order-proof under the bit-exact
    oracle hash (the only residual is the same last-ulp-at-a-round-6-
    half-boundary odds the retired row tolerated for eight green
    rounds).

    Scale shape unchanged from the retired row: z-score moments come
    from a groupBy(dim_idx) aggregate (n_dims rows, map-side partials)
    broadcast-joined back — NOT a Window over dim_idx, which would sort
    n_vectors rows per dimension on <= n_dims reducers."""
    emb = load(spark, sf_dir, "embeddings")
    v = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    base = emb.select(
        "vec_id",
        F.size("embedding").alias("dim"),
        S.l2_norm(v).alias("n"),
        F.round(F.aggregate(v, F.lit(0.0), lambda a, x: a + x) / F.size("embedding"), 6).alias(
            "mean_val"
        ),
        v.alias("v"),
    )
    vals = base.select("vec_id", "n", F.posexplode("v").alias("dim_idx", "raw"))
    moments = vals.groupBy("dim_idx").agg(
        F.mean("raw").alias("mu"), F.stddev_samp("raw").alias("sd")
    )
    norm_sums = (
        vals.join(F.broadcast(moments), "dim_idx")
        .groupBy("vec_id")
        .agg(
            F.sum(F.round(F.col("raw") / F.col("n"), 6).cast("decimal(18,6)"))
            .cast("double")
            .alias("l2_val_sum"),
            F.sum(
                F.round((F.col("raw") - F.col("mu")) / F.col("sd"), 6).cast("decimal(18,6)")
            )
            .cast("double")
            .alias("z_val_sum"),
        )
    )
    return base.join(norm_sums, "vec_id").select(
        "vec_id",
        "dim",
        F.round("n", 6).alias("l2_norm"),
        "mean_val",
        "l2_val_sum",
        "z_val_sum",
    )


SQL_EMBEDDING_STATS = """
WITH e AS (
  SELECT vec_id, embedding::DOUBLE[] AS vv, len(embedding) AS dim,
         sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS n,
         round(list_sum(embedding::DOUBLE[]) / len(embedding), 6) AS mean_val
  FROM embeddings
), vals AS (
  SELECT vec_id, n, t.i - 1 AS dim_idx, vv[t.i] AS raw
  FROM e CROSS JOIN (SELECT generate_series AS i FROM generate_series(1, 64)) t
  WHERE t.i <= len(vv)
), m AS (
  SELECT dim_idx, avg(raw) AS mu, stddev_samp(raw) AS sd
  FROM vals GROUP BY dim_idx
), s AS (
  SELECT vec_id,
         CAST(sum(CAST(round(raw / n, 6) AS DECIMAL(18,6))) AS DOUBLE) AS l2_val_sum,
         CAST(sum(CAST(round((raw - mu) / sd, 6) AS DECIMAL(18,6))) AS DOUBLE) AS z_val_sum
  FROM vals JOIN m USING (dim_idx) GROUP BY vec_id
)
SELECT e.vec_id, e.dim, round(e.n, 6) AS l2_norm, e.mean_val,
       s.l2_val_sum, s.z_val_sum
FROM e JOIN s ON e.vec_id = s.vec_id
"""


def q_label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    # cross-row double avg -> decimal-sum / count: summation-order-proof
    # under the bit-exact oracle hash (same rationale as user_sessions)
    emb = load(spark, sf_dir, "embeddings")
    return (
        emb.select("label", F.posexplode("embedding").alias("dim_idx", "val"))
        .groupBy("label", "dim_idx")
        .agg(
            F.round(
                F.sum(F.col("val").cast("decimal(20,10)")).cast("double")
                / F.count("*"),
                6,
            ).alias("centroid")
        )
    )


SQL_LABEL_CENTROIDS = """
SELECT label, t.i - 1 AS dim_idx,
       round(CAST(sum(CAST(embedding[t.i] AS DECIMAL(20,10))) AS DOUBLE) / count(*), 6)
         AS centroid
FROM embeddings CROSS JOIN (SELECT generate_series AS i FROM generate_series(1, 64)) t
WHERE t.i <= len(embedding)
GROUP BY label, dim_idx
"""


EMB_DUP_TAU = 0.4  # synthetic embeddings are diffuse (max pairwise ~0.51)


def q_embedding_dup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-duplicate pairs: hyperplane-LSH self-join +
    exact-cosine verify — the default 100 TB plan (no driver collect, no
    crossJoin). Banding is derived from tau by the S-curve
    (`derive_banding`: tau=0.4 → 32 bands × 2 bits, per-pair miss < 1e-7),
    so the output equals the exact-threshold oracle.
    `operators.similarity.embedding_dup_pairs_broadcast` remains as an
    explicitly size-gated matmul fast path for small dimension tables."""
    emb = load(spark, sf_dir, "embeddings")
    return S.embedding_dup_pairs_lsh(emb, EMB_DUP_TAU, dim=ANN_DIM, seed=ANN_SEED)


EMB_DUP_TAU_HI = 0.8  # realistic near-dup threshold: selective 32x4 banding


def q_embedding_dup_pairs_hi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same query at a realistic near-dup threshold (tau=0.8): the derived
    banding tightens to 93 bands × 8 bits (max_bands=96 budget). Measured
    candidate fan-out at sf0.1 (32k diffuse vectors): 1.71M pairs under
    the tau=0.4 32×2 plan → 0.64M under 93×8 (2.7×), with per-pair miss
    still < 1e-7; plan shape is ONE exchange (self-join broadcast, dedup,
    broadcast gathers). The deliberately-diffuse driver embeddings keep a
    heavy mid-cosine tail, so the collapse is milder than the
    independent-bit model predicts — on real embedding corpora (near-dups
    at 0.9+, bulk near-orthogonal) the same banding cuts collision mass
    ~50×.

    The diffuse driver corpus has NO pairs at tau=0.8, which would make
    this oracle vacuously green (0 vs 0 rows); the planted_embeddings
    DATA-LAYER table (planted.py: the four lowest vec_ids copied under
    offset ids with element 0 shifted by +0.05, cosine ≈ 0.9988 to their
    source — the same derivation previous rounds computed inline in both
    engines) supplies 4 real near-dup pairs. Both engines read the same
    parquet file, so the comparison verifies real cosine values through
    the full LSH + exact verify path. Note (bench): the union reads
    `embeddings` twice before the 94×8 banding, which is why this variant
    benches ~1s over the unplanted query at sf0.1."""
    from neural_locality_sensitive_hashing_spark.planted import ensure_planted

    _, emb_planted = ensure_planted(sf_dir)
    emb = load(spark, sf_dir, "embeddings")
    return S.embedding_dup_pairs_lsh(
        emb.unionByName(spark.read.parquet(emb_planted)),
        EMB_DUP_TAU_HI, dim=ANN_DIM, seed=ANN_SEED,
        max_bands=96,
    )


def q_embedding_dup_pairs_fast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The size-gated broadcast-matmul physical plan for the same query —
    both plans are value-checked against the identical oracle, so a user
    can pick by table size with proven-equal semantics."""
    emb = load(spark, sf_dir, "embeddings")
    return S.embedding_dup_pairs_broadcast(emb, EMB_DUP_TAU)


SQL_EMBEDDING_DUP_PAIRS = f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings)
SELECT l.vec_id AS a, r.vec_id AS b,
       round(list_dot_product(l.v, r.v)
             / (sqrt(list_dot_product(l.v, l.v)) * sqrt(list_dot_product(r.v, r.v))), 6)
         AS cosine
FROM e l JOIN e r ON l.vec_id < r.vec_id
WHERE round(list_dot_product(l.v, r.v)
            / (sqrt(list_dot_product(l.v, l.v)) * sqrt(list_dot_product(r.v, r.v))), 6)
      >= {EMB_DUP_TAU}
"""

def _sql_embedding_dup_pairs_hi(sf_dir: str = "/root/testdata/sf0.01") -> str:
    """Oracle over embeddings ∪ the planted_embeddings parquet table."""
    from neural_locality_sensitive_hashing_spark.planted import ensure_planted

    _, emb_planted = ensure_planted(sf_dir)
    return f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v
      FROM (SELECT vec_id, embedding FROM embeddings
            UNION ALL
            SELECT vec_id, embedding FROM read_parquet('{emb_planted}')))
SELECT l.vec_id AS a, r.vec_id AS b,
       round(list_dot_product(l.v, r.v)
             / (sqrt(list_dot_product(l.v, l.v)) * sqrt(list_dot_product(r.v, r.v))), 6)
         AS cosine
FROM e l JOIN e r ON l.vec_id < r.vec_id
WHERE round(list_dot_product(l.v, r.v)
            / (sqrt(list_dot_product(l.v, l.v)) * sqrt(list_dot_product(r.v, r.v))), 6)
      >= {EMB_DUP_TAU_HI}
"""

def q_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whitespace vs BPE-ish token counts per doc (training-data costing).

    NOT in the driver registry since round 8: both kernels are
    value-checked inside doc_profile's row (n_tokens/bpe_tokens — see
    its docstring); this stays exported ONLY for bench.py's per-query
    series (its oracle SQL was deleted with the registry row)."""
    docs = load(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        T.token_count(F.col("text")).alias("ws_tokens"),
        F.size(
            F.regexp_extract_all(F.col("text"), F.lit(BPE_REGEX), F.lit(0))
        ).alias("bpe_tokens"),
    )


# --- deterministic sampling & sketches (training-data pipeline ops) ----------

HASH60_MAX = 16**15  # 2^60: _h60's range — the shared cross-engine contract
SAMPLE_FRACTION = 0.1
STRATA_QUOTA = 5
KMV_K = 64


def q_bpe_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc token budget under BOTH counting contracts: whitespace
    words and GPT-2-style BPE pre-tokens (functions/text.py::BPE_TOKEN_RE
    — the vocabulary-independent subword-budget proxy every pretraining
    data plan is sized with), plus their ratio. Zero exchanges — two
    native regex kernels over the scan."""
    docs = load(spark, sf_dir, "documents")
    bpe = T.bpe_token_count(F.col("text"))
    ws = T.token_count(F.col("text"))
    return docs.select(
        "doc_id",
        bpe.alias("n_bpe_tokens"),
        ws.alias("n_ws_tokens"),
        F.round(
            bpe.cast("double") / F.nullif(ws.cast("double"), F.lit(0.0)), 6
        ).alias("bpe_per_word"),
    )


def _sql_bpe_token_stats() -> str:
    from neural_locality_sensitive_hashing_spark.functions.text import BPE_TOKEN_RE

    bpe_sql = BPE_TOKEN_RE.replace("'", "''")
    return f"""
WITH t AS (
  SELECT doc_id,
         len(regexp_extract_all(text, '{bpe_sql}')) AS n_bpe_tokens,
         len({_SQL_TOKS}) AS n_ws_tokens
  FROM documents
)
SELECT doc_id, n_bpe_tokens, n_ws_tokens,
       round(n_bpe_tokens * 1.0 / nullif(n_ws_tokens, 0), 6) AS bpe_per_word
FROM t
"""


SQL_BPE_TOKEN_STATS = _sql_bpe_token_stats()


def q_doc_sample_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic content-hash Bernoulli sample (R2/R5, SURVEY §2.9, as
    an ENGINE op rather than trainer-side): keep a doc iff its md5-uniform
    (`_h60`) < p. Reproducible across engines, runs, AND partitionings —
    unlike rand(seed), whose draw depends on row-to-partition assignment —
    and duplicates sample identically (the hash is over content), so a
    sample drawn before dedup stays consistent with one drawn after."""
    docs = load(spark, sf_dir, "documents")
    thr = int(SAMPLE_FRACTION * HASH60_MAX)
    return docs.select("doc_id").where(_h60(F.col("text")) < thr)


SQL_DOC_SAMPLE_HASH = f"""
SELECT doc_id FROM documents
WHERE {_sql_h60("text")} < {int(SAMPLE_FRACTION * HASH60_MAX)}
"""


def q_lang_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified quota sample: the first STRATA_QUOTA docs
    per language in md5 order — quota/mixing sampling (data-mixing
    pipelines balance strata this way) with full reproducibility; md5
    order is an unbiased shuffle of each stratum.

    Scale shape: NOT the naive per-lang window (which would hash the
    whole corpus onto <=n_lang reducers — en alone is ~half a real web
    corpus). operators/sampling.py::quota_rank computes identical ranks
    via md5-prefix buckets: tiny (lang,bucket) count agg broadcast back,
    non-contributing buckets dropped BEFORE the window, exact window
    keyed by (lang,bucket) over ~quota rows per lang."""
    from neural_locality_sensitive_hashing_spark.operators.sampling import quota_rank

    docs = load(spark, sf_dir, "documents")
    return quota_rank(docs, STRATA_QUOTA)


SQL_LANG_STRATIFIED_SAMPLE = f"""
SELECT lang, doc_id, rk FROM (
  SELECT lang, doc_id,
         row_number() OVER (PARTITION BY lang ORDER BY md5(text), doc_id ASC) AS rk
  FROM documents
) WHERE rk <= {STRATA_QUOTA}
"""


def _kmv_partial_minima(max_k: int):
    """mapInPandas kernel: the K smallest DISTINCT hashes per PARTITION.
    The global k-th smallest distinct value is always among some
    partition's K smallest distinct values, so only K rows per partition
    leave the scan — this is what makes the sketch's exchange K-sized
    instead of the full distinct shuffle. The running minima set is
    maintained entirely in numpy (sorted-unique merge + truncate per
    Arrow batch) — no per-row Python."""
    import numpy as np
    import pandas as pd

    def partial(batches):
        best = np.empty(0, dtype=np.int64)
        for pdf in batches:
            best = np.unique(
                np.concatenate([best, pdf["u"].to_numpy(dtype=np.int64)])
            )[: max_k]
        yield pd.DataFrame({"u": best})

    return partial


def q_distinct_texts_kmv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV (k-minimum-values) distinct-count sketch, value-checked: the
    estimate (K-1) * MAX / kth_smallest_hash is a deterministic function
    of the corpus (md5-based), so unlike HLL-sketch registers it hashes
    identically on both engines — an ORACLE-CHECKABLE approximate
    distinct. One row: (k, kth_min_hash, kmv_estimate, exact_distinct).
    The sketch branch ships only K rows per scan partition
    (`_kmv_partial_minima`; the K-minima set is partition-layout-
    invariant, so the result stays deterministic), while exact_distinct
    is the full distinct shuffle the sketch exists to avoid."""
    docs = load(spark, sf_dir, "documents")
    partial = (
        docs.select(_h60(F.col("text")).alias("u"))
        .mapInPandas(_kmv_partial_minima(KMV_K), "u bigint")
    )
    topk = (
        partial.distinct()
        .orderBy("u")
        .limit(KMV_K)
        .agg(F.max("u").alias("kth_min_hash"), F.count("*").alias("k"))
    )
    exact = docs.agg(F.countDistinct("text").alias("exact_distinct"))
    return topk.crossJoin(exact).select(
        "k",
        "kth_min_hash",
        F.round((F.col("k") - 1) * F.lit(float(HASH60_MAX)) / F.col("kth_min_hash"))
        .cast("bigint")
        .alias("kmv_estimate"),
        "exact_distinct",
    )


SQL_DISTINCT_TEXTS_KMV = f"""
WITH h AS (
  SELECT DISTINCT {_sql_h60("text")} AS u
  FROM documents
),
k AS (
  SELECT max(u) AS kth_min_hash, count(*) AS k
  FROM (SELECT u FROM h ORDER BY u LIMIT {KMV_K})
),
e AS (SELECT count(DISTINCT text) AS exact_distinct FROM documents)
SELECT k.k AS k, k.kth_min_hash,
       CAST(round((k.k - 1) * {float(HASH60_MAX)!r} / k.kth_min_hash) AS BIGINT)
         AS kmv_estimate,
       e.exact_distinct
FROM k, e
"""


def q_doc_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Intra-document repetition (Gopher-style quality rule): fraction of
    k-gram occurrences that are repeats, 1 - distinct/total over the
    WITH-multiplicity shingle list. Boilerplate and looped generations
    score high; pure per-row native array ops (no shuffle at all)."""
    docs = load(spark, sf_dir, "documents")
    sh = T.shingles(T.tokens(F.col("text")), CFG.shingle_k)
    n = F.size(sh)
    nd = F.size(F.array_distinct(sh))
    return docs.select(
        "doc_id",
        n.alias("n_shingles"),
        nd.alias("n_distinct"),
        F.round(F.lit(1.0) - nd.cast("double") / n, 6).alias("repetition"),
    )


SQL_DOC_REPETITION = f"""
WITH toks AS (SELECT doc_id, {_SQL_TOKS} AS t FROM documents),
sh AS (
  SELECT doc_id, {_sql_gram_case(CFG.shingle_k, distinct=False)} AS s
  FROM toks
)
SELECT doc_id, len(s) AS n_shingles, len(list_distinct(s)) AS n_distinct,
       round(1.0 - len(list_distinct(s)) * 1.0 / len(s), 6) AS repetition
FROM sh
"""


PACK_BUDGET_TOKENS = 2048
PACK_SHARDS = 16


def q_packed_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-sequence packing: assign docs to ~PACK_BUDGET_TOKENS bins
    by running token total — the greedy concat-and-split packing LLM data
    loaders apply, as a window cumsum: bin = floor(cum_tokens_before /
    budget). Packing is per SHARD (deterministic hash of the content), so
    the window never spans more than corpus/SHARDS rows — at 100 TB the
    shard count scales with the cluster and no global sort exists; order
    within a shard is md5 (a reproducible shuffle, so bins mix sources
    instead of concatenating one crawl run)."""
    docs = load(spark, sf_dir, "documents")
    d = docs.select(
        "doc_id",
        T.token_count(F.col("text")).alias("n_tokens"),
        F.pmod(_h60(F.col("text")), F.lit(PACK_SHARDS)).alias("shard"),
        F.md5("text").alias("h"),
    )
    w = Window.partitionBy("shard").orderBy("h", "doc_id")
    cum_before = F.coalesce(
        F.sum("n_tokens").over(w.rowsBetween(Window.unboundedPreceding, -1)),
        F.lit(0),
    )
    return d.select(
        "doc_id",
        "shard",
        "n_tokens",
        F.floor(cum_before / F.lit(PACK_BUDGET_TOKENS)).cast("bigint").alias("bin_id"),
    )


SQL_PACKED_SEQUENCES = f"""
WITH d AS (
  SELECT doc_id, len({_SQL_TOKS}) AS n_tokens,
         {_sql_h60("text")} % {PACK_SHARDS} AS shard,
         md5(text) AS h
  FROM documents
)
SELECT doc_id, shard, n_tokens,
       CAST(floor(coalesce(sum(n_tokens) OVER (PARTITION BY shard ORDER BY h, doc_id
                                               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                           0) * 1.0 / {PACK_BUDGET_TOKENS}) AS BIGINT) AS bin_id
FROM d
"""


DECON_K = 4  # gram length for the contamination probe (13 in prod GPT-style
#              decontamination; 4 here is the selective-but-nonvacuous point
#              on the synthetic corpus: 49 flagged docs at sf0.01 vs 400 at
#              k=3 [noise] and 2 at k=5)
DECON_MOD = 20  # benchmark set = doc_id % DECON_MOD == 0 (~5% pseudo-eval set)
# hard cap on benchmark membership: a REAL eval suite is a fixed small
# set (MBs), but the %-derived pseudo-benchmark grows with the corpus —
# without the cap the broadcast below would scale to corpus size and blow
# past the executor broadcast budget at web scale. 200k keeps the cap
# inert at every test/bench sf (max doc_id 5000) while bounding the
# broadcast at <=10k docs' grams forever.
DECON_MAX_BENCH_ID = 200_000


DECON_MAX_BROADCAST_BENCH_DOCS = 1_000_000


def q_benchmark_decontam(
    spark: SparkSession,
    sf_dir: str,
    broadcast: bool = True,
    max_broadcast_bench_docs: int = DECON_MAX_BROADCAST_BENCH_DOCS,
) -> DataFrame:
    """Train/eval contamination check (the GPT-3-style n-gram
    decontamination pass every LLM data pipeline runs): flag corpus
    documents sharing at least one k-token gram with a benchmark set,
    with per-doc hit counts (how many benchmark docs, how many distinct
    grams). Benchmark = the deterministic doc_id % DECON_MOD == 0 slice
    (capped at DECON_MAX_BENCH_ID) standing in for an eval suite.

    100 TB shape: the benchmark gram table is BOUNDED-small (real eval
    suites are MBs; the pseudo-benchmark here is capped), so it
    BROADCASTS — the corpus side is a scan + explode probed against a
    broadcast hash table, never shuffled on grams; the only exchange is
    the final per-doc hit aggregation. The broadcast is SIZE-GATED (same
    loud gate as embedding_dup_pairs_broadcast): a mis-sized "benchmark"
    past DECON_MAX_BROADCAST_BENCH_DOCS raises instead of silently
    OOMing the driver, with broadcast=False as the shuffle-gram-join
    fallback for genuinely large contamination sources."""
    docs = load(spark, sf_dir, "documents")
    from neural_locality_sensitive_hashing_spark.functions.minhash import (
        make_gram_hash_text_udf,
    )

    from neural_locality_sensitive_hashing_spark.partitioning import fan_out

    # r10: fused Arrow gram kernel (see _spark_shingled) — the
    # contamination probe only compares gram equality and distinct
    # counts, so the hash family is free to change; fan_out parallelizes
    # the kernel over a single-file sf scan of 1 MiB or more (no-op at
    # real scale)
    sh = fan_out(docs).select(
        "doc_id", make_gram_hash_text_udf(DECON_K)(F.col("text")).alias("sh")
    )
    is_bench = (F.col("doc_id") % DECON_MOD == 0) & (
        F.col("doc_id") < DECON_MAX_BENCH_ID
    )
    bg = (
        sh.where(is_bench)
        .select(F.col("doc_id").alias("bench_id"), F.explode("sh").alias("g"))
    )
    cg = sh.where(~is_bench).select("doc_id", F.explode("sh").alias("g"))
    if broadcast:
        # limit(max+1) lets the scan stop as soon as the gate is decided —
        # the gate must not itself cost a full corpus pass at 100 TB
        n_bench = docs.where(is_bench).limit(max_broadcast_bench_docs + 1).count()
        if n_bench > max_broadcast_bench_docs:
            raise ValueError(
                f"benchmark side exceeds the {max_broadcast_bench_docs}-doc "
                "broadcast gate; broadcasting would OOM the driver — rerun "
                "with broadcast=False (shuffle gram join)"
            )
        bg = F.broadcast(bg)
    return (
        cg.join(bg, "g")
        .groupBy("doc_id")
        .agg(
            F.countDistinct("bench_id").alias("n_bench_docs"),
            F.countDistinct("g").alias("n_shared_grams"),
        )
    )


SQL_BENCHMARK_DECONTAM = f"""
WITH toks AS (SELECT doc_id, {_SQL_TOKS} AS t FROM documents),
sh AS (
  SELECT doc_id, {_sql_gram_case(DECON_K)} AS s
  FROM toks
),
bg AS (SELECT doc_id AS bench_id, unnest(s) AS g FROM sh
       WHERE doc_id % {DECON_MOD} = 0 AND doc_id < {DECON_MAX_BENCH_ID}),
cg AS (SELECT doc_id, unnest(s) AS g FROM sh
       WHERE NOT (doc_id % {DECON_MOD} = 0 AND doc_id < {DECON_MAX_BENCH_ID}))
SELECT cg.doc_id,
       count(DISTINCT bg.bench_id) AS n_bench_docs,
       count(DISTINCT cg.g) AS n_shared_grams
FROM cg JOIN bg ON cg.g = bg.g
GROUP BY cg.doc_id
"""


GOPHER_STOPWORDS = ["the", "be", "to", "of", "and", "that", "have", "with"]
GOPHER_MIN_WORDS = 50
GOPHER_MEAN_LEN = (3.0, 10.0)
GOPHER_ALPHA_FRAC = 0.8
GOPHER_MIN_STOPWORDS = 2


def q_gopher_quality_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style document quality rules (Rae et al. 2021 §A1.1) as one
    pass of native higher-order functions — the standard pre-training
    quality filter: word count floor, mean word length band, fraction of
    words containing an alphabetic character, and a stopword-presence
    check, plus the combined pass flag. Zero exchanges: per-row array
    ops over the scan (same class as doc_repetition)."""
    docs = load(spark, sf_dir, "documents")
    toks = T.tokens(F.col("text"))
    n = F.size(toks)
    nn = F.nullif(n.cast("double"), F.lit(0.0))
    mean_len = F.round(
        F.aggregate(
            toks, F.lit(0.0), lambda acc, t: acc + F.length(t).cast("double")
        )
        / nn,
        6,
    )
    alpha_frac = F.round(
        F.size(F.filter(toks, lambda t: t.rlike("[A-Za-z]"))).cast("double") / nn,
        6,
    )
    stop_hits = F.size(
        F.filter(toks, lambda t: F.lower(t).isin(GOPHER_STOPWORDS))
    )
    passed = (
        (n >= GOPHER_MIN_WORDS)
        & mean_len.between(*GOPHER_MEAN_LEN)
        & (alpha_frac >= GOPHER_ALPHA_FRAC)
        & (stop_hits >= GOPHER_MIN_STOPWORDS)
    )
    return docs.select(
        "doc_id",
        n.alias("n_words"),
        mean_len.alias("mean_word_len"),
        alpha_frac.alias("alpha_frac"),
        stop_hits.alias("stopword_hits"),
        passed.alias("gopher_pass"),
    )


_SQL_STOPLIST = "[" + ", ".join(f"'{w}'" for w in GOPHER_STOPWORDS) + "]"

SQL_GOPHER_QUALITY_FLAGS = f"""
WITH toks AS (SELECT doc_id, {_SQL_TOKS} AS t FROM documents),
m AS (
  SELECT doc_id, len(t) AS n_words,
         round(list_sum(list_transform(t, x -> len(x))) * 1.0
               / nullif(len(t), 0), 6) AS mean_word_len,
         round(len(list_filter(t, x -> regexp_matches(x, '[A-Za-z]'))) * 1.0
               / nullif(len(t), 0), 6) AS alpha_frac,
         len(list_filter(t, x -> list_contains({_SQL_STOPLIST}, lower(x))))
           AS stopword_hits
  FROM toks
)
SELECT doc_id, n_words, mean_word_len, alpha_frac, stopword_hits,
       (n_words >= {GOPHER_MIN_WORDS}
        AND mean_word_len BETWEEN {GOPHER_MEAN_LEN[0]} AND {GOPHER_MEAN_LEN[1]}
        AND alpha_frac >= {GOPHER_ALPHA_FRAC}
        AND stopword_hits >= {GOPHER_MIN_STOPWORDS}) AS gopher_pass
FROM m
"""


def q_lang_rebalance_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Uniform language rebalancing (data-mixing): downsample every
    language to the size of the SMALLEST language class, deterministically
    (per-lang rank over md5(text) — the same reproducible-shuffle order
    the stratified sampler uses, so reruns and engines agree bit-for-bit).
    Unlike `lang_stratified_sample`'s fixed quota, the quota here is
    DERIVED from the data (min class size) — the degenerate-but-exact
    form of proportional mixture reweighting. At 100 TB: one lang-count
    aggregate (tiny result, broadcast into the two-phase bucket rank of
    operators/sampling.py, which bounds the exact window's input by the
    contributing md5-prefix buckets instead of the corpus — see
    q_lang_stratified_sample for why the naive per-lang window dies)."""
    from neural_locality_sensitive_hashing_spark.operators.sampling import quota_rank

    docs = load(spark, sf_dir, "documents")
    quota = docs.groupBy("lang").count().agg(F.min("count").alias("quota"))
    return quota_rank(docs, quota)


SQL_LANG_REBALANCE_SAMPLE = """
WITH q AS (
  SELECT min(n) AS quota FROM (SELECT count(*) AS n FROM documents GROUP BY lang)
),
r AS (
  SELECT lang, doc_id,
         row_number() OVER (PARTITION BY lang ORDER BY md5(text), doc_id) AS rk
  FROM documents
)
SELECT lang, doc_id, rk FROM r, q WHERE rk <= quota
"""


# --- relational parity (TPC-H-ish) -------------------------------------------


def q_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    return (
        li.where(F.col("l_shipdate") <= F.lit("1998-09-02"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            # Decimal-accumulated sums: exact and summation-order-independent,
            # so the driver's bit-exact hash compare vs the oracle cannot be
            # broken by Spark/DuckDB reducing partial aggregates in different
            # row orders.  The per-row double->decimal cast is deterministic.
            F.round(F.sum(F.col("l_quantity").cast("decimal(18,6)")), 2)
            .cast("double")
            .alias("sum_qty"),
            F.round(F.sum(F.col("l_extendedprice").cast("decimal(18,6)")), 2)
            .cast("double")
            .alias("sum_base_price"),
            F.round(
                F.sum(
                    (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
                        "decimal(18,6)"
                    )
                ),
                2,
            )
            .cast("double")
            .alias("sum_disc_price"),
            F.round(
                F.sum(F.col("l_quantity").cast("decimal(18,6)")).cast("double")
                / F.count("*"),
                6,
            ).alias("avg_qty"),
            F.round(
                F.sum(F.col("l_discount").cast("decimal(18,6)")).cast("double")
                / F.count("*"),
                6,
            ).alias("avg_disc"),
            F.count("*").alias("count_order"),
        )
    )


SQL_PRICING_SUMMARY = """
SELECT l_returnflag, l_linestatus,
       CAST(round(sum(CAST(l_quantity AS DECIMAL(18,6))), 2) AS DOUBLE) AS sum_qty,
       CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,6))), 2) AS DOUBLE) AS sum_base_price,
       CAST(round(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))), 2) AS DOUBLE) AS sum_disc_price,
       round(CAST(sum(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE) / count(*), 6) AS avg_qty,
       round(CAST(sum(CAST(l_discount AS DECIMAL(18,6))) AS DOUBLE) / count(*), 6) AS avg_disc,
       count(*) AS count_order
FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02'
GROUP BY l_returnflag, l_linestatus
"""


def q_revenue_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-style multi-level revenue report in ONE lane slot
    (consolidates round-6's top_customers + region_revenue; the driver
    caps correctness rows at 50/round): a single star join — small
    dimensions broadcast — feeds a GROUPING SETS aggregate at the
    (region, nation) and (customer) levels, then the customer level
    keeps its top 20 by revenue.

    Physical shapes this pins: the Q5 broadcast star join, the
    grouping-sets expand through ONE hash aggregate, and global
    sort+limit for the top-k slice (TakeOrderedAndProject:
    per-partition top-20 then driver merge — never a one-reducer window
    over all customers). The two slices re-derive from the same
    declarative agg subtree; a production rollup at 10^12 rows would
    materialize the bounded agg table once (checkpoint / Iceberg) and
    slice it, which is exactly what plans/pipeline.py's checkpoint
    stages provide."""
    region = load(spark, sf_dir, "region")
    nation = load(spark, sf_dir, "nation")
    cust = load(spark, sf_dir, "customer")
    orders = load(spark, sf_dir, "orders")
    li = load(spark, sf_dir, "lineitem")
    base = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
    )
    amt = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
        "decimal(18,6)"
    )
    agg = (
        base.groupingSets(
            [["r_name", "n_name"], ["c_custkey", "c_name"]],
            "r_name",
            "n_name",
            "c_custkey",
            "c_name",
        )
        .agg(
            F.round(F.sum(amt), 2).cast("double").alias("revenue"),
            F.countDistinct("o_orderkey").alias("n_orders"),
        )
        .withColumn(
            "level",
            F.when(F.col("c_custkey").isNull(), F.lit("region")).otherwise(
                F.lit("customer")
            ),
        )
        # NOT persisted despite both output slices consuming this
        # aggregate (Catalyst does not CSE across the final union, so
        # the star join + agg executes twice): an r10 A/B measured the
        # persist at 4.0s vs 1.4s duplicated — the cache build forces
        # the non-adaptive cached-plan path and pays serialization for
        # a subtree whose broadcast joins re-run in ~0.5s. Documented
        # trade; at 10^12-row scale the checkpoint stages in
        # plans/pipeline.py are the materialization vehicle instead.
    )
    cols = ["level", "r_name", "n_name", "c_custkey", "c_name", "revenue", "n_orders"]
    region_rows = agg.where(F.col("level") == "region").select(*cols)
    top_cust = (
        agg.where(F.col("level") == "customer")
        .orderBy(F.desc("revenue"), F.asc("c_custkey"))
        .limit(20)
        .select(*cols)
    )
    return region_rows.unionByName(top_cust)


SQL_REVENUE_ROLLUP = """
WITH base AS (
  SELECT r_name, n_name, c_custkey, c_name, o_orderkey,
         l_extendedprice * (1 - l_discount) AS amt
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
  JOIN customer ON o_custkey = c_custkey
  JOIN nation ON c_nationkey = n_nationkey
  JOIN region ON n_regionkey = r_regionkey
), agg AS (
  SELECT r_name, n_name, c_custkey, c_name,
         CAST(round(sum(CAST(amt AS DECIMAL(18,6))), 2) AS DOUBLE) AS revenue,
         count(DISTINCT o_orderkey) AS n_orders,
         CASE WHEN GROUPING(c_custkey) = 1 THEN 'region' ELSE 'customer' END AS level
  FROM base
  GROUP BY GROUPING SETS ((r_name, n_name), (c_custkey, c_name))
)
SELECT level, r_name, n_name, c_custkey, c_name, revenue, n_orders
FROM agg WHERE level = 'region'
UNION ALL
SELECT level, r_name, n_name, c_custkey, c_name, revenue, n_orders
FROM (SELECT * FROM agg WHERE level = 'customer'
      ORDER BY revenue DESC, c_custkey ASC LIMIT 20)
"""


def q_event_type_top_hours(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Events rollup + ranking window in ONE lane slot (consolidates
    round-6's event_type_hourly + user_topk_events; the driver caps
    correctness rows at 50/round): hourly (event_type, hour) counts and
    decimal-exact value sums, keeping each type's top-3 busiest hours
    via a row_number window — the reference's per-query top-k ranking
    idiom (SURVEY §2.5 A5), here partitioned over the already-AGGREGATED
    bounded table (n_types x n_hours rows — low-cardinality keys are
    skew-safe only downstream of an aggregate, same contract as
    lang_token_quartiles; pinned in tests/test_plan_audit.py)."""
    ev = load(spark, sf_dir, "events")
    hourly = ev.groupBy(
        F.col("event_type"), F.date_trunc("hour", F.col("ts")).alias("hour_ts")
    ).agg(
        F.count("*").alias("n_events"),
        F.round(F.sum(F.col("value").cast("decimal(18,6)")), 4)
        .cast("double")
        .alias("sum_value"),
    )
    w = Window.partitionBy("event_type").orderBy(
        F.desc("n_events"), F.asc("hour_ts")
    )
    return hourly.select(
        "event_type",
        "hour_ts",
        "n_events",
        "sum_value",
        F.row_number().over(w).alias("rank"),
    ).where(F.col("rank") <= 3)


SQL_EVENT_TYPE_TOP_HOURS = """
WITH hourly AS (
  SELECT event_type, date_trunc('hour', ts) AS hour_ts,
         count(*) AS n_events,
         CAST(round(sum(CAST(value AS DECIMAL(18,6))), 4) AS DOUBLE) AS sum_value
  FROM events GROUP BY event_type, date_trunc('hour', ts)
)
SELECT event_type, hour_ts, n_events, sum_value, rank FROM (
  SELECT *, row_number() OVER (PARTITION BY event_type
                               ORDER BY n_events DESC, hour_ts ASC) AS rank
  FROM hourly
) WHERE rank <= 3
"""

SESSION_GAP_SEC = 1800


def q_user_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization (30-min inactivity closes a session): the
    lag + cumulative-sum window idiom — one exchange on user_id feeds the
    lag, the running sum AND the final per-session aggregate (all three
    share the partitioning, so Catalyst plans a single shuffle). The
    batch analogue of Structured Streaming session windows; at 100 TB the
    user_id hash partitioning bounds every window to one partition."""
    ev = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.unix_timestamp("ts") - F.unix_timestamp(F.lag("ts").over(w))
    flagged = ev.select(
        "user_id",
        "ts",
        "event_id",
        "value",
        F.when(gap.isNull() | (gap > SESSION_GAP_SEC), 1).otherwise(0).alias("new_sess"),
    )
    flagged = flagged.withColumn(
        "session_idx",
        F.sum("new_sess").over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    # sum_value is accumulated as DECIMAL(18,6): double summation order
    # differs between Spark (window order) and any other engine (scan
    # order), so last-bit ulps can survive round(...,4) and fail an exact
    # hash compare.  Decimal addition is exact and order-independent.
    return flagged.groupBy("user_id", "session_idx").agg(
        F.count("*").alias("n_events"),
        F.min("ts").alias("start_ts"),
        F.max("ts").alias("end_ts"),
        F.round(F.sum(F.col("value").cast("decimal(18,6)")), 4)
        .cast("double")
        .alias("sum_value"),
    )


SQL_USER_SESSIONS = f"""
WITH e AS (
  SELECT user_id, ts, event_id, value,
         CASE WHEN lag(ts) OVER w IS NULL
                   OR date_diff('second', lag(ts) OVER w, ts) > {SESSION_GAP_SEC}
              THEN 1 ELSE 0 END AS new_sess
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), s AS (
  SELECT *, sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                ROWS UNBOUNDED PRECEDING) AS session_idx
  FROM e
)
SELECT user_id, CAST(session_idx AS BIGINT) AS session_idx, count(*) AS n_events,
       min(ts) AS start_ts, max(ts) AS end_ts,
       CAST(round(sum(CAST(value AS DECIMAL(18,6))), 4) AS DOUBLE) AS sum_value
FROM s GROUP BY user_id, session_idx
"""


def q_user_sessions_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING stateful sessionization in the value-check lane: drain
    the events table through streaming/sessionize.py's
    applyInPandasWithState operator (event-time timeout, watermark 0s) as
    a real Structured Streaming query over three time-ordered micro-batch
    files plus one far-future sentinel event (the watermark is computed
    from the PREVIOUS batch's max event time, so the flush of each user's
    final open session needs one more trigger after the last real data).
    The cumulative emitted output, with session_idx re-derived as the
    per-user rank of session_start, must hash-match the BATCH window
    query — the oracle is EXACTLY SQL_USER_SESSIONS, so the driver
    certifies streamed == batch == oracle. The drain harness (time-split
    files, memory sink, sentinel) is test scaffolding; the operator
    under test is the incremental sessionizer itself. Fresh per-call
    checkpoint/input under a tmpdir.

    The time split is DISTRIBUTED: cut points come from one
    approx_percentile aggregate over ts (constant-memory QuantileSummaries
    sketch — an EXACT percentile would buffer every near-unique timestamp
    in one aggregation task, the very blowup this rewrite removes; see
    q_lang_token_quartiles' discipline note) and each batch is a filtered
    executor-side write — the events table is never materialized on the
    driver, so the lane query stays runnable at any sf (ANY value-based
    time split yields the same sessions, so the sketch's cut placement
    never affects the answer; the operator only requires batches be
    non-decreasing in event time BETWEEN files, which the strict < cut
    guarantees)."""
    import datetime as _dt
    import glob
    import os
    import shutil
    import tempfile
    import time
    import uuid

    from neural_locality_sensitive_hashing_spark.streaming.sessionize import (
        sessionize_stream,
    )

    ev = load(spark, sf_dir, "events").select("event_id", "ts", "user_id", "value")
    # ts is TIMESTAMP_NTZ; the NTZ->TZ cast is deterministic under the
    # engine's pinned-UTC session
    bounds = ev.agg(
        F.expr(
            "approx_percentile(unix_micros(cast(ts as timestamp)),"
            " array(CAST(1 AS DOUBLE)/3, CAST(2 AS DOUBLE)/3), 10000)"
        ).alias("cuts"),
        F.max("ts").alias("mx"),
    ).collect()[0]
    t1, t2 = (int(c) for c in bounds["cuts"])
    # write the batch files as plain TIMESTAMP (matching the sentinel and
    # the readStream schema): the corpus ts is NTZ, and the NTZ->TZ cast
    # is value-identical under the pinned-UTC session
    evc = ev.withColumn("ts", F.col("ts").cast("timestamp")).select(
        "event_id", "ts", "user_id", "value"
    )
    usc = F.unix_micros(F.col("ts"))
    parts = [
        evc.where(usc < t1),
        evc.where((usc >= t1) & (usc < t2)),
        evc.where(usc >= t2),
    ]
    work = tempfile.mkdtemp(prefix="nlsh_sessions_inc_")
    name = "sessions_inc_" + uuid.uuid4().hex[:8]
    try:
        in_dir = os.path.join(work, "in")
        os.makedirs(in_dir)
        # coalesce(1): ONE file per time-band — FileStreamSource treats
        # each file as its own micro-batch (maxFilesPerTrigger=1), and a
        # band split across two files could replay out of time order
        for i, part in enumerate(parts):
            part.coalesce(1).write.parquet(f"{in_dir}/b{i}.parquet")
        sentinel_ts = bounds["mx"] + _dt.timedelta(seconds=10 * SESSION_GAP_SEC)
        sentinel = spark.createDataFrame(
            [(-1, sentinel_ts, -1, 0.0)],
            "event_id long, ts timestamp, user_id long, value double",
        )
        sentinel.coalesce(1).write.parquet(f"{in_dir}/b3.parquet")
        # FileStreamSource orders files by modification time; the four
        # batches are written in quick succession so mtimes can TIE — if
        # the far-future sentinel were picked up before b2, the watermark
        # would jump and b2's events would be dropped as late (delay 0s).
        # Force strictly increasing, spaced mtimes in write order.
        base = time.time()
        for i in range(4):
            for f in glob.glob(f"{in_dir}/b{i}.parquet/part-*.parquet"):
                os.utime(f, (base + 10 * i, base + 10 * i))
        stream = (
            spark.readStream.schema(
                "event_id long, ts timestamp, user_id long, value double"
            )
            .option("maxFilesPerTrigger", 1)
            .parquet(f"{in_dir}/*")
        )
        q = (
            sessionize_stream(
                stream, gap_sec=SESSION_GAP_SEC, watermark_delay="0 seconds"
            )
            .writeStream.format("memory")
            .queryName(name)
            .outputMode("update")
            .option("checkpointLocation", os.path.join(work, "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        sess = spark.table(name).where(F.col("user_id") >= 0)  # drop sentinel
        w = Window.partitionBy("user_id").orderBy("session_start")
        out = sess.select(
            "user_id",
            F.row_number().over(w).cast("bigint").alias("session_idx"),
            "n_events",
            F.col("session_start").alias("start_ts"),
            F.col("session_end").alias("end_ts"),
            "sum_value",
        )
        # executor-side materialization before the tmp input/checkpoint
        # are deleted (and before the memory-sink view is dropped)
        return _lane_result(out)
    finally:
        try:
            spark.catalog.dropTempView(name)
        except Exception:
            pass
        shutil.rmtree(work, ignore_errors=True)


def q_lang_token_quartiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact per-language token-count quartiles (corpus-quality audit),
    computed from a (lang, token_count) HISTOGRAM rather than
    `percentile` over raw rows: `groupBy(lang).agg(percentile(n))` ships
    every row's value into <=n_lang aggregation buffers — with ~5
    language values the en buffer alone holds half a web corpus (same
    skew class as the naive per-lang sampler windows). The histogram
    groupBy keys on (lang, n) — high cardinality, partial-agg combines
    map-side — and everything after it (running counts, boundary-value
    lookups) runs over <= n_lang * distinct-token-counts rows, bounded
    by max document length, not corpus size.

    Exactness: for sorted values v[0..N-1], quantile_cont(p) =
    v[r] + frac*(v[r+1]-v[r]) with i=(N-1)p, r=floor(i), frac=i-r;
    v[k] (0-indexed) == min n whose running count >= k+1 — exact linear
    interpolation, same contract as Spark `percentile` and DuckDB
    `quantile_cont` (values are integer token counts, so the arithmetic
    is exact in double)."""
    docs = load(spark, sf_dir, "documents")
    n = T.token_count(F.col("text")).cast("double")
    hist = docs.groupBy(F.col("lang"), n.alias("n")).agg(
        F.count("*").alias("c")
    )
    cum = hist.select(
        "lang",
        "n",
        "c",
        F.sum("c").over(Window.partitionBy("lang").orderBy("n")).alias("cum"),
        F.sum("c").over(Window.partitionBy("lang")).alias("tot"),
    )
    # avg/max fold in from the SAME histogram (sum n*c / total) — the
    # round-7 lang_summary row consolidated here (50-row driver cap;
    # round 8 adds the WARC and incremental-clusters lanes), so the A3
    # mean-reduction kernel stays value-checked under this row
    aggs = [
        F.max("tot").alias("n_docs"),
        F.round(
            F.sum(F.col("n") * F.col("c")) / F.max("tot"), 4
        ).alias("avg_tokens"),
        F.max("n").cast("bigint").alias("max_tokens"),
    ]
    for name, p in (("p25", 0.25), ("p50", 0.5), ("p75", 0.75)):
        r = F.floor((F.col("tot") - 1) * F.lit(p))
        aggs.append(
            F.min(F.when(F.col("cum") >= r + 1, F.col("n"))).alias(f"_lo_{name}")
        )
        aggs.append(
            F.min(F.when(F.col("cum") >= r + 2, F.col("n"))).alias(f"_hi_{name}")
        )
    res = cum.groupBy("lang").agg(*aggs)
    out = [F.col("lang")]
    for name, p in (("p25", 0.25), ("p50", 0.5), ("p75", 0.75)):
        i = (F.col("n_docs") - 1) * F.lit(p)
        frac = i - F.floor(i)
        lo = F.col(f"_lo_{name}")
        hi = F.coalesce(F.col(f"_hi_{name}"), lo)  # frac==0 at the top rank
        out.append(F.round(lo + frac * (hi - lo), 4).alias(name))
    return res.select(
        *out, F.col("n_docs"), F.col("avg_tokens"), F.col("max_tokens")
    )


SQL_LANG_TOKEN_QUARTILES = """
WITH t AS (
  SELECT lang,
         len(list_filter(string_split(regexp_replace(trim(text), '\\s+', ' ', 'g'), ' '),
                         x -> x <> ''))::DOUBLE AS n
  FROM documents
)
SELECT lang, round(quantile_cont(n, 0.25), 4) AS p25,
       round(quantile_cont(n, 0.5), 4) AS p50,
       round(quantile_cont(n, 0.75), 4) AS p75,
       count(*) AS n_docs,
       round(avg(n), 4) AS avg_tokens,
       CAST(max(n) AS BIGINT) AS max_tokens
FROM t GROUP BY lang
"""


# --- registry -----------------------------------------------------------------

QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {
    "exact_dedup_clusters": q_exact_dedup_clusters,
    "exact_dup_pairs": q_exact_dup_pairs,
    "ngram_jaccard_pairs": q_ngram_jaccard_pairs,
    "unique_documents": q_unique_documents,
    "user_sessions": q_user_sessions,
    "user_sessions_incremental": q_user_sessions_incremental,
    "lang_token_quartiles": q_lang_token_quartiles,
    "doc_sample_hash": q_doc_sample_hash,
    "bpe_token_stats": q_bpe_token_stats,
    "lang_stratified_sample": q_lang_stratified_sample,
    "distinct_texts_kmv": q_distinct_texts_kmv,
    "doc_repetition": q_doc_repetition,
    "packed_sequences": q_packed_sequences,
    "benchmark_decontam": q_benchmark_decontam,
    "gopher_quality_flags": q_gopher_quality_flags,
    "lang_rebalance_sample": q_lang_rebalance_sample,
    "minhash_dedup_pairs": q_minhash_dedup_pairs,
    "minhash_dedup_pairs_incremental": q_minhash_dedup_pairs_incremental,
    "minhash_dedup_clusters": q_minhash_dedup_clusters,
    "minhash_dedup_clusters_incremental": q_minhash_dedup_clusters_incremental,
    "dedup_keep_list": q_dedup_keep_list,
    "recrawl_latest": q_recrawl_latest,
    "recrawl_latest_incremental": q_recrawl_latest_incremental,
    "recrawl_stats": q_recrawl_stats,
    "crawl_host_stats": q_crawl_host_stats,
    "warc_pages": q_warc_pages,
    "wet_pages": q_wet_pages,
    "pii_scrub": q_pii_scrub,
    "boilerplate_shingles": q_boilerplate_shingles,
    "simhash_dup_pairs": q_simhash_dup_pairs,
    "long_repeat_pairs": q_long_repeat_pairs,
    "longrepeat_winnowed_pairs": q_longrepeat_winnowed_pairs,
    "learned_ann_cosine": q_learned_ann_cosine,
    "learned_multiband_ann": q_learned_multiband_ann,
    "learned_bagged_ann": q_learned_bagged_ann,
    "doc_profile": q_doc_profile,
    "top_tokens": q_top_tokens,
    "embedding_dup_pairs": q_embedding_dup_pairs,
    "embedding_dup_pairs_hi": q_embedding_dup_pairs_hi,
    # embedding_dup_pairs_fast left OUT of the driver lane (50-row cap):
    # its oracle equality is certified transitively by
    # tests/test_similarity.py::test_fast_path_equals_lsh_path (fast ==
    # LSH plan, whose lane row stays green); still benched in bench.py.
    "knn_bruteforce": q_knn_bruteforce,
    "knn_bruteforce_l2": q_knn_bruteforce_l2,
    "ann_lsh_cosine": q_ann_lsh_cosine,
    "ann_lsh_l2": q_ann_lsh_l2,
    "ivf_ann_cosine": q_ivf_ann_cosine,
    "ann_recall_at_k": q_ann_recall_at_k,
    "embedding_stats": q_embedding_stats,
    "label_centroids": q_label_centroids,
    "pricing_summary": q_pricing_summary,
    "revenue_rollup": q_revenue_rollup,
    "event_type_top_hours": q_event_type_top_hours,
}
# The driver checks at most 50 queries per round (round 6 recorded 50 rows
# for 52 registered). The registry is therefore CONSOLIDATED to exactly 50
# so every entry gets a correctness row every round:
#   embedding_l2_normalized + embedding_zscore -> embedding_normalized
#   top_customers + region_revenue             -> revenue_rollup
#   event_type_hourly + user_topk_events       -> event_type_top_hours
#   embedding_dup_pairs_fast                   -> pytest equality gate
# Round 8 (to admit warc_pages + minhash_dedup_clusters_incremental):
#   token_stats  -> doc_profile (n_tokens/bpe_tokens columns)
#   lang_summary -> lang_token_quartiles (n_docs/avg_tokens/max_tokens)
# Round 9 (to admit wet_pages, the mixed-archive WET roundtrip):
#   embedding_normalized -> embedding_stats (l2_val_sum/z_val_sum columns)
# Operator coverage is unchanged: each merged query value-checks the same
# kernels/idioms under one row (see each docstring for the mapping).
assert len(QUERIES) <= 50, f"driver caps correctness rows at 50, got {len(QUERIES)}"

ORACLES: dict[str, str] = {
    "exact_dedup_clusters": SQL_EXACT_DEDUP_CLUSTERS,
    "ngram_jaccard_pairs": SQL_NGRAM_JACCARD_PAIRS,
    "unique_documents": SQL_UNIQUE_DOCUMENTS,
    "user_sessions": SQL_USER_SESSIONS,
    "user_sessions_incremental": SQL_USER_SESSIONS,
    "lang_token_quartiles": SQL_LANG_TOKEN_QUARTILES,
    "doc_sample_hash": SQL_DOC_SAMPLE_HASH,
    "bpe_token_stats": SQL_BPE_TOKEN_STATS,
    "lang_stratified_sample": SQL_LANG_STRATIFIED_SAMPLE,
    "distinct_texts_kmv": SQL_DISTINCT_TEXTS_KMV,
    "doc_repetition": SQL_DOC_REPETITION,
    "packed_sequences": SQL_PACKED_SEQUENCES,
    "benchmark_decontam": SQL_BENCHMARK_DECONTAM,
    "gopher_quality_flags": SQL_GOPHER_QUALITY_FLAGS,
    "lang_rebalance_sample": SQL_LANG_REBALANCE_SAMPLE,
    "boilerplate_shingles": SQL_BOILERPLATE_SHINGLES,
    "minhash_dedup_pairs": SQL_MINHASH_DEDUP_PAIRS,
    "minhash_dedup_pairs_incremental": SQL_MINHASH_DEDUP_PAIRS,
    "minhash_dedup_clusters": SQL_MINHASH_DEDUP_CLUSTERS,
    # incremental drain == batch: the oracle IS the batch clusters SQL
    "minhash_dedup_clusters_incremental": SQL_MINHASH_DEDUP_CLUSTERS,
    "dedup_keep_list": SQL_DEDUP_KEEP_LIST,
    "simhash_dup_pairs": SQL_SIMHASH_DUP_PAIRS,
    "long_repeat_pairs": SQL_LONG_REPEAT_PAIRS,
    "longrepeat_winnowed_pairs": SQL_LONGREPEAT_WINNOWED_PAIRS,
    "doc_profile": SQL_DOC_PROFILE,
    "top_tokens": SQL_TOP_TOKENS,
    "embedding_dup_pairs": SQL_EMBEDDING_DUP_PAIRS,
    "knn_bruteforce": SQL_KNN_BRUTEFORCE,
    "knn_bruteforce_l2": SQL_KNN_BRUTEFORCE_L2,
    "ann_lsh_cosine": SQL_ANN_LSH_COSINE,
    "ann_lsh_l2": SQL_ANN_LSH_L2,
    "ann_recall_at_k": SQL_ANN_RECALL_AT_K,
    "embedding_stats": SQL_EMBEDDING_STATS,
    "label_centroids": SQL_LABEL_CENTROIDS,
    "pricing_summary": SQL_PRICING_SUMMARY,
    "revenue_rollup": SQL_REVENUE_ROLLUP,
    "event_type_top_hours": SQL_EVENT_TYPE_TOP_HOURS,
}


def get_oracles() -> dict[str, str]:
    """Full oracle map. Lazily-generated entries — the learned-ANN oracles
    embed weights fitted on the driver's correctness sf_dir (sf0.01), and
    the planted-fixture oracles materialize + reference the planted parquet
    tables — degrade to a rows-only check if that data is unavailable,
    instead of breaking imports."""
    out = dict(ORACLES)
    # each entry guarded INDIVIDUALLY, and ONLY for missing sf0.01 data
    # (FileNotFoundError -> rows-only degrade): a real bug in one
    # generator must propagate loudly, and must never silently drop the
    # OTHER lazily-generated oracles with it.
    for name, gen in [
        ("learned_ann_cosine", _sql_learned_ann),
        ("learned_multiband_ann", _sql_learned_multiband_ann),
        ("learned_bagged_ann", _sql_learned_bagged_ann),
        ("ivf_ann_cosine", _sql_ivf_ann),
        ("exact_dup_pairs", _sql_exact_dup_pairs),
        ("embedding_dup_pairs_hi", _sql_embedding_dup_pairs_hi),
        ("recrawl_latest", _sql_recrawl_latest),
        ("recrawl_latest_incremental", _sql_recrawl_latest),
        ("recrawl_stats", _sql_recrawl_stats),
        ("crawl_host_stats", _sql_crawl_host_stats),
        ("warc_pages", _sql_warc_pages),
        ("wet_pages", _sql_wet_pages),
        ("pii_scrub", _sql_pii_scrub),
    ]:
        try:
            out[name] = gen()
        except FileNotFoundError:
            pass
    return out
