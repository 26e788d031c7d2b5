"""Scale-safe stratified quota ranking (two-phase md5-bucket rank).

The naive per-language quota sample —

    row_number() OVER (PARTITION BY lang ORDER BY md5(text), doc_id)

— is a skew-killer at web scale: with a handful of language values (en is
44% of the driver corpus; 50-90% of real web corpora) the window's
exchange hashes the WHOLE corpus onto <=n_lang reducer tasks and the `en`
task sorts half the dataset alone. This module computes the IDENTICAL
ranks with a bounded window:

  phase 1  bucket every row by the first 2 hex chars of md5(text) (256
           buckets). Per-(lang, bucket) counts are a tiny partial-agg
           (<= n_lang * 256 rows); a running sum per lang gives each
           bucket's OFFSET = #rows of the same lang in strictly-smaller
           buckets. Because the bucket is a PREFIX of the very string the
           rank orders by, global (md5, doc_id) order == (bucket, md5,
           doc_id) order, so
               global_rank = offset(lang, bucket) + rank within bucket.
  phase 2  broadcast-join the offsets back, DROP every bucket whose
           offset >= quota (it cannot contribute a rank <= quota), and
           run the exact window partitioned by (lang, BUCKET) — key
           cardinality n_lang*256, input bounded by ~quota + one
           boundary bucket per lang instead of the corpus.

The reference never needs this (single-node numpy — ``nlsh/data.py``
slices arrays in memory); it is the Spark-scale re-expression of its
fixed-size subsampling (R5) for skewed group keys.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

BUCKET_CHARS = 2  # 16^2 = 256 md5-prefix buckets per language


def _bucketed(docs: DataFrame) -> DataFrame:
    h = F.md5(F.col("text"))
    return docs.select(
        "lang", "doc_id", h.alias("h"), F.substring(h, 1, BUCKET_CHARS).alias("bkt")
    )


def _bucket_offsets(base: DataFrame) -> DataFrame:
    """(lang, bkt, off): rows of the same lang in strictly-smaller buckets.
    Lexicographic bkt order == md5-prefix order (lowercase hex: '0'-'9' <
    'a'-'f' in ASCII). The window here runs over the COUNTS table
    (<= n_lang * 256 rows), never the corpus."""
    counts = base.groupBy("lang", "bkt").agg(F.count("*").alias("c"))
    w = (
        Window.partitionBy("lang")
        .orderBy("bkt")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    return counts.select(
        "lang", "bkt", F.coalesce(F.sum("c").over(w), F.lit(0)).alias("off")
    )


def contributing_buckets(docs: DataFrame, quota) -> DataFrame:
    """The pruned phase-2 input: only rows whose (lang, bucket) can still
    contribute a rank <= quota. Exposed separately so tests can assert
    the exact window's input is bounded by the boundary buckets, not the
    corpus. ``quota`` is an int, or a 1-row DataFrame with column
    ``quota`` (for data-derived quotas, e.g. min language class size)."""
    base = _bucketed(docs)
    off = _bucket_offsets(base)
    if isinstance(quota, DataFrame):
        off = off.crossJoin(F.broadcast(quota))
    else:
        off = off.withColumn("quota", F.lit(int(quota)))
    keep = off.where(F.col("off") < F.col("quota"))
    return base.join(F.broadcast(keep), ["lang", "bkt"])


def quota_rank(docs: DataFrame, quota) -> DataFrame:
    """(doc_id, lang, text) docs -> (lang, doc_id, rk) for every row whose
    per-language rank over (md5(text), doc_id) is <= quota — bit-identical
    to the naive whole-corpus window, with the window bounded as per the
    module docstring."""
    pruned = contributing_buckets(docs, quota)
    w = Window.partitionBy("lang", "bkt").orderBy("h", "doc_id")
    return (
        pruned.withColumn(
            "rk", (F.row_number().over(w) + F.col("off")).cast("int")
        )
        .where(F.col("rk") <= F.col("quota"))
        .select("lang", "doc_id", "rk")
    )
