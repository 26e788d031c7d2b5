"""Bucket-grouped candidate-pair generation with skew control, over the
(doc_id, band, bucket) rows of ``dedup.explode_fused_bands``.

This is the Spark realization of the reference's inverted index + probe
(``nlsh/indexer.py:6-96``): the bucket→rows dict is never materialized —
grouping on (band, bucket) *is* the index probe (SURVEY.md §2.3 J2).

Skew: the reference *trains* bucket balance into its hash function
(``nlsh/trainers/proposed.py:101-118``) and monitors size dispersion
(``nlsh/trainers/base.py:87-90``). At Spark scale, boilerplate pages create
mega-buckets where the all-pairs self-join is O(n²); buckets larger than
``bucket_pair_cap`` instead emit a sorted *chain + binary-tree* of pairs —
connectivity-preserving for union-find (every member still links to the
component) at O(n) pairs and O(log n) component diameter — and the drop is
observable via ``bucket_stats``, never silent.

Two physical strategies (``DedupConfig.pair_strategy``):

``grouped`` (default) — ONE hash-partitioned exchange:
    groupBy(band, bucket) -> sorted member array -> emit pairs natively
    (all-pairs / chain+tree as array expressions) -> explode.
    No sort, no join, no persist; the only per-row memory bound is the
    largest bucket's member array (8 B/doc — a 10^7-member boilerplate
    bucket is an 80 MB row; at 10^12-doc scale one would bound it further
    with a two-level salt-chain: chain within (bucket, salt) shards, then
    chain the shard minima — same connectivity, rows capped at
    bucket_size/n_salt). Replaces the round-1 windowed plan after it
    measured as the worst-scaling stage (window sort + self-join = two
    exchanges + a sort vs one agg exchange). It is the stream's pass,
    ``candidate_pairs_incremental``, with no stored side: batch and
    stream share one pair emission.

``windowed`` — the round-1 plan (window rank + self-join). Bounded per-row
    memory (streaming window), at the cost of an extra exchange + sort and
    three rank joins for over-cap buckets. Measured on one bucket of n
    members (``local[4]``, 4-core host): at n = 10^6 grouped took 9.9 s
    and windowed 15.6 s (8 GB driver heap; 12.6 / 19.4 s at 2 GB), with
    the same 1,999,997 pairs; at n = 10^7 and the default 8 GB heap
    grouped took 47.3 s and windowed 55.9 s (19,999,997 pairs), but at a
    2 GB heap grouped died of ``OutOfMemoryError: Java heap space`` after
    ~100 s while windowed passed in 58.1 s. So windowed stays: it is the
    plan that runs a degenerate bucket larger than the heap can hold as
    one array.

The stream's micro-batches always take the grouped pass, over a batch's
bands ∪ the stored bands, with the stored side of each bucket rank-capped
by a window on the same exchange.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from neural_locality_sensitive_hashing_spark.config import DedupConfig


# The pair arrays are SQL text over the sorted member array column `ids`:
# one parse per call, where the same trees built from Python lambdas cost
# a py4j round trip per expression node (~0.1 s of driver time per plan).

# `ids` -> array<struct<a,b>> of all C(s,2) pairs, a < b
_ALL_PAIRS = (
    "flatten(transform(sequence(1, size(ids) - 1), i -> transform("
    "slice(ids, i + 1, size(ids) - i), "
    "x -> named_struct('a', element_at(ids, i), 'b', x))))"
)

# `ids` -> O(s) connectivity-preserving pairs: chain (i, i+1) keeps
# locally-adjacent (most-likely-to-verify) pairs; tree (i//2, i), 1-based,
# caps the component diameter at O(log s) so union-find converges in
# logarithmically many rounds even for a mega-bucket (a chain alone would
# need O(s) label-propagation rounds — fatal at 10^12 docs). Identical
# pair set to the round-1 rank-join construction.
_CHAIN_TREE_PAIRS = (
    "concat("
    "zip_with(slice(ids, 1, size(ids) - 1), slice(ids, 2, size(ids) - 1), "
    "(x, y) -> named_struct('a', x, 'b', y)), "
    "transform(sequence(2, size(ids)), "
    "i -> named_struct('a', element_at(ids, cast(floor(i / 2) AS int)), "
    "'b', element_at(ids, i))))"
)

# `ids` × the array column `old` -> every (new, old) pair as (least,
# greatest), skipping an id present on both sides
_CROSS_PAIRS = (
    "flatten(transform(ids, x -> transform(filter(old, y -> y != x), "
    "y -> named_struct('a', least(x, y), 'b', greatest(x, y)))))"
)


def candidate_pairs(
    bands: DataFrame,
    cfg: DedupConfig,
) -> DataFrame:
    """(doc_id, band, bucket) -> distinct candidate (a, b) with a < b."""
    if cfg.pair_strategy == "windowed":
        return _candidate_pairs_windowed(bands, cfg)
    return candidate_pairs_incremental(bands, None, cfg)


def _candidate_pairs_windowed(bands: DataFrame, cfg: DedupConfig) -> DataFrame:
    """Round-1 strategy: window size-tag + rank, self-join for small
    buckets, rank-joins for the chain+tree of over-cap buckets. Bounded
    per-row memory; two exchanges + a sort. Emits the same pair set as the
    grouped strategy (verified in tests/test_candidates.py).

    Cache lifecycle: `tagged` is persisted because the small-bucket
    self-join and the over-cap rank joins all read it, so the cache must
    outlive this call: the returned plan reads it. Callers that
    materialize the result and loop release it with
    `spark.catalog.clearCache()` or by unpersisting the plan's cached
    ancestor."""
    cap = cfg.bucket_pair_cap
    # one exchange on (band, bucket) feeds both the size tag and the rank
    w = Window.partitionBy("band", "bucket")
    tagged = bands.select(
        "band",
        "bucket",
        "doc_id",
        F.count("*").over(w).alias("bucket_size"),
        F.row_number().over(w.orderBy("doc_id")).alias("rn"),
    ).persist()

    small = tagged.where(F.col("bucket_size") <= cap).select("band", "bucket", "doc_id")
    l = small.alias("l")
    r = small.alias("r")
    pairs_small = (
        l.join(r, ["band", "bucket"])
        .where(F.col("l.doc_id") < F.col("r.doc_id"))
        .select(F.col("l.doc_id").alias("a"), F.col("r.doc_id").alias("b"))
    )

    ranked = tagged.where(F.col("bucket_size") > cap).select(
        "band", "bucket", "doc_id", "rn"
    )
    chain_rgt = ranked.select(
        "band", "bucket", F.col("doc_id").alias("b_doc"), (F.col("rn") - 1).alias("rn")
    )
    chain = ranked.join(chain_rgt, ["band", "bucket", "rn"]).select(
        F.col("doc_id").alias("a"), F.col("b_doc").alias("b")
    )
    tree_rgt = ranked.select(
        "band",
        "bucket",
        F.col("doc_id").alias("b_doc"),
        (F.col("rn") * 2).alias("rn"),  # parent rn -> children 2rn (and 2rn+1 below)
    )
    tree = (
        ranked.join(tree_rgt, ["band", "bucket", "rn"])
        .select(F.col("doc_id").alias("a"), F.col("b_doc").alias("b"))
        .unionByName(
            ranked.join(
                tree_rgt.withColumn("rn", F.col("rn") + 1), ["band", "bucket", "rn"]
            ).select(F.col("doc_id").alias("a"), F.col("b_doc").alias("b"))
        )
    )
    pairs_big = chain.unionByName(tree).where(F.col("a") != F.col("b")).select(
        F.least("a", "b").alias("a"), F.greatest("a", "b").alias("b")
    )

    return pairs_small.unionByName(pairs_big).dropDuplicates(["a", "b"])


def candidate_pairs_incremental(
    new_bands: DataFrame,
    stored_bands: DataFrame | None,
    cfg: DedupConfig,
) -> DataFrame:
    """The stream's candidate pass: new×new plus new×stored pairs of a
    micro-batch's (doc_id, band, bucket) rows against the stored rows
    (``None``: an empty store, which is the batch's grouped
    ``candidate_pairs``), as distinct (a, b) with a < b. Old×old pairs
    are never emitted.

    ONE pass, hash-partitioned on (band, bucket) over new ∪ stored rows:
    a window ranks each bucket's stored members by doc_id and keeps the
    ``bucket_pair_cap`` lowest; the aggregate and the pair emission reuse
    the window's exchange, and one ``dropDuplicates`` ends the pass. Per
    bucket it emits

    * new×new: all pairs up to ``bucket_pair_cap`` members, chain+tree
      above (CASE arms are evaluated lazily per row, so a mega-bucket
      never materializes its O(s²) all-pairs array);
    * new × the kept stored ids, skipping a stored id equal to the new
      one (a replayed doc).

    Skew: the cap bounds the stored side of a bucket the way the batch
    chain+tree bounds its new side: a boilerplate bucket's stored members
    never enter an array past the cap, and each new member links to the
    same lowest-id anchors, which the batch that stored them already
    connected among themselves. (Caveat, as in the batch cap: a true dup
    whose only collision is an over-cap bucket verifies only if it also
    matches an anchor; boilerplate buckets are mutually similar.)

    Always the grouped strategy: ``DedupConfig.pair_strategy`` chooses
    among batch plans that emit the same pair set.
    """
    cap = cfg.bucket_pair_cap
    rows = new_bands.select("band", "bucket", "doc_id", F.lit(True).alias("new"))
    if stored_bands is not None:
        # stored rows sort first, so their row number is their rank
        w = Window.partitionBy("band", "bucket").orderBy("new", "doc_id")
        rows = (
            rows.unionByName(
                stored_bands.select(
                    "band", "bucket", "doc_id", F.lit(False).alias("new")
                )
            )
            .withColumn("rn", F.row_number().over(w))
            .where(F.col("new") | (F.col("rn") <= cap))
        )
    grouped = (
        rows.groupBy("band", "bucket")
        .agg(
            F.sort_array(F.collect_list(F.when(F.col("new"), F.col("doc_id")))).alias("ids"),
            F.collect_list(F.when(~F.col("new"), F.col("doc_id"))).alias("old"),
        )
        # only a bucket holding a new member and one more can emit a pair;
        # the rest (singletons, stored-only buckets: most of them) skip the
        # pair expressions, whose lambdas are interpreted row by row
        .where("size(ids) >= 1 AND size(ids) + size(old) >= 2")
    )
    pairs_arr = F.expr(
        f"CASE WHEN size(ids) < 2 THEN {_CROSS_PAIRS} "
        f"WHEN size(ids) <= {cap} THEN concat({_ALL_PAIRS}, {_CROSS_PAIRS}) "
        f"ELSE concat({_CHAIN_TREE_PAIRS}, {_CROSS_PAIRS}) END"
    )
    return grouped.select(F.inline(pairs_arr)).dropDuplicates(["a", "b"])


def bucket_stats(bands: DataFrame) -> DataFrame:
    """Skew monitor — Spark analogue of the reference's index-size logging
    (``nlsh/trainers/base.py:87-90``): bucket count, size stddev/max, and
    total candidate-pair mass per band."""
    return (
        bands.groupBy("band", "bucket")
        .agg(F.count("*").alias("bucket_size"))
        .groupBy("band")
        .agg(
            F.count("*").alias("n_buckets"),
            F.max("bucket_size").alias("max_bucket"),
            F.round(F.stddev("bucket_size"), 4).alias("std_bucket"),
            F.sum(F.expr("bucket_size * (bucket_size - 1) / 2")).alias("pair_mass"),
        )
    )
