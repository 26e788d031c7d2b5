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
    exchanges + a sort vs one agg exchange).

``windowed`` — the round-1 plan (window rank + self-join). Bounded per-row
    memory (streaming window), at the cost of an extra exchange + sort and
    three rank joins for over-cap buckets. Keep for environments where a
    single degenerate bucket exceeds task memory.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from neural_locality_sensitive_hashing_spark.config import DedupConfig


def _all_pairs(ids: Column, s: Column) -> Column:
    """Sorted member array -> array<struct<a,b>> of all C(s,2) pairs, a<b."""
    return F.flatten(
        F.transform(
            F.sequence(F.lit(1), s - 1),
            lambda i: F.transform(
                F.slice(ids, i + 1, s - i),
                lambda x: F.struct(
                    F.element_at(ids, i).alias("a"), x.alias("b")
                ),
            ),
        )
    )


def _chain_tree_pairs(ids: Column, s: Column) -> Column:
    """Sorted member array -> O(s) connectivity-preserving pairs:
    chain (i, i+1) keeps locally-adjacent (most-likely-to-verify) pairs;
    tree (i//2, i) caps the component diameter at O(log s) so union-find
    converges in logarithmically many rounds even for a mega-bucket (a
    chain alone would need O(s) label-propagation rounds — fatal at 10^12
    docs). Identical pair set to the round-1 rank-join construction."""
    chain = F.zip_with(
        F.slice(ids, 1, s - 1),
        F.slice(ids, 2, s - 1),
        lambda x, y: F.struct(x.alias("a"), y.alias("b")),
    )
    tree = F.transform(
        F.sequence(F.lit(2), s),
        lambda i: F.struct(
            F.element_at(ids, F.floor(i / 2).cast("int")).alias("a"),
            F.element_at(ids, i).alias("b"),
        ),
    )
    return F.concat(chain, tree)


def candidate_pairs(
    bands: DataFrame,
    cfg: DedupConfig,
) -> DataFrame:
    """(doc_id, band, bucket) -> distinct candidate (a, b) with a < b."""
    if cfg.pair_strategy == "windowed":
        return _candidate_pairs_windowed(bands, cfg)
    return _candidate_pairs_grouped(bands, cfg)


def _candidate_pairs_grouped(bands: DataFrame, cfg: DedupConfig) -> DataFrame:
    """One exchange: hash-agg to sorted member arrays, emit pairs natively.

    CASE branches are evaluated lazily per row, so a mega-bucket never
    materializes its O(s²) all-pairs array — only the O(s) chain+tree.
    """
    cap = cfg.bucket_pair_cap
    grouped = (
        bands.groupBy("band", "bucket")
        .agg(F.sort_array(F.collect_list("doc_id")).alias("ids"))
        .where(F.size("ids") >= 2)
    )
    ids = F.col("ids")
    s = F.size(ids)
    pairs_arr = F.when(s <= cap, _all_pairs(ids, s)).otherwise(_chain_tree_pairs(ids, s))
    return (
        grouped.select(F.explode(pairs_arr).alias("p"))
        .select(F.col("p.a").alias("a"), F.col("p.b").alias("b"))
        .dropDuplicates(["a", "b"])
    )


def _candidate_pairs_windowed(bands: DataFrame, cfg: DedupConfig) -> DataFrame:
    """Round-1 strategy: window size-tag + rank, self-join for small
    buckets, rank-joins for the chain+tree of over-cap buckets. Bounded
    per-row memory; two exchanges + a sort. Emits the same pair set as the
    grouped strategy (verified in tests/test_candidates.py)."""
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


def candidate_pairs_two_sided(
    left_bands: DataFrame,
    right_bands: DataFrame,
    cfg: DedupConfig,
) -> DataFrame:
    """left×right candidate pairs: (a, b) with a < b, a from either side.

    The streaming increment's new×all probe (and any query-vs-corpus J1
    join): an equi-join on (band, bucket) between two band tables — never
    the all-accumulated self-join.

    Skew: AQE skew-join only SPLITS oversized partitions, it does not
    reduce pair count — a degenerate (boilerplate) bucket in the
    accumulated store would otherwise emit O(new_in_bucket × old_bucket)
    pairs, growing without bound as the store grows. The right (corpus)
    side is therefore capped at ``bucket_pair_cap`` members per
    (band, bucket) via a rank filter on doc_id: every probe links to the
    same lowest-id anchor members, which the batch path's chain+tree
    already connected among themselves — connectivity is preserved, pair
    count per probe is bounded. (Caveat, mirrored from the batch cap: a
    true dup whose only collision is an over-cap bucket verifies only if
    it also matches an anchor — boilerplate buckets are mutually similar,
    so this holds in practice and is the same trade the batch path makes.)
    """
    w = Window.partitionBy("band", "bucket").orderBy("doc_id")
    r = (
        right_bands.select("band", "bucket", "doc_id")
        .withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= cfg.bucket_pair_cap)
        .select("band", "bucket", F.col("doc_id").alias("r_id"))
    )
    l = left_bands.select("band", "bucket", F.col("doc_id").alias("l_id"))
    return (
        l.join(r, ["band", "bucket"])
        .where(F.col("l_id") != F.col("r_id"))
        .select(
            F.least("l_id", "r_id").alias("a"),
            F.greatest("l_id", "r_id").alias("b"),
        )
        .dropDuplicates(["a", "b"])
    )


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
