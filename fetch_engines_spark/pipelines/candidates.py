"""Shared bucketed candidate-pair join with the degenerate-bucket skew guard.

Every bucketed near-duplicate candidate generator in this engine — MinHash
LSH bands (``dedup._pairs_from_buckets``) and SimHash pigeonhole blocks
(``dedup.simhash_candidate_pairs64``) — reduces to the same primitive: a
self-equi-join inside (bucket-key) groups, emitting ordered id pairs.  And
every one of them has the same 100 TB failure mode: a single degenerate
bucket (thousands of byte-identical boilerplate docs, blank images, empty
documents) makes the in-bucket join quadratic on ONE key, which no amount
of cluster parallelism survives.

This module is the one shared implementation of that join plus its guard,
so a new bucketed generator cannot ship without the cap again (the defect
class shipped three times before being factored here).

Guard semantics (``max_bucket_size``): buckets at or under the cap join
pairwise as usual; buckets over the cap route to a LINEAR star path — rows
are grouped by ``sig_col`` (a full-signature digest: byte-identical inputs
share it) and each row pairs only with its signature-group's minimum id.
Giant buckets are overwhelmingly signature-identical rows, so the star
captures them with n-1 pairs; signature-distinct strangers in a giant
bucket are dropped there (documented recall tradeoff — recoverable via the
other bands/tables/blocks).  Worst-case pairwise work per bucket is cap²,
independent of data skew.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def _in_bucket_join(left: DataFrame, key_cols: list[str], id_col: str) -> DataFrame:
    """Ordered-pair self-equi-join on the bucket key columns."""
    cond = F.col(f"l.{id_col}") < F.col(f"r.{id_col}")
    for k in key_cols:
        cond = (F.col(f"l.{k}") == F.col(f"r.{k}")) & cond
    return left.alias("l").join(left.alias("r"), cond)


def bucket_pairs(
    buckets: DataFrame,
    key_cols: list[str],
    id_col: str,
    sig_col: str | None = None,
    max_bucket_size: int | None = None,
    out_a: str = "id_a",
    out_b: str = "id_b",
    carry_cols: list[str] | None = None,
) -> DataFrame:
    """Distinct ordered id pairs co-bucketed on ``key_cols``.

    ``buckets`` has one row per (id, bucket) assignment; a pair is emitted
    when two ids share ALL ``key_cols`` values (in any bucket row).  With
    ``max_bucket_size`` set, oversized buckets take the linear
    signature-star path instead of the quadratic self-join (see module
    docstring); ``sig_col`` (full-signature digest column, required when
    capped) keys the star groups.

    ``carry_cols`` rides per-id payload columns through the join as
    ``{col}_a`` / ``{col}_b`` output columns — the downstream verify
    stage (e.g. SimHash hamming) then needs NO join back to the
    signature table (two shuffles saved).  Contract: each carried column
    must be functionally determined by ``sig_col`` (true for signature
    components — the star path reads the rep's carry from its
    signature-identical group).

    Scale shape: one shuffle on the bucket key for the join (plus one
    window count over the same key when capped — same partitioning, reused
    by AQE); never all-pairs.
    """
    carry = carry_cols or []

    def _sides(joined):
        return joined.select(
            F.col(f"l.{id_col}").alias(out_a),
            F.col(f"r.{id_col}").alias(out_b),
            *[F.col(f"l.{c}").alias(f"{c}_a") for c in carry],
            *[F.col(f"r.{c}").alias(f"{c}_b") for c in carry],
        )

    if max_bucket_size is None:
        return _sides(_in_bucket_join(buckets, key_cols, id_col)).distinct()
    if sig_col is None:
        raise ValueError(
            "max_bucket_size requires sig_col (full-signature digest) for the star path"
        )
    sized = buckets.withColumn(
        "bucket_n", F.count("*").over(Window.partitionBy(*key_cols))
    )
    small = sized.filter(F.col("bucket_n") <= max_bucket_size).drop("bucket_n", sig_col)
    small_pairs = _sides(_in_bucket_join(small, key_cols, id_col))
    big = sized.filter(F.col("bucket_n") > max_bucket_size)
    reps = big.groupBy(*key_cols, sig_col).agg(
        F.min(id_col).alias("rep"),
        # carried cols are sig-determined, so min == the group's value
        *[F.min(c).alias(f"__rep_{c}") for c in carry],
    )
    star_pairs = (
        big.join(reps, [*key_cols, sig_col])
        .filter(F.col(id_col) != F.col("rep"))
        .select(
            F.col("rep").alias(out_a),
            F.col(id_col).alias(out_b),
            *[F.col(f"__rep_{c}").alias(f"{c}_a") for c in carry],
            *[F.col(c).alias(f"{c}_b") for c in carry],
        )
    )
    return small_pairs.unionByName(star_pairs).distinct()

