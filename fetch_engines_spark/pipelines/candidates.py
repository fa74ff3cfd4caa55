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


def cross_bucket_pairs(
    left_buckets: DataFrame,
    right_buckets: DataFrame,
    key_cols: list[str],
    id_col: str,
    sig_col: str | None = None,
    max_bucket_size: int | None = None,
    out_a: str = "id_a",
    out_b: str = "id_b",
) -> DataFrame:
    """Distinct (left_id, right_id) pairs co-bucketed on ``key_cols``
    across TWO bucket tables — the incremental-dedup join (a new crawl
    increment against a persisted corpus index) where the quadratic risk
    is n_left × n_right per bucket.

    Guard semantics (``max_bucket_size``) — STRICTLY bounded, like
    :func:`bucket_pairs`' star path: buckets at or under the cap on
    BOTH sides cross-join fully (≤ cap² pairs).  A bucket oversized on
    EITHER side emits only (a) one rep-to-rep pair per shared
    ``sig_col`` signature group — each such pair is a true
    signature-identical duplicate, and there is at most one per group,
    so this is linear in the number of groups, never n_l × n_r — plus
    (b) a single bucket-representative pair (min id each side) so the
    band-level collision itself stays auditable.  Signature-distinct
    strangers inside an oversized bucket are dropped there (the same
    documented recall tradeoff as bucket_pairs, recoverable via the
    other bands); per-sig collapse — NOT per-sig rep retention — is
    what keeps a signature-DIVERSE hot bucket (n distinct templates
    sharing one band) from reverting to the quadratic join the guard
    exists to prevent."""
    cond = F.lit(True)
    for k in key_cols:
        cond = cond & (F.col(f"l.{k}") == F.col(f"r.{k}"))

    def _ids(joined):
        return (
            joined.filter(F.col(f"l.{id_col}") != F.col(f"r.{id_col}"))
            .select(
                F.col(f"l.{id_col}").alias(out_a), F.col(f"r.{id_col}").alias(out_b)
            )
            .distinct()
        )

    if max_bucket_size is None:
        return _ids(left_buckets.alias("l").join(right_buckets.alias("r"), cond))
    if sig_col is None:
        raise ValueError(
            "max_bucket_size requires sig_col (full-signature digest) for the star path"
        )
    lcnt = left_buckets.groupBy(*key_cols).agg(F.count("*").alias("n_l"))
    rcnt = right_buckets.groupBy(*key_cols).agg(F.count("*").alias("n_r"))
    sizes = lcnt.join(rcnt, key_cols)  # only buckets present on BOTH sides pair
    small_k = sizes.filter(
        (F.col("n_l") <= max_bucket_size) & (F.col("n_r") <= max_bucket_size)
    ).select(*key_cols)
    big_k = sizes.filter(
        (F.col("n_l") > max_bucket_size) | (F.col("n_r") > max_bucket_size)
    ).select(*key_cols)

    ls = left_buckets.join(small_k, key_cols)
    rs = right_buckets.join(small_k, key_cols)
    small_pairs = _ids(ls.alias("l").join(rs.alias("r"), cond))

    lb = left_buckets.join(big_k, key_cols)
    rb = right_buckets.join(big_k, key_cols)
    l_sig = lb.groupBy(*key_cols, sig_col).agg(F.min(id_col).alias(id_col))
    r_sig = rb.groupBy(*key_cols, sig_col).agg(F.min(id_col).alias(id_col))
    sig_cond = cond & (F.col(f"l.{sig_col}") == F.col(f"r.{sig_col}"))
    sig_pairs = _ids(l_sig.alias("l").join(r_sig.alias("r"), sig_cond))
    l_rep = lb.groupBy(*key_cols).agg(F.min(id_col).alias(id_col))
    r_rep = rb.groupBy(*key_cols).agg(F.min(id_col).alias(id_col))
    rep_pairs = _ids(l_rep.alias("l").join(r_rep.alias("r"), cond))
    return small_pairs.unionByName(sig_pairs).unionByName(rep_pairs).distinct()
