"""Checkpoint / lineage / resume plumbing (north_rule requirement).

The reference's in-memory URL-keyed TTL cache (reference:
src/PlaywrightEngine.ts:249-260, 484-492) becomes, at batch scale, a
checkpoint ledger table: work is split into deterministic doc_id-hash
buckets; each completed bucket appends a ledger row with row-count/byte
metrics; resume anti-joins the input against completed buckets so failed
runs never recompute finished work.

The sink format is pluggable (``table_format``): this sandbox ships no
Iceberg runtime, so parquet is the default; with iceberg-spark-runtime on
the classpath the same layout writes as Iceberg tables (the ledger/resume
logic is format-agnostic).

Layout under ``<root>/``:
- ``outputs/``           extracted spans, parquet, partitioned by bucket
- ``partition_ledger/``  one row per completed (run_id, bucket)
- ``metrics/``           per-Spark-partition lineage rows per (run_id, bucket)
"""

from __future__ import annotations

import time

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from contextlib import contextmanager

from .extract import extract_spans


@contextmanager
def _dynamic_partition_overwrite(spark: SparkSession):
    key = "spark.sql.sources.partitionOverwriteMode"
    prev = spark.conf.get(key, "static")
    spark.conf.set(key, "dynamic")
    try:
        yield
    finally:
        spark.conf.set(key, prev)

LEDGER_SCHEMA = StructType(
    [
        StructField("run_id", StringType()),
        StructField("bucket", IntegerType()),
        StructField("n_buckets", IntegerType()),
        StructField("doc_count", LongType()),
        StructField("byte_count", LongType()),
        StructField("wall_ms", LongType()),
        StructField("status", StringType()),
        StructField("updated_at", LongType()),  # epoch millis
    ]
)

METRICS_SCHEMA = StructType(
    [
        StructField("run_id", StringType()),
        StructField("bucket", IntegerType()),
        StructField("partition_id", IntegerType()),
        StructField("doc_count", LongType()),
        StructField("byte_count", LongType()),
        StructField("error_count", LongType()),
        StructField("wall_us_sum", LongType()),
    ]
)


def _ledger_frame(spark: SparkSession, rows: list[tuple]) -> DataFrame:
    """``LEDGER_SCHEMA`` rows as a DataFrame decoded JVM-side from Arrow.

    ``createDataFrame`` over a list of rows runs Python tasks, which start a
    Python worker for nothing more than a ledger row; an Arrow table is
    decoded by the JVM, so the extract stage runs Python only in its
    ``mapInArrow``.
    """
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    schema = to_arrow_schema(LEDGER_SCHEMA)
    table = pa.Table.from_pylist([dict(zip(schema.names, r)) for r in rows], schema=schema)
    return spark.createDataFrame(table, LEDGER_SCHEMA)


def _holds_data(spark: SparkSession, path: str) -> bool:
    """Whether ``path`` exists and lists an entry that is not hidden (names
    starting with ``_`` or ``.``, which Spark's file listing skips)."""
    jvm = spark.sparkContext._jvm
    hpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = hpath.getFileSystem(spark.sparkContext._jsc.hadoopConfiguration())
    if not fs.exists(hpath):
        return False
    return any(
        not st.getPath().getName().startswith(("_", ".")) for st in fs.listStatus(hpath)
    )


def with_bucket(df: DataFrame, n_buckets: int) -> DataFrame:
    return df.withColumn("bucket", F.pmod(F.xxhash64("doc_id"), F.lit(n_buckets)).cast("int"))


def completed_buckets(
    spark: SparkSession,
    root: str,
    run_id: str,
    table_format: str = "parquet",
    n_buckets: int | None = None,
) -> DataFrame:
    """Buckets already marked done for this run (empty df if no ledger yet).

    A ledger directory that is missing, or holds only hidden entries (a
    crash during the first append leaves just ``_temporary/``), means no
    ledger yet; any other load error propagates, so a corrupt ledger stops
    the job instead of making it redo every bucket.

    When ``n_buckets`` is given, fail fast if the ledger recorded a
    different bucketing for this run_id: bucket ids from a different
    n_buckets denote different document sets, so silently reusing them
    would skip or double-process documents.
    """
    path = f"{root}/partition_ledger"
    if not _holds_data(spark, path):
        return _ledger_frame(spark, []).select("bucket")
    ledger = spark.read.format(table_format).load(path)
    mine = ledger.filter((F.col("run_id") == run_id) & (F.col("status") == "done"))
    if n_buckets is not None and "n_buckets" in ledger.columns:
        mismatched = (
            mine.filter(F.col("n_buckets").isNotNull() & (F.col("n_buckets") != n_buckets))
            .limit(1)
            .count()
        )
        if mismatched:
            raise ValueError(
                f"run_id={run_id!r} has ledger rows with a different n_buckets "
                f"than the requested {n_buckets}; resume with the original "
                f"n_buckets or use a new run_id"
            )
    return mine.select("bucket").distinct()


def run_extraction_job(
    spark: SparkSession,
    documents: DataFrame,
    root: str,
    run_id: str,
    n_buckets: int = 8,
    num_partitions: int | None = None,
    keep_markdown: bool = False,
    table_format: str = "parquet",
    max_content_length: int | None = None,
) -> dict:
    """Resumable extraction: bucket the corpus, anti-join completed buckets,
    ledger the remaining empty buckets in one append, then commit each
    remaining non-empty bucket as outputs + metrics + one ledger row.

    Returns summary dict {processed_buckets, skipped_buckets, doc_count}.
    """
    docs = with_bucket(documents, n_buckets)
    done = completed_buckets(spark, root, run_id, table_format, n_buckets=n_buckets)
    done_set = {r.bucket for r in done.collect()}  # tiny: one int per bucket
    todo = sorted(set(range(n_buckets)) - done_set)

    def append_ledger(rows):
        _ledger_frame(spark, rows).write.mode("append").format(
            table_format
        ).save(f"{root}/partition_ledger")

    def overwrite_bucket(df, table):
        # dynamic partition overwrite makes bucket writes idempotent: if a
        # run crashed AFTER writing outputs or metrics but BEFORE the ledger
        # append, the rerun replaces that (run_id, bucket) partition instead
        # of appending duplicates; other runs' partitions are untouched
        with _dynamic_partition_overwrite(spark):
            df.write.mode("overwrite").partitionBy("run_id", "bucket").format(
                table_format
            ).save(f"{root}/{table}")

    occupied = set()
    if todo:
        # one pass over doc_id finds the buckets that hold documents; every
        # other remaining bucket is done with zero counts, in one append
        occupied = {r.bucket for r in docs.select("bucket").distinct().collect()}
        now = int(time.time() * 1000)
        empty = [(run_id, b, n_buckets, 0, 0, 0, "done", now) for b in todo if b not in occupied]
        if empty:
            append_ledger(empty)

    total_docs = 0
    for bucket in (b for b in todo if b in occupied):
        t0 = time.time()
        out = extract_spans(
            docs.filter(F.col("bucket") == bucket).drop("bucket"),
            num_partitions=num_partitions,
            keep_markdown=keep_markdown,
            max_content_length=max_content_length,
        )
        totals = Observation()  # the ledger's counts, taken from the write
        overwrite_bucket(
            out.withColumn("run_id", F.lit(run_id))
            .withColumn("bucket", F.lit(bucket))
            .withColumn("partition_id", F.spark_partition_id())
            .observe(
                totals,
                F.count(F.lit(1)).alias("n"),
                F.coalesce(F.sum("out_bytes"), F.lit(0)).alias("b"),
            ),
            "outputs",
        )
        written = (
            spark.read.format(table_format)
            .load(f"{root}/outputs")
            .filter((F.col("bucket") == bucket) & (F.col("run_id") == run_id))
        )
        overwrite_bucket(
            written.groupBy("run_id", "bucket", "partition_id")
            .agg(
                F.count("*").alias("doc_count"),
                F.sum("out_bytes").alias("byte_count"),
                F.sum(F.when(F.col("error").isNotNull(), 1).otherwise(0)).alias("error_count"),
                F.sum("wall_us").alias("wall_us_sum"),
            )
            .select([f.name for f in METRICS_SCHEMA.fields]),
            "metrics",
        )
        stats = totals.get
        wall_ms = int((time.time() - t0) * 1000)
        append_ledger(
            [(run_id, bucket, n_buckets, stats["n"], stats["b"], wall_ms, "done", int(time.time() * 1000))]
        )
        total_docs += stats["n"]

    return {
        "processed_buckets": len(todo),
        "skipped_buckets": len(done_set),
        "doc_count": total_docs,
    }
