"""SparkSession factory with the engine's scale-oriented defaults.

Tuned for the extraction workload (BASELINE.json north_rule):
- Arrow batching on, with a bounded ``maxRecordsPerBatch`` so batches of
  giant documents fit executor memory (skew knob named by BASELINE.json).
- AQE on (coalescing + skew-join splitting) for the verification/resume joins.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Documents average ~10-100 KB of HTML; 256 rows/batch keeps an Arrow batch
# in the low tens of MB even with a skewed tail of multi-MB documents.
DEFAULT_ARROW_BATCH = 256


def get_spark(
    app_name: str = "fetch-engines-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    master = master or os.environ.get("SPARK_GRAFT_MASTER", "local[*]")
    # Scan-parallelism floor (guide §6): FileSourceScan computes its split
    # size as max(openCost, min(maxPartitionBytes, totalBytes/minPartitionNum)),
    # so without a floor a 100-200 MB table is read by 1-2 tasks and every
    # map-side aggregation above it serializes on a 32-core node.  The floor
    # is derived from the session's OWN core count (local[N] / env), never a
    # constant, so it scales with the cluster instead of being tuned to one
    # machine; production clusters inherit their full core count the same way.
    min_split = os.environ.get("SPARK_GRAFT_MIN_PARTITION_NUM")
    if min_split is None:
        import re

        m = re.fullmatch(r"local\[(\d+)\]", master)
        if m:
            min_split = m.group(1)
        elif master.startswith("local"):
            min_split = str(os.cpu_count() or 1)
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", str(DEFAULT_ARROW_BATCH))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # InferFiltersFromGenerate synthesizes `size(gen_child)>0 AND
        # isnotnull(gen_child)` above every explode; predicate pushdown then
        # copies that filter below repartitions/exchanges to the scan, where
        # it RE-EVALUATES the generator child per row (guide §4.4's
        # duplicated-evaluation trap, but for native expressions).  For the
        # shingle/token pipelines the generator child is an interpreted
        # higher-order zip_with over the whole document — measured ~2 s of
        # serial scan-side work per 50k docs at sf1.0, re-run on the far
        # side of the exchange anyway.  The rule only short-circuits empty
        # arrays, which the Generate node itself already handles.
        .config(
            "spark.sql.optimizer.excludedRules",
            "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate",
        )
        .config("spark.sql.session.timeZone", "UTC")
        # One Python worker pool per executor: PySpark starts a daemon and
        # its workers per distinct worker env, and SQL runners (mapInArrow)
        # add SPARK_SIMPLIFIED_TRACEBACK=1 where RDD-side Python
        # (createDataFrame from rows) would not.  The value must match what
        # SQL runners add ("1").  Side effect: worker tracebacks stay
        # simplified even with
        # spark.sql.execution.pyspark.udf.simplifiedTraceback.enabled off.
        .config("spark.executorEnv.SPARK_SIMPLIFIED_TRACEBACK", "1")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        # Shuffle/spill to tmpfs when available: on this single-node sandbox
        # the disk becomes the serial bottleneck for the repartition shuffle;
        # a real cluster would use fast local SSDs (override with
        # SPARK_GRAFT_LOCAL_DIR).
        .config(
            "spark.local.dir",
            os.environ.get(
                "SPARK_GRAFT_LOCAL_DIR",
                "/dev/shm/spark-local" if os.path.isdir("/dev/shm") else "/tmp",
            ),
        )
    )
    if min_split is not None:
        builder = builder.config("spark.sql.files.minPartitionNum", min_split)
    if shuffle_partitions is not None:
        builder = builder.config("spark.sql.shuffle.partitions", str(shuffle_partitions))
    else:
        builder = builder.config("spark.sql.shuffle.partitions", "32")
    spark = builder.getOrCreate()
    # Workers may run with a different cwd/sys.path than the driver; ship
    # the package zip so the extraction UDF always unpickles (same
    # mechanism as spark-submit --py-files).
    from .packaging import ship_package

    ship_package(spark)
    return spark
