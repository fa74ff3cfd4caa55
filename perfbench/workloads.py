"""The timed step of each workload, and the traced run's extra passes
(the checkpointed job among them).

Every step builds a fresh DataFrame plan over the parquet input (so no
exchange or cache from an earlier iteration is reused), runs it to
completion, and returns what the correctness gate and the metrics need.
"""

from __future__ import annotations

import os
import shutil
import statistics
import time

import pyarrow.parquet as pq

from perfbench import checks
from perfbench.corpus import key_of

# the traced run's checkpointed job: buckets per job, and the share of
# ledger entries a crash loses (rounded up: one of two)
N_BUCKETS = 2
LOST_SHARE = 0.25
RUN_ID = "bench"
# salted_repartition's partition count per core: extract_hot's
# num_partitions, and the traced run's repartition pass
PARTITIONS_PER_CORE = 4


def span_groups(out, by_partition: bool = False):
    """Aggregate extraction output into (key, span hash, error) groups with
    the byte and UDF-time sums; optionally also by Spark partition."""
    from pyspark.sql import functions as F

    keys = [
        F.substring_index("doc_id", "#", 1).alias("key"),
        checks.spans_hash_expr().alias("h"),
        F.col("error"),
    ]
    if by_partition:
        keys.append(F.spark_partition_id().alias("pid"))
    return out.groupBy(*keys).agg(
        F.count("*").alias("n"),
        F.sum("in_bytes").alias("in_bytes"),
        F.sum("out_bytes").alias("out_bytes"),
        F.sum("wall_us").alias("wall_us"),
    )


def _groups_by_key(per_doc) -> list[dict]:
    """Fold per-doc_id rows into the (key, h, error) groups of span_groups."""
    groups: dict[tuple, dict] = {}
    for r in per_doc:
        g = groups.setdefault(
            (key_of(r.doc_id), r.h, r.error),
            {"n": 0, "in_bytes": 0, "out_bytes": 0, "wall_us": 0},
        )
        for k in g:
            g[k] += r[k] or 0
    return [{"key": k, "h": h, "error": e, **g} for (k, h, e), g in groups.items()]


def _summarize(rows, wall: float) -> dict:
    rows = [r if isinstance(r, dict) else r.asDict() for r in rows]
    return {
        "wall_s": wall,
        "docs": sum(r["n"] for r in rows),
        "in_bytes": sum(r["in_bytes"] or 0 for r in rows),
        "out_bytes": sum(r["out_bytes"] or 0 for r in rows),
        "wall_us": sum(r["wall_us"] or 0 for r in rows),
        "groups": rows,
    }


def extract_step(spark, manifest: dict, num_partitions: int | None = None, by_partition: bool = False) -> dict:
    """Extraction plus the check aggregate; with ``num_partitions`` the
    input goes through ``salted_repartition`` first."""
    from fetch_engines_spark.extract import extract_spans

    t0 = time.perf_counter()
    out = extract_spans(spark.read.parquet(manifest["path"]), num_partitions=num_partitions, keep_markdown=False)
    rows = span_groups(out, by_partition).collect()
    return _summarize(rows, time.perf_counter() - t0)


def ledger_entries(root: str) -> list[tuple[int, int, str, dict]]:
    """(updated_at, bucket, file, row) per ledger row, in completion order."""
    ledger = os.path.join(root, "partition_ledger")
    entries = []
    for name in sorted(os.listdir(ledger)):
        if name.startswith((".", "_")):
            continue
        path = os.path.join(ledger, name)
        for row in pq.read_table(path).to_pylist():
            entries.append((row["updated_at"], row["bucket"], path, row))
    entries.sort(key=lambda e: (e[0], e[1]))
    return entries


def simulate_crash(root: str) -> list[int]:
    """Drop the last quarter of the ledger entries, as if the job died after
    writing those buckets' outputs but before recording them.  Returns the
    lost buckets."""
    entries = ledger_entries(root)
    n_lost = max(1, round(len(entries) * LOST_SHARE))
    lost = entries[-n_lost:]
    lost_files = {e[2] for e in lost}
    kept_files = {e[2] for e in entries[:-n_lost]}
    if lost_files & kept_files:
        raise RuntimeError("a ledger file holds both lost and kept entries")
    for path in lost_files:
        os.remove(path)
        crc = os.path.join(os.path.dirname(path), f".{os.path.basename(path)}.crc")
        if os.path.exists(crc):
            os.remove(crc)
    return sorted(e[1] for e in lost)


def job_step(spark, manifest: dict, root: str, group: str | None = None) -> dict:
    """Full checkpointed job, crash, resume, then read back."""
    from pyspark.sql import functions as F

    from fetch_engines_spark.checkpoint import run_extraction_job

    shutil.rmtree(root, ignore_errors=True)
    sc = spark.sparkContext
    if group:
        sc.setJobGroup(group, "checkpointed job")
    t0 = time.perf_counter()
    full = run_extraction_job(spark, spark.read.parquet(manifest["path"]), root, RUN_ID, n_buckets=N_BUCKETS)
    job_s = time.perf_counter() - t0
    if group:
        sc.setJobGroup(group + "-after", "untimed")
    files, written = _walk_data_files(root)
    bucket_ms = [e[3]["wall_ms"] for e in ledger_entries(root)]
    lost = simulate_crash(root)

    t1 = time.perf_counter()
    done = {r.bucket for r in _completed(spark, root).collect()}
    completed_s = time.perf_counter() - t1

    t2 = time.perf_counter()
    resumed = run_extraction_job(spark, spark.read.parquet(manifest["path"]), root, RUN_ID, n_buckets=N_BUCKETS)
    resume_s = time.perf_counter() - t2

    # one read-back: per doc_id, how often it was written and what it holds
    outputs = spark.read.parquet(os.path.join(root, "outputs")).filter(F.col("run_id") == RUN_ID)
    per_doc = (
        outputs.groupBy("doc_id")
        .agg(
            F.count("*").alias("n"),
            F.first(checks.spans_hash_expr()).alias("h"),
            F.first("error").alias("error"),
            F.sum("in_bytes").alias("in_bytes"),
            F.sum("out_bytes").alias("out_bytes"),
            F.sum("wall_us").alias("wall_us"),
        )
        .collect()
    )
    shutil.rmtree(root, ignore_errors=True)
    rows = _groups_by_key(per_doc)

    problems = []
    if full["processed_buckets"] != N_BUCKETS or full["skipped_buckets"] != 0:
        problems.append(f"full run summary {full}")
    if set(done) != set(range(N_BUCKETS)) - set(lost):
        problems.append(f"ledger after crash holds {sorted(done)}, lost {lost}")
    if resumed["processed_buckets"] != len(lost) or resumed["skipped_buckets"] != N_BUCKETS - len(lost):
        problems.append(f"resume redid {resumed['processed_buckets']} buckets, lost {len(lost)}")
    dup = [r.doc_id for r in per_doc if r.n > 1]
    if dup:
        problems.append(f"duplicated doc_ids in outputs: {dup[:5]}")
    if len(per_doc) != manifest["distinct_doc_ids"]:
        problems.append(f"outputs hold {len(per_doc)} doc_ids, input {manifest['distinct_doc_ids']}")
    res = _summarize(rows, job_s)
    res.update(
        resume_s=resume_s,
        completed_buckets_s=completed_s,
        buckets_redone=resumed["processed_buckets"],
        bucket_ms=bucket_ms,
        files_written=files,
        written_bytes=written,
        problems=problems,
    )
    return res


def _completed(spark, root: str):
    from fetch_engines_spark.checkpoint import completed_buckets

    return completed_buckets(spark, root, RUN_ID, n_buckets=N_BUCKETS)


def _walk_data_files(root: str) -> tuple[int, int]:
    files = size = 0
    for dirpath, _dirs, names in os.walk(root):
        for name in names:
            if not name.startswith((".", "_")):
                files += 1
                size += os.path.getsize(os.path.join(dirpath, name))
    return files, size


def job_tasks(spark, group: str) -> tuple[int, int]:
    """(jobs, tasks) the status tracker recorded for a job group."""
    tracker = spark.sparkContext.statusTracker()
    jobs = tasks = 0
    for job_id in tracker.getJobIdsForGroup(group):
        info = tracker.getJobInfo(job_id)
        if info is None:
            continue
        jobs += 1
        for stage_id in info.stageIds:
            stage = tracker.getStageInfo(stage_id)
            if stage is not None:
                tasks += stage.numTasks
    return jobs, tasks


def assemble_s(spark, path: str) -> float:
    """The JVM-side html assembly projection, timed alone."""
    from pyspark.sql import functions as F

    from fetch_engines_spark.extract import html_assembly_expr

    t0 = time.perf_counter()
    spark.read.parquet(path).select(F.sum(F.length(html_assembly_expr()))).collect()
    return time.perf_counter() - t0


def repartition_s(spark, path: str, partitions: int) -> float:
    """salted_repartition materialized alone, into the no-op sink."""
    from fetch_engines_spark.extract import salted_repartition

    t0 = time.perf_counter()
    salted_repartition(spark.read.parquet(path), partitions).write.format("noop").mode("overwrite").save()
    return time.perf_counter() - t0


def partition_stats(groups: list[dict]) -> tuple[float, float]:
    """(max / median per-partition UDF time, max per-partition seconds)."""
    per: dict[int, int] = {}
    for g in groups:
        per[g["pid"]] = per.get(g["pid"], 0) + (g["wall_us"] or 0)
    values = sorted(per.values())
    med = statistics.median(values)
    return (values[-1] / med if med else 0.0), values[-1] / 1e6
