"""Checkpoint ledger / resume tests (north_rule: resumable with
per-partition lineage + metrics)."""

import pytest
from py4j.protocol import Py4JJavaError
from pyspark.sql import functions as F

from fetch_engines_spark.checkpoint import (
    LEDGER_SCHEMA,
    completed_buckets,
    run_extraction_job,
    with_bucket,
)
from fetch_engines_spark.extract import INPUT_SCHEMA
from fetch_engines_spark.fixtures import fixture_document_rows


@pytest.fixture()
def documents(spark):
    return spark.createDataFrame(fixture_document_rows(replicas=3), INPUT_SCHEMA)


def test_full_run_writes_outputs_ledger_metrics(spark, documents, tmp_path):
    root = str(tmp_path / "ckpt")
    summary = run_extraction_job(spark, documents, root, run_id="r1", n_buckets=4)
    assert summary["processed_buckets"] == 4
    assert summary["skipped_buckets"] == 0
    out = spark.read.parquet(f"{root}/outputs")
    assert out.count() == documents.count()
    ledger = spark.read.parquet(f"{root}/partition_ledger")
    assert ledger.schema == LEDGER_SCHEMA
    assert ledger.filter("status = 'done'").count() == 4
    assert ledger.agg(F.sum("doc_count")).collect()[0][0] == documents.count()
    metrics = spark.read.parquet(f"{root}/metrics")
    assert metrics.agg(F.sum("doc_count")).collect()[0][0] == documents.count()
    assert metrics.filter("error_count > 0").count() == 0


def test_resume_skips_completed_buckets(spark, documents, tmp_path):
    root = str(tmp_path / "ckpt")
    # First run: only buckets 0-1 get "done" (simulate by running with the
    # docs filtered to those buckets, which writes their ledger rows).
    docs_b = with_bucket(documents, 4)
    partial = docs_b.filter(F.col("bucket") <= 1).drop("bucket")
    run_extraction_job(spark, partial, root, run_id="r2", n_buckets=4)
    done_before = {r.bucket for r in completed_buckets(spark, root, "r2").collect()}
    assert done_before == {0, 1, 2, 3} - set()  # all 4 buckets ran (over subset)

    # A fresh full run under the same run_id must skip all completed buckets.
    summary = run_extraction_job(spark, documents, root, run_id="r2", n_buckets=4)
    assert summary["processed_buckets"] == 0
    assert summary["skipped_buckets"] == 4


def test_resume_processes_only_missing_buckets(spark, documents, tmp_path):
    root = str(tmp_path / "ckpt")
    import pyspark.sql.functions as SF

    # Pre-mark buckets 0 and 2 as done with a hand-written ledger.
    ledger = spark.createDataFrame(
        [("r3", 0, 4, 0, 0, 0, "done", 0), ("r3", 2, 4, 0, 0, 0, "done", 0)],
        "run_id string, bucket int, n_buckets int, doc_count long, byte_count long, wall_ms long, status string, updated_at long",
    )
    ledger.write.mode("append").parquet(f"{root}/partition_ledger")
    summary = run_extraction_job(spark, documents, root, run_id="r3", n_buckets=4)
    assert summary["processed_buckets"] == 2
    assert summary["skipped_buckets"] == 2
    out = spark.read.parquet(f"{root}/outputs")
    processed_buckets = {r.bucket for r in out.select("bucket").distinct().collect()}
    assert processed_buckets == {1, 3}
    expected = with_bucket(documents, 4).filter(SF.col("bucket").isin(1, 3)).count()
    assert out.count() == expected


def test_different_run_id_does_not_skip(spark, documents, tmp_path):
    root = str(tmp_path / "ckpt")
    run_extraction_job(spark, documents, root, run_id="a", n_buckets=2)
    summary = run_extraction_job(spark, documents, root, run_id="b", n_buckets=2)
    assert summary["processed_buckets"] == 2


def test_crash_between_outputs_and_ledger_does_not_duplicate(spark, documents, tmp_path):
    """Crash-window resume: outputs written but ledger append lost → the
    rerun must REPLACE the bucket's outputs (dynamic partition overwrite),
    not append duplicates."""
    root = str(tmp_path / "ckpt")
    run_extraction_job(spark, documents, root, run_id="crash", n_buckets=2)
    before = spark.read.parquet(f"{root}/outputs").count()

    # simulate the crash window: drop bucket 1's ledger row (outputs remain)
    ledger = spark.read.parquet(f"{root}/partition_ledger")
    kept = ledger.filter(~((F.col("run_id") == "crash") & (F.col("bucket") == 1)))
    kept_rows = kept.collect()
    import shutil

    shutil.rmtree(f"{root}/partition_ledger")
    spark.createDataFrame(kept_rows, ledger.schema).write.parquet(f"{root}/partition_ledger")

    summary = run_extraction_job(spark, documents, root, run_id="crash", n_buckets=2)
    assert summary["processed_buckets"] == 1  # only the "crashed" bucket
    out = spark.read.parquet(f"{root}/outputs")
    assert out.count() == before  # no duplicates
    assert out.groupBy("doc_id").count().filter("count > 1").count() == 0
    # metrics lineage must not double-count the reprocessed bucket either:
    # exactly one metrics row per (run_id, bucket, partition_id)
    metrics = spark.read.parquet(f"{root}/metrics")
    dup_metrics = (
        metrics.groupBy("run_id", "bucket", "partition_id").count().filter("count > 1")
    )
    assert dup_metrics.count() == 0
    assert metrics.agg(F.sum("doc_count")).collect()[0][0] == documents.count()


@pytest.mark.parametrize("n_docs", [3, 0])
def test_empty_buckets_on_fresh_root_complete(spark, documents, tmp_path, n_docs):
    """ADVICE repro: a tiny corpus with n_buckets >> docs used to crash with
    UNABLE_TO_INFER_SCHEMA when the first bucket was empty on a fresh root;
    empty buckets must ledger as done with zero counts and the job must
    finish.  Empty buckets cost no Spark job of their own, so the run
    issues fewer Spark jobs than it has buckets."""
    root = str(tmp_path / "ckpt")
    tiny = documents.limit(n_docs)
    sc = spark.sparkContext
    group = f"empty-buckets-{n_docs}"
    sc.setJobGroup(group, "64 buckets over a tiny corpus")
    try:
        summary = run_extraction_job(spark, tiny, root, run_id="tiny", n_buckets=64)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert len(sc.statusTracker().getJobIdsForGroup(group)) < 64
    assert summary["processed_buckets"] == 64
    ledger = spark.read.parquet(f"{root}/partition_ledger")
    assert ledger.filter("status = 'done'").count() == 64
    assert ledger.agg(F.sum("doc_count")).collect()[0][0] == n_docs
    occupied = with_bucket(tiny, 64).select("bucket").distinct().count()
    assert ledger.filter("doc_count = 0 AND byte_count = 0").count() == 64 - occupied
    # rerun resumes cleanly: everything already done
    summary2 = run_extraction_job(spark, tiny, root, run_id="tiny", n_buckets=64)
    assert summary2["processed_buckets"] == 0
    assert summary2["skipped_buckets"] == 64


@pytest.mark.parametrize("layout", ["missing", "hidden_only"])
def test_completed_buckets_without_ledger_data_is_empty(spark, tmp_path, layout):
    """A missing ledger, or one holding only hidden entries (a crash during
    the first append leaves just ``_temporary/``), reads as no bucket done."""
    root = tmp_path / "ckpt"
    if layout == "hidden_only":
        (root / "partition_ledger" / "_temporary" / "0").mkdir(parents=True)
        (root / "partition_ledger" / "_SUCCESS").write_bytes(b"")
    done = completed_buckets(spark, str(root), "r", n_buckets=4)
    assert done.columns == ["bucket"]
    assert done.collect() == []


def test_corrupt_ledger_fails_the_job(spark, documents, tmp_path):
    """A ledger that exists but cannot be read stops the job; it is not
    taken for "nothing done yet", which would redo every bucket."""
    root = tmp_path / "ckpt"
    (root / "partition_ledger").mkdir(parents=True)
    (root / "partition_ledger" / "part-00000.parquet").write_bytes(b"not a parquet file")
    with pytest.raises(Py4JJavaError, match="CANNOT_READ_FILE_FOOTER"):
        run_extraction_job(spark, documents, str(root), run_id="bad", n_buckets=4)
    assert not (root / "outputs").exists()


def test_resume_with_mismatched_n_buckets_fails_fast(spark, documents, tmp_path):
    root = str(tmp_path / "ckpt")
    run_extraction_job(spark, documents, root, run_id="nb", n_buckets=4)
    with pytest.raises(ValueError, match="n_buckets"):
        run_extraction_job(spark, documents, root, run_id="nb", n_buckets=8)
    # a different run_id with a different bucketing is fine
    summary = run_extraction_job(spark, documents, root, run_id="nb2", n_buckets=8)
    assert summary["processed_buckets"] == 8


def test_dedup_stage_cli_both_methods(spark, tmp_path):
    """The --stage dedup CLI with both candidate generators: MinHash-LSH
    (jaccard-verified) and 64-bit SimHash (hamming-verified, pigeonhole
    candidates) must both catch the planted exact duplicates, cluster
    them, and elect keepers."""
    import os

    from fetch_engines_spark import job

    src = os.path.join(os.path.dirname(__file__), "..", "data", "fixtures", "neardup.parquet")
    for method in ("minhash", "simhash64"):
        args = job.parse_args(
            [
                "--input", src,
                "--output", str(tmp_path / method),
                "--run-id", "t",
                "--stage", "dedup",
                "--dedup-method", method,
                "--minhash-perms", "24",
                "--band-size", "2",
            ]
        )
        summary = job._run_dedup(spark, args)
        assert summary["method"] == method
        assert summary["n_dup_pairs"] >= 30  # 30 planted exact pairs
        assert summary["n_keepers"] < summary["n_input"]
        clusters = spark.read.parquet(str(tmp_path / method / "clusters"))
        assert clusters.filter("is_keeper").count() < summary["n_input"]
