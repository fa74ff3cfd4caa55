"""Physical-plan quality gates: the plans must stay the plans we designed
(pushed filters, broadcast dim joins, pruned scans) — regression guard for
100 TB behavior, checked at tiny scale.
"""

import os

import __spark_entry__ as entrymod

SF = "/root/testdata/sf0.001"
FIXTURES = os.path.join(os.path.dirname(__file__), "..", "data", "fixtures")


def plan_of(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_resume_anti_join_is_broadcast(spark):
    df = entrymod.queries()["resume_anti_join"](spark, SF)
    plan = plan_of(df)
    assert "LeftAnti" in plan


def test_extraction_plan_is_single_python_stage(spark):
    """Exactly ONE Python boundary (the Arrow extraction stage) — the
    north_rule's one-vectorized-UDF constraint, enforced on the plan — fed
    by the JVM-side html assembly below it."""
    df = entrymod.queries()["extract_spans_fixture"](spark, SF)
    plan = plan_of(df)
    n_python = (
        plan.count("MapInArrow") + plan.count("MapInPandas")
        + plan.count("ArrowEvalPython") + plan.count("BatchEvalPython")
    )
    assert n_python == 1, plan
    assert plan.count("MapInArrow") == 1 and plan.count("MapInPandas") == 0, plan
    below = plan.split("MapInArrow", 1)[1]
    assert "array_join(" in below and "AS html#" in below, plan


def test_classifier_queries_have_no_python(spark):
    for name in ("classifier_shell_score", "classifier_soft_block", "classifier_title_extract"):
        df = entrymod.queries()[name](spark, SF)
        plan = plan_of(df)
        assert "Python" not in plan and "MapInArrow" not in plan, name


def test_minhash_fast_signatures_single_shuffle(spark):
    """Production-parameter signatures+banding: all 128 permutations fold
    into ONE map-side-combinable aggregation — exactly one shuffle keyed
    by doc_id (the aggregation) over the exploded shingles.  A single
    additional exchange is permitted: spread_scan's scale-adaptive
    repartition of an unsplittable input (round 6, keyed by a
    deterministic row hash) — it carries the raw docs, not the exploded
    shingles, and disappears for any input already split to the default
    parallelism."""
    from fetch_engines_spark.pipelines.dedup import minhash_lsh_buckets_fast

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    plan = plan_of(minhash_lsh_buckets_fast(docs, num_hashes=128, band_size=8))
    assert plan.count("Exchange hashpartitioning(doc_id") == 1, plan
    assert plan.count("Exchange") <= 2, plan
    assert "partial_min" in plan  # map-side combine before the shuffle


def test_capped_pairs_no_python_and_no_cartesian(spark):
    from fetch_engines_spark.pipelines.dedup import minhash_candidate_pairs

    docs = spark.read.parquet(f"{FIXTURES}/adversarial.parquet")
    df = minhash_candidate_pairs(docs, num_hashes=4, band_size=2, max_bucket_size=50)
    plan = plan_of(df)
    assert "CartesianProduct" not in plan
    for marker in ("MapInArrow", "MapInPandas", "ArrowEvalPython", "BatchEvalPython"):
        assert marker not in plan


def test_simhash_capped_pairs_no_python_and_no_cartesian(spark):
    """The 64-bit SimHash capped join (shared candidates.bucket_pairs
    guard) keeps the equi-join shape: no cross/nested-loop joins, and —
    like the media near-dup gate — the ONLY Python is the single
    Arrow-batched signature stage (round 6: simhash64_vectorized,
    differential-tested vs the expression reference), which is
    checkpoint-materialized so the join/verify plan itself is pure JVM
    (the checkpointed RDD feeds both join sides and the hamming
    verify)."""
    from fetch_engines_spark.pipelines.dedup import simhash_candidate_pairs64

    docs = spark.read.parquet(f"{FIXTURES}/adversarial.parquet")
    df = simhash_candidate_pairs64(docs, max_hamming=3, max_bucket_size=50)
    plan = plan_of(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # signatures materialize through the checkpoint, so the returned
    # plan contains NO live Python stage at all
    for marker in ("MapInArrow", "MapInPandas", "ArrowEvalPython", "BatchEvalPython"):
        assert marker not in plan
    assert "ExistingRDD" in plan  # localCheckpoint-materialized signatures


def test_fuzzy_decontamination_corpus_never_sort_merge_joins(spark):
    """Every join in the fuzzy-decontamination plan must be broadcast
    (bench band index, candidate-id semi-join, candidate pairs, bench
    shingles): a SortMergeJoin here means the 10^12-doc corpus shuffles
    on doc_id just to keep a benchmark-bounded candidate set."""
    from pyspark.sql import functions as F

    from fetch_engines_spark.pipelines.dedup import decontaminate_fuzzy

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    bench = docs.filter(F.col("doc_id") % 25 == 0).select(
        "doc_id",
        F.expr("substring(text, 1, greatest(length(text) - 30, 50))").alias("text"),
    )
    df = decontaminate_fuzzy(docs, bench, threshold_bp=5000, max_bucket_size=2000)
    plan = plan_of(df)
    assert "SortMergeJoin" not in plan
    assert plan.count("BroadcastHashJoin") >= 4


def test_banded_hamming_pairs_no_cartesian_jvm_verify(spark):
    """Image near-dup pair generation: candidate join is a bucketed
    equi-join (never CartesianProduct/BroadcastNestedLoop), and the
    hamming verify runs JVM-side on carried blocks — after the one
    Arrow stage that computes signatures, NO further Python stage may
    appear (no join back to the signature table either: exactly one
    Arrow marker in the whole plan because the self-join reuses it on
    both sides is wrong — the explode fans one signature scan into both
    join sides, so the marker appears once per side, but never a THIRD
    time for a verify join-back)."""
    from fetch_engines_spark.pipelines.multimodal import (
        dhash_near_dup_pairs,
        image_dhash,
    )

    sigs = image_dhash(
        spark.read.parquet("data/fixtures/images_neardup.parquet")
    )
    plan = plan_of(dhash_near_dup_pairs(sigs))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoop" not in plan
    for marker in ("ArrowEvalPython", "BatchEvalPython"):
        assert marker not in plan
    # the decode+hash Arrow stage feeds both join sides; a third
    # occurrence would mean a redundant signature join-back
    assert plan.count("MapInPandas") <= 2, plan


def test_bloom_gate_is_native_equi_join(spark):
    """The bloom membership test is one equi-join on word_id + one
    combinable groupBy — no Python stages, no cartesian, and the literal
    mask array is constant-folded into the projection."""
    from pyspark.sql import functions as F

    from fetch_engines_spark.pipelines.dedup import bloom_build, bloom_gate

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    hist = docs.filter(F.col("doc_id") < 250).select(F.md5("text").alias("key"))
    bloom = bloom_build(hist, "key", m_bits=2048, k_hashes=3)
    q = docs.select("doc_id", F.md5("text").alias("key"))
    df = bloom_gate(q, bloom, "key", "doc_id", m_bits=2048, k_hashes=3).select(
        "doc_id",
        (F.col("doc_id") < 250).cast("int").alias("in_history"),
        "maybe_present",
    )
    plan = plan_of(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    for marker in ("MapInArrow", "MapInPandas", "ArrowEvalPython", "BatchEvalPython"):
        assert marker not in plan


def test_spread_scan_probe_cache_keys_on_plan(spark, tmp_path):
    """A raw single-file scan and the same scan already repartitioned to
    defaultParallelism read the same files; the probe cache must not hand
    the raw scan's partition count to the repartitioned frame, or
    spread_scan stacks a second Exchange on it."""
    from fetch_engines_spark.pipelines.spread import spread_scan

    path = str(tmp_path / "one_file")
    spark.range(64).coalesce(1).write.parquet(path)
    raw = spark.read.parquet(path)
    target = spark.sparkContext.defaultParallelism
    assert raw.rdd.getNumPartitions() < target

    def n_exchanges(df):
        # a probed (materialized) AQE plan prints final and initial plans
        return plan_of(df).split("== Initial Plan ==")[-1].count("Exchange")

    assert n_exchanges(spread_scan(raw)) == 1  # probes the raw scan
    assert n_exchanges(spread_scan(raw.repartition(target))) == 1
