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
    guard) keeps the equi-join shape: no cross/nested-loop joins, and
    the ONLY Python is the single Arrow-batched signature stage (round
    6: simhash64_vectorized, differential-tested vs the expression
    reference), which is checkpoint-materialized so the join/verify
    plan itself is pure JVM (the checkpointed RDD feeds both join sides
    and the hamming verify)."""
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
