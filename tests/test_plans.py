"""Physical-plan quality gates: the plans must stay the plans we designed
(pushed filters, broadcast dim joins, pruned scans) — regression guard for
100 TB behavior, checked at tiny scale.
"""

import pytest

import __spark_entry__ as entrymod

SF = "/root/testdata/sf0.001"


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


def test_embedding_topk_broadcasts_queries(spark):
    df = entrymod.queries()["embedding_topk"](spark, SF)
    plan = plan_of(df)
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan


def test_embedding_candidate_pairs_has_no_cartesian(spark):
    """Multi-table LSH dedup must candidate via bucket equi-joins — never a
    cross/nested-loop join over the corpus (the all-pairs anti-pattern that
    cannot survive 10^9 vectors)."""
    df = entrymod.queries()["dedup_embedding"](spark, SF)
    plan = plan_of(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_embedding_capped_pairs_no_cartesian_single_arrow(spark):
    """The degenerate-bucket-capped embedding join keeps the equi-join
    shape: no cross/nested-loop joins, and the bucket matmul runs ONCE —
    the materialized index feeds every branch (the downstream plan reads
    the checkpointed RDD; without it the Arrow stage appeared 4x)."""
    df = entrymod.queries()["dedup_embedding_capped"](spark, SF)
    plan = plan_of(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "BatchEvalPython" not in plan  # never row-at-a-time Python
    assert "ArrowEvalPython" not in plan  # bucket index pre-materialized
    assert "ExistingRDD" in plan

    # ...and the index computation itself is exactly one Arrow stage
    from fetch_engines_spark.pipelines.similarity import lsh_buckets_vectorized

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    idx_plan = plan_of(lsh_buckets_vectorized(emb, 8, 8, 64))
    assert idx_plan.count("ArrowEvalPython") == 1
    assert "Exchange" not in idx_plan  # embarrassingly parallel map stage


def test_lsh_topk_multi_candidates_are_equi_joins(spark):
    """Scale-config ANN flagship: the candidate stage must be bucket
    equi-joins with the query side broadcast — never a corpus-wide
    nested-loop — and scoring happens on the candidate set, not L copies
    of the corpus."""
    df = entrymod.queries()["embedding_topk_lsh"](spark, SF)
    plan = plan_of(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "BroadcastHashJoin" in plan


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
    df = entrymod.queries()["dedup_minhash_capped"](spark, SF)
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
    df = entrymod.queries()["dedup_simhash_capped"](spark, SF)
    plan = plan_of(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # signatures materialize through the checkpoint, so the returned
    # plan contains NO live Python stage at all
    for marker in ("MapInArrow", "MapInPandas", "ArrowEvalPython", "BatchEvalPython"):
        assert marker not in plan
    assert "ExistingRDD" in plan  # localCheckpoint-materialized signatures


def test_structured_validation_is_native_columns(spark):
    """The NoObjectGenerated taxonomy must be pure JVM columns (from_json
    twice) — no Python stage."""
    df = entrymod.queries()["structured_validation"](spark, SF)
    plan = plan_of(df)
    for marker in ("MapInArrow", "MapInPandas", "ArrowEvalPython", "BatchEvalPython"):
        assert marker not in plan


def test_jsonl_ingest_single_scan_no_inference(spark):
    """Schema-enforced JSONL: one text scan + from_json — no sampling/
    inference pass (a second full read at 100 TB)."""
    df = entrymod.queries()["jsonl_ingest"](spark, SF)
    plan = plan_of(df)
    assert plan.count("FileScan") == 1, plan


def test_repetition_features_is_shuffle_free_native(spark):
    """Gopher repetition signals must run inside the scan stage: zero
    exchanges, zero Python — pure higher-order functions per document."""
    df = entrymod.queries()["text_repetition"](spark, SF)
    plan = plan_of(df)
    assert "Exchange" not in plan, plan
    for marker in ("MapInArrow", "MapInPandas", "ArrowEvalPython", "BatchEvalPython"):
        assert marker not in plan


def test_dedup_substring_shape(spark):
    """Substring dedup: per-doc distinct windows BEFORE the explode (no
    dedup shuffle), one partial-agg'd count, one equi-join — and no
    cartesian/python anywhere."""
    df = entrymod.queries()["dedup_substring"](spark, SF)
    plan = plan_of(df)
    assert "CartesianProduct" not in plan
    assert "partial_count" in plan  # map-side combine on the window freq
    for marker in ("MapInArrow", "MapInPandas", "ArrowEvalPython", "BatchEvalPython"):
        assert marker not in plan


def test_url_queries_native_single_agg(spark):
    """URL canonicalization is pure native columns; domain stats is one
    map-side-combinable aggregation."""
    plan = plan_of(entrymod.queries()["url_canonicalize"](spark, SF))
    assert "Exchange" not in plan and "Python" not in plan, plan
    plan2 = plan_of(entrymod.queries()["url_domain_stats"](spark, SF))
    for marker in ("MapInArrow", "MapInPandas", "ArrowEvalPython", "BatchEvalPython"):
        assert marker not in plan2


def test_pq_topk_broadcast_lookups_no_cartesian(spark):
    """PQ ADC scoring must be broadcast equi-joins on the code columns —
    the corpus never shuffles and there is no cartesian/python stage."""
    df = entrymod.queries()["embedding_topk_pq"](spark, SF)
    plan = plan_of(df)
    assert "CartesianProduct" not in plan
    for marker in ("MapInArrow", "MapInPandas", "ArrowEvalPython", "BatchEvalPython"):
        assert marker not in plan
    assert "BroadcastHashJoin" in plan


def test_fuzzy_decontamination_corpus_never_sort_merge_joins(spark):
    """Every join in the fuzzy-decontamination plan must be broadcast
    (bench band index, candidate-id semi-join, candidate pairs, bench
    shingles): a SortMergeJoin here means the 10^12-doc corpus shuffles
    on doc_id just to keep a benchmark-bounded candidate set."""
    df = entrymod.queries()["decontaminate_fuzzy"](spark, SF)
    plan = plan_of(df)
    assert "SortMergeJoin" not in plan
    assert plan.count("BroadcastHashJoin") >= 4


def test_lsh_topk_allpairs_does_not_broadcast_corpus(spark):
    """lsh_topk in all-pairs mode (query_ids=None): the query side IS the
    corpus, so it must not carry a FORCED broadcast hint — a hint there
    ships the whole corpus to every executor regardless of its size and
    dies at scale.  (Catalyst may still auto-broadcast a side it MEASURES
    as small — that is correct and size-bounded, so the gate inspects the
    analyzed plan for the hint, not the physical join choice.)  With a
    bounded query list the explicit broadcast IS the right plan."""
    from fetch_engines_spark.pipelines.similarity import lsh_topk

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")

    def analyzed(df) -> str:
        return df._jdf.queryExecution().analyzed().toString()

    assert "hint" not in analyzed(lsh_topk(emb, k=3, num_planes=2, dims=8)).lower()
    bounded = lsh_topk(emb, k=3, num_planes=2, dims=8, query_ids=[0, 1])
    assert "hint" in analyzed(bounded).lower()
    assert "BroadcastHashJoin" in plan_of(bounded)


def test_resource_blocking_is_shuffle_free_native(spark):
    """S5 blocking verdicts are one compiled rlike + isin riding the
    scan: zero Exchange, zero Python — the blocklist never becomes a
    join."""
    df = entrymod.queries()["resource_blocking"](spark, SF)
    plan = plan_of(df)
    assert "Exchange" not in plan, plan
    for marker in ("MapInArrow", "MapInPandas", "ArrowEvalPython", "BatchEvalPython"):
        assert marker not in plan


def test_banded_hamming_pairs_no_cartesian_jvm_verify(spark):
    """Image/audio near-dup pair generation: candidate join is a bucketed
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


def test_canonicalize_media_refs_broadcast_rewrite(spark):
    """The media-span rewrite: the canonical-map join against the
    exploded spans must BROADCAST (the map carries only media needing
    rewrite — never a shuffle of the span stream on media_ref), no
    cartesian anywhere, and the rewrite itself is pure JVM (no Python
    stage — the frame input here is a plain DataFrame)."""
    from fetch_engines_spark.pipelines.multimodal import canonicalize_media_refs

    docs = spark.createDataFrame(
        [("d1", [("text", "x", None, 0)])],
        "doc_id string, spans array<struct<kind:string,text:string,media_ref:string,offset:int>>",
    )
    cmap = spark.createDataFrame(
        [("a", "b")], "media_ref string, canonical_ref string"
    )
    plan = plan_of(canonicalize_media_refs(docs, cmap))
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    for marker in ("MapInArrow", "MapInPandas", "ArrowEvalPython", "BatchEvalPython"):
        assert marker not in plan
    # media_ref must never be a shuffle key (the span stream shuffles
    # only for doc_id re-assembly)
    assert "hashpartitioning(_ref" not in plan and "hashpartitioning(media_ref" not in plan


def test_semantic_dedup_no_python_and_codebook_broadcast(spark):
    """SemDeDup's plan: k-means codebook + assignment are pure JVM
    expressions over a broadcast 1-row codebook (the only cross join is
    that broadcast), the within-cell compare is the shared capped
    equi-join — no Python stages, no cartesian/nested-loop pair join."""
    df = entrymod.queries()["dedup_semantic"](spark, SF)
    plan = plan_of(df)
    assert "CartesianProduct" not in plan
    for marker in ("MapInArrow", "MapInPandas", "ArrowEvalPython", "BatchEvalPython"):
        assert marker not in plan
    # the codebook rides as a broadcast row; the corpus-side pair join is
    # hash-partitioned on cell, never nested-loop over the corpus
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan
    assert "ExistingRDD" in plan  # localCheckpoint-materialized centroids


def test_bloom_gate_is_native_equi_join(spark):
    """The bloom membership test is one equi-join on word_id + one
    combinable groupBy — no Python stages, no cartesian, and the literal
    mask array is constant-folded into the projection."""
    df = entrymod.queries()["dedup_bloom_gate"](spark, SF)
    plan = plan_of(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    for marker in ("MapInArrow", "MapInPandas", "ArrowEvalPython", "BatchEvalPython"):
        assert marker not in plan


def test_bm25_topk_is_take_ordered_no_shuffle_scoring(spark):
    """BM25's corpus side is ONE projection over the scan (per-term
    size(filter(...)) — no explode, no shuffle); stats are a 1-row
    broadcast; the top-k compiles to TakeOrderedAndProject, so the
    corpus is never globally sorted."""
    df = entrymod.queries()["doc_bm25_topk"](spark, SF)
    plan = plan_of(df)
    assert "TakeOrderedAndProject" in plan
    assert "CartesianProduct" not in plan
    assert "Generate" not in plan  # no explode in the scoring path
    for marker in ("MapInArrow", "MapInPandas", "ArrowEvalPython", "BatchEvalPython"):
        assert marker not in plan


def test_boilerplate_strip_is_native_equi_join(spark):
    """Boilerplate-span removal: explode + combinable distinct-doc count +
    one equi-join on the text hash + one reassembly groupBy — no Python
    stages, no cartesian."""
    df = entrymod.queries()["spans_boilerplate_strip"](spark, SF)
    plan = plan_of(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    for marker in ("MapInArrow", "MapInPandas", "ArrowEvalPython", "BatchEvalPython"):
        assert marker not in plan


def test_mixture_sample_bucketed_rank_no_stratum_wide_window(spark):
    """Round-6 fix of the round-5 weak flag: the exact rank window must
    partition by (stratum, md5-prefix bucket) — thousands of uniform
    keys — never by the stratum alone (one reducer sorting a whole
    stratum at 100 TB).  Bucket offsets + caps ride as a
    BroadcastHashJoin build side; the corpus shuffles once for the
    bucketed window."""
    df = entrymod.queries()["mixture_sample"](spark, SF)
    plan = plan_of(df)
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    # exactly one corpus rank window, and it is bucket-partitioned
    assert plan.count("Window [row_number()") == 1
    import re

    m = re.search(r"Window \[row_number\(\).*?windowspecdefinition\(([^)]*)\)", plan)
    assert m and "__mix_bucket" in m.group(1), plan[:2000]
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
