"""The traced run: per-layer metrics for ``--trace 1``.

Layers are the modules on the extraction path: ``session``, ``extract``,
``dom``, ``convert``, ``serialize`` and ``checkpoint``.  Spark-side layers
are measured by traced passes of the workload's step and by passes that run
one layer's public function alone (the checkpointed job among them); the
per-document layers are timed in this process on a seeded sample (see
:func:`tracing.sample_layers`).
"""

from __future__ import annotations

import os
import random
import statistics

from perfbench import corpus, procs, tracing, workloads

MB = 1e6
TRACED_PASSES = 3
SMALL_SAMPLE = 45
GIANT_SAMPLE = 2


def traced(ctx, spark, untraced: dict) -> dict:
    """Per-layer metrics of one workload, from its live session.

    ``ctx`` carries the run's arguments, corpus manifests, set-up timings,
    verdict and work directory; ``untraced`` the end-to-end metrics the
    untraced passes produced.
    ``extract.scaling_eff`` is completed by :func:`scaling` after this
    session is stopped.
    """
    tracer = tracing.Tracer()
    manifest, cores = ctx.manifest, ctx.cores
    sc = spark.sparkContext
    m: dict[str, float] = {
        "session.get_spark_s": statistics.median(a for a, _b in ctx.setups),
        "session.worker_warmup_s": statistics.median(b for _a, b in ctx.setups),
        "session.jvm_peak_rss_mb": ctx.peak_jvm / MB,
    }

    with tracer.span("workload", workload=ctx.workload):
        passes = []
        for i in range(TRACED_PASSES):
            sc.setJobGroup(f"extract-{i}", "traced extraction")
            with tracer.span("extract.extract_spans"):
                res = ctx.step(spark, by_partition=True)
            res["tasks"] = workloads.job_tasks(spark, f"extract-{i}")[1]
            ctx.check(res)
            passes.append(res)
        sc.setJobGroup("layers", "layer passes")
        with tracer.span("extract.html_assembly_expr"):
            m["extract.assemble_s"] = statistics.median(
                workloads.assemble_s(spark, manifest["path"]) for _ in range(TRACED_PASSES)
            )
        with tracer.span("extract.salted_repartition"):
            m["extract.repartition_s"] = statistics.median(
                workloads.repartition_s(spark, manifest["path"], workloads.PARTITIONS_PER_CORE * cores)
                for _ in range(TRACED_PASSES)
            )
        with tracer.span("scaling.local_n"):
            m["_scaling_rate_n"] = scaling_rate(spark, ctx.scaling_manifest)
        m.update(checkpoint(ctx, spark, tracer))

    mid = sorted(passes, key=lambda r: r["wall_s"])[len(passes) // 2]
    m["extract.stage_s"] = mid["wall_s"]
    m["extract.udf_core_s"] = mid["wall_us"] / 1e6
    m["extract.overhead_share"] = 1 - m["extract.udf_core_s"] / (cores * mid["wall_s"])
    m["extract.tasks"] = mid["tasks"]
    m["extract.in_mb"] = mid["in_bytes"] / MB
    m["extract.out_mb"] = mid["out_bytes"] / MB
    m["extract.partition_skew"], m["extract.max_partition_s"] = workloads.partition_stats(mid["groups"])

    with tracer.span("layers.sample"):
        layers = tracing.sample_layers(tracer, layer_sample(ctx.seed))
    small, giant = layers["small"], layers["giant"]
    m["dom.parse_us_per_doc"] = small["us_per_doc"]["dom.parse_html"]
    m["dom.collect_matches_us_per_doc"] = small["us_per_doc"]["dom.collect_matches"]
    m["dom.parse_us_per_kb_small"] = small["parse_us_per_kb"]
    m["dom.parse_us_per_kb_giant"] = giant["parse_us_per_kb"]
    m["convert.cleanup_us_per_doc"] = small["us_per_doc"]["convert.cleanup_html"]
    m["convert.preprocess_us_per_doc"] = small["self_us_per_doc"]["convert.preprocess"]
    m["convert.postprocess_us_per_doc"] = small["us_per_doc"]["convert.postprocess_markdown"]
    m["serialize.to_markdown_us_per_doc"] = small["us_per_doc"]["serialize.to_markdown"]
    m["extract.segment_us_per_doc"] = small["us_per_doc"]["extract.markdown_to_spans"]

    verdict = ctx.verdict
    m["convert.fallback_ratio"] = verdict.fallbacks / verdict.checked
    m["check.span_equal_ratio"] = verdict.equal / verdict.checked
    m["check.error_ratio"] = verdict.errors / verdict.checked
    traced_rate = statistics.median(r["docs"] / r["wall_s"] for r in passes)
    m["trace.overhead_docs_per_s"] = untraced["docs_per_s"] - traced_rate
    tracer.dump(os.path.join(ctx.work, f"trace-{ctx.workload}-{ctx.seed}.json"))
    return m


def checkpoint(ctx, spark, tracer) -> dict:
    """The checkpoint layer: ``run_extraction_job`` (what ``job.py --stage
    extract`` calls) over the checkpoint corpus; a full job, a crash that
    loses the last ledger entry, a resume, and the bare extraction of the
    same corpus for ``overhead_x``."""
    manifest = ctx.checkpoint_manifest
    with tracer.span("checkpoint.run_extraction_job"):
        job = workloads.job_step(spark, manifest, os.path.join(ctx.work, "checkpoint-traced"), group="ckpt")
    ctx.check(job, manifest)
    jobs, tasks = workloads.job_tasks(spark, "ckpt")
    sc = spark.sparkContext
    sc.setJobGroup("ckpt-bare", "bare extraction of the checkpoint corpus")
    bare = workloads.extract_step(spark, manifest)
    ctx.check(bare, manifest)
    bucket_ms = sorted(job["bucket_ms"])
    return {
        "checkpoint.overhead_x": job["wall_s"] / bare["wall_s"],
        "checkpoint.bucket_ms_p50": statistics.median(bucket_ms),
        "checkpoint.bucket_ms_max": bucket_ms[-1],
        "checkpoint.spark_jobs": jobs,
        "checkpoint.tasks": tasks,
        "checkpoint.files_written": job["files_written"],
        "checkpoint.written_mb": job["written_bytes"] / MB,
        "checkpoint.resume_s": job["resume_s"],
        "checkpoint.completed_buckets_s": job["completed_buckets_s"],
        "checkpoint.buckets_redone": job["buckets_redone"],
    }


def layer_sample(seed: int) -> dict:
    """Seeded (html, base_url) samples per document size class: small
    fixture pages, and giants of 0.5–4 MB."""
    from fetch_engines_spark.fixtures import FIXTURES_BY_ID

    rng = random.Random(f"sample:{seed}")
    ids = corpus.fixture_ids()
    small = [(FIXTURES_BY_ID[f].html, FIXTURES_BY_ID[f].base_url) for f in rng.choices(ids, k=SMALL_SAMPLE)]
    giants = [
        (corpus.giant_html(f, rng.choice(corpus.GIANT_MB)), FIXTURES_BY_ID[f].base_url)
        for f in rng.sample(ids, GIANT_SAMPLE)
    ]
    return {"small": small, "giant": giants}


def scaling_rate(spark, manifest: dict) -> float:
    """Median docs/s of the uniform step over the scaling corpus."""
    workloads.extract_step(spark, manifest)
    runs = [workloads.extract_step(spark, manifest) for _ in range(TRACED_PASSES)]
    return statistics.median(r["docs"] / r["wall_s"] for r in runs)


def scaling(manifest: dict, cores: int, rate_n: float) -> float:
    """Scaling efficiency: docs/s at local[nproc] over nproc × docs/s at
    local[1], the latter measured here in a fresh JVM."""
    spark, _a, _b = procs.start_session("local[1]", "perfbench-scaling")
    try:
        rate_1 = scaling_rate(spark, manifest)
    finally:
        procs.stop_session(spark)
    return rate_n / (cores * rate_1)
