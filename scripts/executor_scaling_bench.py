"""Executor-scaling evidence (north_rule: N vs 4N *executors*): run E
independent executor processes — each its own JVM (fresh SparkSession,
local[cores]) with its own Python-worker pool — over E disjoint shards of
the SAME corpus, all timed over a file-barrier-synchronized window.

This is the closest single-box simulation of a multi-executor cluster:
unlike local[8] vs local[32] in one JVM, each "executor" here has private
JVM heap, GC, shuffle machinery, and Python workers; only the machine's
cores/memory bus are shared (as they would NOT be on a real cluster, where
4N executors bring 4N× the memory bandwidth — see BENCH/BASELINE.md).

Usage: python scripts/executor_scaling_bench.py [n_docs] [cores_per_exec] [exec_counts...]
Default: 256000 docs, 8 cores/executor, 1 vs 4 executors.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import tempfile
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

_CHILD = r"""
import json, os, sys, time
sys.path.insert(0, {repo!r})
from pyspark.sql import functions as F
from fetch_engines_spark.extract import extract_spans
from fetch_engines_spark.session import get_spark

exec_id, n_execs, cores, corpus, barrier_dir = (
    int(sys.argv[1]), int(sys.argv[2]), int(sys.argv[3]), sys.argv[4], sys.argv[5]
)
spark = get_spark(app_name=f"exec-{{exec_id}}", master=f"local[{{cores}}]",
                  shuffle_partitions=max(cores, 8))
spark.sparkContext.setLogLevel("ERROR")

# read ONLY this executor's input split (pre-sharded directories): a
# filter over the full corpus would make every executor scan + Arrow-decode
# all N shards and discard N-1 of them — work a real cluster never does.
# No heap persist either: a deserialized in-heap cache makes the timed run
# GC-bound at high core counts and measures the cache, not the engine.
n_shards = int(sys.argv[6])
per = n_shards // n_execs
paths = [f"{{corpus}}/shard={{s}}" for s in range(exec_id * per, (exec_id + 1) * per)]
shard = spark.read.parquet(*paths)
n = shard.count()

# warmup: spin up Python workers / Arrow / codegen on every core
extract_spans(shard.limit(cores * 512), num_partitions=cores,
              keep_markdown=False).agg(F.count("*")).collect()

# barrier: signal ready, wait for the parent's go-file
open(os.path.join(barrier_dir, f"ready-{{exec_id}}"), "w").write("1")
go = os.path.join(barrier_dir, "go")
while not os.path.exists(go):
    time.sleep(0.05)

best, errs = None, 0
for _ in range(3):  # best-of-3
    t0 = time.time()
    stats = (
        extract_spans(shard, num_partitions=None, keep_markdown=False)
        .agg(F.count("*").alias("n"),
             F.sum(F.when(F.col("error").isNotNull(), 1).otherwise(0)).alias("errs"))
        .collect()[0]
    )
    wall = time.time() - t0
    assert stats.n == n, (stats.n, n)
    errs = int(stats.errs)
    if best is None or wall < best:
        best = wall
print("RESULT " + json.dumps({{"exec_id": exec_id, "docs": n, "sec": round(best, 3),
                               "errors": errs}}))
"""


def extraction_corpus(spark, n_docs: int):
    """Deterministic replicated fixture corpus with a skew tail: every
    500th replica carries its page body ×40 (multi-hundred-KB documents),
    so the run exercises the salted repartition's straggler behavior
    (FIXTURES.md synthesis rule)."""
    from pyspark.sql import functions as F

    from fetch_engines_spark.extract import INPUT_SCHEMA
    from fetch_engines_spark.fixtures import EXTRACTION_FIXTURE_IDS, fixture_document_rows

    replicas = max(1, n_docs // len(EXTRACTION_FIXTURE_IDS))
    base = spark.createDataFrame(
        [r for r in fixture_document_rows() if r["doc_id"] in EXTRACTION_FIXTURE_IDS],
        INPUT_SCHEMA,
    )
    # cross join with a replica index → n_docs rows, same page content;
    # skewed replicas repeat the html span text 40 times
    idx = spark.range(replicas).select(F.col("id").alias("replica"))
    spans = F.when(
        F.col("replica") % 500 == 0,
        F.transform(
            F.col("spans"),
            lambda s: F.struct(
                s["kind"].alias("kind"),
                F.when(
                    s["kind"] == "html", F.repeat(s["text"], 40)
                ).otherwise(s["text"]).alias("text"),
                s["media_ref"].alias("media_ref"),
                s["offset"].alias("offset"),
            ),
        ),
    ).otherwise(F.col("spans"))
    return base.crossJoin(idx).select(
        F.concat_ws("#", "doc_id", "replica").alias("doc_id"),
        "base_url",
        "canonical_url",
        spans.alias("spans"),
    )


def build_corpus(n_docs: int, n_shards: int) -> str:
    """Materialize the corpus once, pre-sharded into per-executor
    input splits (directory partitions → partition pruning), exactly like
    a cluster handing each executor its own splits."""
    sys.path.insert(0, REPO)
    from perfbench.corpus import fixture_content_hash

    base = "/dev/shm" if os.path.isdir("/dev/shm") else tempfile.gettempdir()
    # keyed by fixture content: a stale corpus must not survive a fixture edit
    path = os.path.join(
        base, f"fes_exec_corpus_{n_docs}_{n_shards}_{fixture_content_hash()[:10]}"
    )
    if os.path.exists(os.path.join(path, "_SUCCESS")):
        return path
    from pyspark.sql import functions as F

    from fetch_engines_spark.session import get_spark

    spark = get_spark(app_name="corpus-build", master="local[16]", shuffle_partitions=32)
    spark.sparkContext.setLogLevel("ERROR")
    (
        extraction_corpus(spark, n_docs)
        .withColumn("shard", F.pmod(F.xxhash64("doc_id"), F.lit(n_shards)))
        # round-robin repartition: every task holds rows of every shard, so
        # each shard directory gets 32 files — repartitioning BY the 4-valued
        # shard column would leave one giant file (= one read task) per shard
        .repartition(32)
        .write.mode("overwrite")
        .partitionBy("shard")
        .parquet(path)
    )
    spark.stop()
    return path


def run_level(n_execs: int, cores: int, corpus: str, n_shards: int) -> dict:
    with tempfile.TemporaryDirectory() as barrier_dir:
        code = _CHILD.format(repo=REPO)
        # each executor is pinned to its own disjoint core slice — exactly
        # the resource isolation a real cluster gives an executor
        total = os.cpu_count() or (n_execs * cores)
        procs = []
        for i in range(n_execs):
            cmd = [sys.executable, "-c", code, str(i), str(n_execs), str(cores), corpus, barrier_dir, str(n_shards)]
            lo = i * cores
            if lo + cores <= total:
                cmd = ["taskset", "-c", f"{lo}-{lo + cores - 1}"] + cmd
            env = dict(os.environ)
            # size the executor JVM's GC/JIT thread pools for ITS cores,
            # not the machine's — exactly what a containerized executor gets
            env["JAVA_TOOL_OPTIONS"] = (
                env.get("JAVA_TOOL_OPTIONS", "") + f" -XX:ActiveProcessorCount={cores}"
            ).strip()
            procs.append(
                subprocess.Popen(
                    cmd,
                    stdout=subprocess.PIPE,
                    stderr=subprocess.DEVNULL,
                    text=True,
                    cwd=REPO,
                    env=env,
                )
            )
        deadline = time.time() + 900
        while time.time() < deadline:
            ready = [f for f in os.listdir(barrier_dir) if f.startswith("ready-")]
            if len(ready) == n_execs:
                break
            if any(p.poll() is not None for p in procs):
                raise RuntimeError("an executor died before the barrier")
            time.sleep(0.1)
        t0 = time.time()
        open(os.path.join(barrier_dir, "go"), "w").write("1")
        results = []
        for p in procs:
            out, _ = p.communicate(timeout=1800)
            for line in out.splitlines():
                if line.startswith("RESULT "):
                    results.append(json.loads(line[len("RESULT "):]))
        window = time.time() - t0
    total_docs = sum(r["docs"] for r in results)
    errors = sum(r["errors"] for r in results)
    # level time = slowest executor's in-child wall: every child starts at
    # the shared go-file, so max(child wall) is the true makespan (the
    # parent-side window additionally counts JVM teardown + IPC)
    slowest = max(r["sec"] for r in results)
    return {
        "executors": n_execs,
        "cores_per_executor": cores,
        "docs": total_docs,
        "slowest_exec_sec": slowest,
        "window_sec": round(window, 3),
        "docs_per_sec": round(total_docs / slowest, 1),
        "errors": errors,
    }


def main() -> None:
    n_docs = int(sys.argv[1]) if len(sys.argv) > 1 else 256_000
    cores = int(sys.argv[2]) if len(sys.argv) > 2 else 8
    counts = [int(x) for x in sys.argv[3:]] or [1, 4]
    n_shards = max(counts)
    assert all(n_shards % c == 0 for c in counts), "executor counts must divide the max"
    corpus = build_corpus(n_docs, n_shards)
    results = {c: run_level(c, cores, corpus, n_shards) for c in counts}
    report: dict = {"n_docs": n_docs, "levels": results}
    pairs = [(a, b) for a in counts for b in counts if b == 4 * a]
    report["scaling_efficiency"] = {
        f"{a}x{cores} -> {b}x{cores} executors": round(
            (results[b]["docs_per_sec"] / results[a]["docs_per_sec"]) / (b / a), 3
        )
        for a, b in pairs
    }
    print(json.dumps(report, indent=2))


if __name__ == "__main__":
    main()
