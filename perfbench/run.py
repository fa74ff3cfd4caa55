"""Extraction benchmark: one closed-loop process, one workload per run.

    python3 perfbench/run.py --workload extract_uniform --seed 1 --seconds 8 --trace 0

Workloads (see BENCHMARK.json for why each exists):

- ``extract_uniform``  fixture pages replicated evenly;
  ``extract_spans(keep_markdown=False)`` plus the check aggregate
- ``extract_hot``      the same pages, 30% of rows on a few hot doc_ids;
  ``extract_spans(num_partitions=4 × nproc, keep_markdown=False)`` plus
  the check aggregate, so ``salted_repartition``'s shuffle runs

The run sets up ``local[nproc]`` twice, each time in a fresh JVM, then
times its step for ``--seconds`` seconds, one Spark job at a time, and
checks every output.  The last stdout line is one JSON object: ``correct``,
``attempted`` and ``failed`` count documents, and ``metrics`` holds the
end-to-end metrics (``--trace 0``) or the per-layer metrics (``--trace 1``).
A run whose outputs fail a check reports ``correct: false`` and no metrics.

Everything it writes stays under ``.bench_work/`` and ``.bench_cache/`` in
the checkout.  Exits non-zero, printing no result, when the program
(``fetch_engines_spark``) is not beside it.
"""

from __future__ import annotations

import argparse
import ctypes
import json
import os
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".bench_work")
CACHE = os.path.join(ROOT, ".bench_cache")

WORKLOADS = ("extract_uniform", "extract_hot")
SETUPS = 2
# untimed warm-up: passes until this many seconds have gone (at least one)
WARMUP_S = 2.0
# timed passes: until --seconds have gone, and at least this many
MIN_PASSES = 3
MB = 1e6
PR_SET_CHILD_SUBREAPER = 36


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def configure_env() -> None:
    """Keep every file Spark, the JVM and the workers write inside WORK."""
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_GRAFT_LOCAL_DIR"] = os.path.join(WORK, "spark-local")
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        # no hsperfdata file: the JVM would write it under /tmp regardless
        f"--driver-java-options '-Djava.io.tmpdir={tmp} -XX:-UsePerfData' "
        f"--conf spark.sql.warehouse.dir={os.path.join(WORK, 'warehouse')} "
        "--conf spark.ui.showConsoleProgress=false pyspark-shell"
    )
    os.environ.setdefault("PYSPARK_PYTHON", sys.executable)
    import tempfile

    tempfile.tempdir = tmp


def become_subreaper() -> None:
    """Adopt orphaned grandchildren (e.g. Python workers outliving their
    JVM), so the final reap sees and waits for every process started."""
    try:
        ctypes.CDLL(None, use_errno=True).prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0)
    except (OSError, AttributeError):
        pass


def timed_loop(seconds: float, min_passes: int, step) -> list[dict]:
    """Run ``step`` back to back until ``seconds`` have passed and it has
    run at least ``min_passes`` times."""
    results = []
    start = time.perf_counter()
    while len(results) < min_passes or time.perf_counter() - start < seconds:
        results.append(step())
    return results


class Run:
    """State of one benchmark run: its inputs, set-ups and check tally."""

    def __init__(self, args):
        from perfbench import checks, corpus, procs, workloads

        self.workload = args.workload
        self.seed = args.seed
        self.seconds = args.seconds
        self.trace = bool(args.trace)
        self.work = WORK
        self.cores = procs.nproc()
        self.manifest = corpus.build(self.workload, self.seed, CACHE)
        self.num_partitions = workloads.PARTITIONS_PER_CORE * self.cores if self.workload == "extract_hot" else None
        if self.trace:
            self.scaling_manifest = corpus.build("scaling", self.seed, CACHE)
            self.checkpoint_manifest = corpus.build("checkpoint", self.seed, CACHE)
        self.verdict = checks.Verdict(checks.expected_hashes(ROOT))
        self.problems: list[str] = []
        self.setups: list[tuple[float, float]] = []
        self.peak_jvm = 0

    def check(self, res: dict, manifest: dict | None = None) -> None:
        self.verdict.add_groups(res["groups"], (manifest or self.manifest)["keys"])
        self.problems.extend(res.get("problems", ()))

    def step(self, spark, by_partition: bool = False) -> dict:
        from perfbench import workloads

        return workloads.extract_step(spark, self.manifest, self.num_partitions, by_partition)

    def timed_step(self, spark) -> dict:
        res = self.step(spark)
        self.check(res)
        return res


def metric_units(trace: bool) -> dict[str, str]:
    """Name → unit of every metric the run reports, from BENCHMARK.json."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    return {m["name"]: m["unit"] for m in spec["per_layer" if trace else "end_to_end"]}


def run(args) -> dict:
    from perfbench import layers, procs

    units = metric_units(bool(args.trace))
    ctx = Run(args)
    spark = None
    t_start = time.perf_counter()
    cpu_start = procs.cpu_ticks()
    try:
        for _ in range(SETUPS):
            if spark is not None:
                procs.stop_session(spark)
            spark, get_spark_s, warmup_s = procs.start_session(
                f"local[{ctx.cores}]", f"perfbench-{ctx.workload}"
            )
            ctx.setups.append((get_spark_s, warmup_s))
        with procs.RssSampler() as rss:
            # untimed warm-up passes of the same step; outputs not counted
            timed_loop(WARMUP_S, 1, lambda: ctx.step(spark))
            t_warm = time.perf_counter()
            rss.mark()
            results = timed_loop(ctx.seconds, MIN_PASSES, lambda: ctx.timed_step(spark))
            peak_workers, ctx.peak_jvm = rss.peaks()
            t_timed = time.perf_counter()
        metrics = {
            "setup_s": statistics.median(a + b for a, b in ctx.setups),
            "docs_per_s": statistics.median(r["docs"] / r["wall_s"] for r in results),
            "input_mb_per_s": statistics.median(r["in_bytes"] / MB / r["wall_s"] for r in results),
            "peak_worker_rss_mb": peak_workers / MB,
        }
        print(
            f"# {ctx.workload} seed={ctx.seed} passes={len(results)} "
            f"docs/pass={results[0]['docs']} "
            f"setups={[(round(a, 2), round(b, 2)) for a, b in ctx.setups]} "
            f"walls={[round(r['wall_s'], 3) for r in results]} jvm_rss_mb={ctx.peak_jvm / MB:.0f} "
            f"elapsed: setup+warm-up={t_warm - t_start:.1f}s timed={t_timed - t_warm:.1f}s "
            f"steal={procs.steal_share(cpu_start, procs.cpu_ticks()):.1%}",
            file=sys.stderr,
        )
        if ctx.trace:
            metrics = layers.traced(ctx, spark, metrics)
    finally:
        if spark is not None:
            procs.stop_session(spark)
    if ctx.trace:
        metrics["extract.scaling_eff"] = layers.scaling(
            ctx.scaling_manifest, ctx.cores, metrics.pop("_scaling_rate_n")
        )

    for p in ctx.problems + ctx.verdict.problems:
        print(f"# check failed: {p}", file=sys.stderr)
    correct = ctx.verdict.ok() and not ctx.problems
    return {
        "correct": correct,
        "attempted": max(1, ctx.verdict.checked),
        "failed": 0 if correct else max(1, ctx.verdict.failed),
        "metrics": {k: {"value": metrics[k], "unit": u} for k, u in units.items()} if correct else {},
    }


def main(argv=None) -> int:
    args = parse_args(sys.argv[1:] if argv is None else argv)
    if not os.path.isdir(os.path.join(ROOT, "fetch_engines_spark")):
        print(f"error: no fetch_engines_spark package beside {HERE}", file=sys.stderr)
        return 2
    configure_env()
    become_subreaper()
    sys.path.insert(0, ROOT)
    from perfbench import procs

    try:
        result = run(args)
    except Exception:
        # the program (or a check) crashed: report a failed run
        traceback.print_exc()
        result = {"correct": False, "attempted": 1, "failed": 1, "metrics": {}}
    finally:
        procs.reap_children()
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
