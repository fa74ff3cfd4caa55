"""Spark session lifetimes in fresh JVMs, and process-tree memory sampling.

Each :func:`start_session` launches a new JVM (the gateway of the previous
one is shut down by :func:`stop_session`), so a set-up time always includes
JVM start, package shipping and Python-worker warm-up.
"""

from __future__ import annotations

import os
import signal
import subprocess
import threading
import time

def nproc() -> int:
    return len(os.sched_getaffinity(0))


def cpu_ticks() -> list[int]:
    """The machine's cumulative CPU time counters (first line of /proc/stat)."""
    with open("/proc/stat") as fh:
        return [int(x) for x in fh.readline().split()[1:]]


def steal_share(before: list[int], after: list[int]) -> float:
    """Share of CPU time the hypervisor gave to other guests in between."""
    delta = [b - a for a, b in zip(before, after)]
    return delta[7] / sum(delta[:8]) if sum(delta[:8]) else 0.0


def descendants(pid: int) -> list[int]:
    """Every live descendant of ``pid`` (children first), from /proc."""
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat", "rb") as fh:
                stat = fh.read()
        except OSError:
            continue
        # the command name may hold spaces; fields resume after its ')'
        ppid = int(stat[stat.rindex(b")") + 2 :].split()[1])
        children.setdefault(ppid, []).append(int(entry))
    out: list[int] = []
    todo = [pid]
    while todo:
        for child in children.get(todo.pop(), []):
            out.append(child)
            todo.append(child)
    return out


def _status_kb(pid: int, field: bytes) -> int:
    with open(f"/proc/{pid}/status", "rb") as fh:
        for line in fh:
            if line.startswith(field):
                return int(line.split()[1])
    return 0


def _is_python(pid: int) -> bool:
    with open(f"/proc/{pid}/cmdline", "rb") as fh:
        return os.path.basename(fh.read().split(b"\0", 1)[0]).startswith(b"python")


class RssSampler:
    """Peak resident memory of the benchmark's child processes.

    The kernel keeps each process's peak RSS (``VmHWM``); ``mark()`` resets
    it for every descendant, and a background thread re-reads it twice a
    second so processes that exit are still counted.  ``peaks()`` returns
    the sums of those per-process peaks, split into (Python workers, the
    rest: the JVM), in bytes.
    """

    def __init__(self, interval_s: float = 0.5):
        self.interval_s = interval_s
        self._lock = threading.Lock()
        self._hwm: dict[int, tuple[bool, int]] = {}
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, name="rss-sampler", daemon=True)

    def _sample(self) -> None:
        for pid in descendants(os.getpid()):
            try:
                entry = (_is_python(pid), _status_kb(pid, b"VmHWM:") * 1024)
            except (OSError, IndexError, ValueError):
                continue
            with self._lock:
                old = self._hwm.get(pid)
                if old is None or entry[1] > old[1]:
                    self._hwm[pid] = entry

    def _run(self) -> None:
        while not self._stop.wait(self.interval_s):
            self._sample()

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)

    def mark(self) -> None:
        with self._lock:
            self._hwm.clear()
            for pid in descendants(os.getpid()):
                try:
                    with open(f"/proc/{pid}/clear_refs", "w") as fh:
                        fh.write("5")  # reset the peak RSS to the current RSS
                except OSError:
                    pass

    def peaks(self) -> tuple[int, int]:
        self._sample()
        with self._lock:
            workers = sum(v for py, v in self._hwm.values() if py)
            rest = sum(v for py, v in self._hwm.values() if not py)
        return workers, rest


def warm_workers(spark, n: int) -> None:
    """Run the extraction stage once per core so every Python worker has
    forked, imported the package and built its converter."""
    from fetch_engines_spark.extract import INPUT_SCHEMA, extract_spans
    from fetch_engines_spark.fixtures import FIXTURES_BY_ID, html_to_input_spans

    f = FIXTURES_BY_ID["F01"]
    rows = [
        {"doc_id": f"warm#{i}", "base_url": None, "canonical_url": None, "spans": html_to_input_spans(f.html)}
        for i in range(n)
    ]
    docs = spark.createDataFrame(rows, INPUT_SCHEMA).repartition(n)
    extract_spans(docs, keep_markdown=False).select("doc_id").collect()


def start_session(master: str, app_name: str) -> tuple[object, float, float]:
    """Fresh JVM + session + warm workers; returns (spark, get_spark_s, warmup_s)."""
    from fetch_engines_spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark(app_name=app_name, master=master)
    t1 = time.perf_counter()
    spark.sparkContext.setLogLevel("ERROR")
    warm_workers(spark, spark.sparkContext.defaultParallelism)
    t2 = time.perf_counter()
    return spark, t1 - t0, t2 - t1


def stop_session(spark) -> None:
    """Stop the session and its JVM, and wait until every child has ended."""
    from pyspark import SparkContext

    try:
        spark.stop()
    finally:
        gateway = SparkContext._gateway
        SparkContext._gateway = None
        SparkContext._jvm = None
        if gateway is not None:
            proc = getattr(gateway, "proc", None)
            gateway.shutdown()
            if proc is not None:
                # the gateway JVM exits when its stdin closes
                proc.stdin.close()
                try:
                    proc.wait(timeout=60)
                except subprocess.TimeoutExpired:
                    proc.kill()
                    proc.wait(timeout=30)
        reap_children()


def reap_children(timeout_s: float = 30.0) -> None:
    """Terminate and wait for any process this one still has below it."""
    deadline = time.monotonic() + timeout_s
    while True:
        left = descendants(os.getpid())
        if not left:
            return
        sig = signal.SIGTERM if time.monotonic() < deadline - timeout_s / 2 else signal.SIGKILL
        for pid in left:
            try:
                os.kill(pid, sig)
            except ProcessLookupError:
                pass
        if time.monotonic() > deadline:
            return
        time.sleep(0.2)
        try:
            while os.waitpid(-1, os.WNOHANG)[0]:
                pass
        except ChildProcessError:
            pass
