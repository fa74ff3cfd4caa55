"""Session-level tests: the executor's Python worker pool."""

import os


def _daemon_children(pid: int) -> list[int]:
    """Live direct children of ``pid`` running ``pyspark.daemon``, from /proc."""
    out = []
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat", "rb") as fh:
                stat = fh.read()
            with open(f"/proc/{entry}/cmdline", "rb") as fh:
                cmdline = fh.read()
        except OSError:
            continue
        # the command name may hold spaces; fields resume after its ')'
        ppid = int(stat[stat.rindex(b")") + 2 :].split()[1])
        if ppid == pid and b"pyspark.daemon" in cmdline:
            out.append(int(entry))
    return out


def test_rdd_and_sql_python_share_one_worker_pool(spark):
    """RDD-side Python (createDataFrame from rows) and a SQL Python runner
    (mapInArrow) present the same worker env, so the JVM forks one
    ``pyspark.daemon`` whose workers serve both, not one pool per side."""
    rows = spark.createDataFrame([(i, f"r{i}") for i in range(8)], "id int, s string").collect()
    assert len(rows) == 8

    def passthrough(batches):
        yield from batches

    out = spark.range(8).repartition(4).mapInArrow(passthrough, "id long").collect()
    assert sorted(r.id for r in out) == list(range(8))

    jvm_pid = spark.sparkContext._gateway.proc.pid
    assert len(_daemon_children(jvm_pid)) == 1
