"""Spark session lifecycle and process-tree accounting for the benchmark.

Every run works under one scratch directory inside the checkout
(inputs, Spark local dirs, warehouse, checkpoint roots, event log) and
removes it at exit.  Each session gets an explicit `local[k]` master
with k <= nproc, and `close()` stops the JVM and waits for it, so nothing
outlives the run.
"""

from __future__ import annotations

import os
import shutil
import time

CLK_TCK = os.sysconf("SC_CLK_TCK")
# Spark task slots: one core is left to the driver JVM's own threads and
# the Python driver.  On a 4-core VM, kg_build ran as fast on local[3]
# as on local[4] and varied less between runs.
CORES = max(1, min(3, len(os.sched_getaffinity(0)) - 1))
DRIVER_MEM = "1g"


def configure_env(scratch: str) -> None:
    """Point every temp/warehouse location at the scratch directory
    before the first JVM starts."""
    tmp = os.path.join(scratch, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_WAREHOUSE_DIR"] = os.path.join(scratch, "warehouse")
    os.environ["SPARK_DRIVER_MEM"] = DRIVER_MEM
    os.environ["JAVA_TOOL_OPTIONS"] = (f"-Djava.io.tmpdir={tmp} "
                                       "-XX:-UsePerfData")


class Session:
    """One SparkSession plus the JVM process that backs it."""

    def __init__(self, scratch: str, event_log: str | None = None):
        from redactify_spark.plans.session import build_session

        # the heap is committed and touched at start, so the JVM's
        # resident set does not depend on how far G1 has spread its
        # allocations; heap use past the cap shows as GC time instead
        conf = {"spark.local.dir": os.path.join(scratch, "local"),
                "spark.driver.extraJavaOptions":
                    f"-Djava.io.tmpdir={os.environ['TMPDIR']} "
                    f"-Xms{DRIVER_MEM} -XX:+AlwaysPreTouch"}
        if event_log:
            os.makedirs(event_log, exist_ok=True)
            conf.update({"spark.eventLog.enabled": "true",
                         "spark.eventLog.dir": "file://" + event_log,
                         "spark.eventLog.compress": "false",
                         "spark.eventLog.rolling.enabled": "false"})
        t0 = time.perf_counter()
        self.spark = build_session("perfbench", master=f"local[{CORES}]",
                                   shuffle_partitions=CORES,
                                   extra_conf=conf)
        self.start_s = time.perf_counter() - t0
        self.spark.sparkContext.setLogLevel("ERROR")
        self.jvm_pid = self.spark.sparkContext._gateway.proc.pid

    def clear(self) -> None:
        """Drop cached DataFrames and persisted RDDs between runs."""
        self.spark.catalog.clearCache()
        for rdd in list(self.spark.sparkContext._jsc
                        .getPersistentRDDs().values()):
            rdd.unpersist()

    def close(self) -> None:
        """Stop Spark and wait for the JVM, which exits when its stdin
        closes."""
        proc = self.spark.sparkContext._gateway.proc
        self.spark.stop()
        proc.stdin.close()
        proc.wait(timeout=60)


# -- /proc accounting ------------------------------------------------------

def _stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            data = f.read()
    except OSError:
        return None
    # the command name may hold spaces: split after its closing paren
    return data[data.rindex(")") + 2:].split()


def tree(root: int) -> list[int]:
    """`root` and all its live descendants."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat(int(name))
            if st:
                children.setdefault(int(st[1]), []).append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def cpu_s(pids: list[int]) -> float:
    """User+system CPU of the processes, plus that of their reaped
    children, in seconds."""
    ticks = 0
    for pid in pids:
        st = _stat(pid)
        if st:
            ticks += sum(int(x) for x in st[11:15])
    return ticks / CLK_TCK


def peak_rss_mb(pids: list[int]) -> float:
    """Sum of each process's peak resident set (VmHWM), in MiB, since
    its start or its last `reset_peak_rss`."""
    kb = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        kb += int(line.split()[1])
        except OSError:
            pass
    return kb / 1024


def reset_peak_rss(pids: list[int]) -> None:
    """Restart each process's VmHWM from its current resident set, so a
    later `peak_rss_mb` covers only what ran after this call."""
    for pid in pids:
        try:
            with open(f"/proc/{pid}/clear_refs", "w") as f:
                f.write("5")
        except OSError:
            pass


def dir_size(path: str) -> tuple[int, int]:
    """(files, bytes) under `path`."""
    files = size = 0
    for dp, _, fs in os.walk(path):
        for f in fs:
            files += 1
            size += os.path.getsize(os.path.join(dp, f))
    return files, size


def fresh_dir(path: str) -> str:
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    return path
