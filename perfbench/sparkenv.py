"""Spark session set-up for the benchmark, and process-tree memory.

Everything a run writes (Spark local directories, the module zip, warehouse, temp
files) is kept under the work directory, so a run touches nothing outside
its checkout.
"""

from __future__ import annotations

import os
import time


def isolate(root: str, work: str) -> None:
    """Point temp and Spark local directories into ``work`` and let Python
    workers import ``sagan_spark`` from ``root``. Call before the JVM
    starts: the JVM and its workers inherit this environment."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    path = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = root + (os.pathsep + path if path else "")
    import tempfile

    tempfile.tempdir = None  # re-read TMPDIR


def cores() -> int:
    """local[N]: N = min(4, usable cores)."""
    return max(1, min(4, len(os.sched_getaffinity(0))))


class Sessions:
    """Starts and restarts the one SparkSession of a benchmark run.

    Stopped sessions are kept referenced so that a new session never
    reuses a stopped one's ``id()`` (``packaging.ensure_shipped`` keys its
    shipped-once memo on it)."""

    def __init__(self, work: str) -> None:
        self.work = work
        self.spark = None
        self._stopped: list = []

    def conf(self) -> dict[str, str]:
        from sagan_spark.session import default_conf

        tmp = os.path.join(self.work, "tmp")
        return {
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": os.path.join(self.work, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
            "spark.driver.extraJavaOptions": (
                default_conf()["spark.driver.extraJavaOptions"] + f" -Djava.io.tmpdir={tmp}"
            ),
        }

    def start(self, n: int) -> float:
        """Stop the current session (if any), start one at local[n] with
        2n shuffle partitions (as scripts/stage_scaling.py sizes them) and
        warm it up: module shipping, one JVM job, one Python-worker job.
        After ``shutdown`` this launches a new JVM first (a cold start).
        Returns the wall seconds of the start plus warm-up."""
        from sagan_spark.packaging import ensure_shipped
        from sagan_spark.session import get_spark

        self.stop()
        t0 = time.perf_counter()
        spark = get_spark(
            app_name="perfbench", master=f"local[{n}]", shuffle_partitions=2 * n,
            extra_conf=self.conf(),
        )
        spark.sparkContext.setLogLevel("ERROR")
        ensure_shipped(spark)
        spark.range(1_000_000).selectExpr("sum(id)").collect()
        (
            spark.range(0, n * 4, 1, n)
            .mapInPandas(lambda it: it, "id: long")
            .write.format("noop")
            .mode("overwrite")
            .save()
        )
        self.spark = spark
        return time.perf_counter() - t0

    def stop(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self._stopped.append(self.spark)
            self.spark = None

    def shutdown(self) -> None:
        """Stop the session and the JVM, and wait for the JVM to exit."""
        import subprocess

        from pyspark import SparkContext

        jvm_proc = jvm_process()
        try:
            self.stop()
            if SparkContext._gateway is not None:
                SparkContext._gateway.shutdown()
        finally:
            SparkContext._gateway = None
            SparkContext._jvm = None
            if jvm_proc is not None:
                if jvm_proc.stdin is not None:
                    jvm_proc.stdin.close()  # the launched JVM exits when its stdin closes
                try:
                    jvm_proc.wait(timeout=30)
                except subprocess.TimeoutExpired:
                    jvm_proc.kill()
                    jvm_proc.wait(timeout=10)


def jvm_process():
    """The Popen of the gateway JVM this process launched, or None."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    return getattr(gw, "proc", None) if gw is not None else None


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # field 4 (ppid) follows the parenthesised command name
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def descendants(pid: int) -> list[int]:
    """Every live or zombie descendant of ``pid``."""
    kids = _children_map()
    out, stack = [], list(kids.get(pid, ()))
    while stack:
        p = stack.pop()
        out.append(p)
        stack.extend(kids.get(p, ()))
    return out


def _vm_hwm_kib(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def peak_rss_mb() -> tuple[float, int]:
    """Sum of VmHWM over the gateway JVM and every live descendant (the
    Python worker daemon and its workers), in MiB, and the process count."""
    proc = jvm_process()
    if proc is None:
        return 0.0, 0
    pids = [proc.pid, *descendants(proc.pid)]
    return sum(_vm_hwm_kib(p) for p in pids) / 1024.0, len(pids)


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies of all CPUs from /proc/stat: the share of time
    the hypervisor ran something else on the host's virtual CPUs."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    return (fields[7] if len(fields) > 7 else 0), sum(fields[:8])
