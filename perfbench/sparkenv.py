"""Spark session lifetime, process memory and Spark's own counters.

Everything here goes through public PySpark calls or the Py4J handles PySpark
exposes; nothing reaches into the engine package beyond ``session.get_spark``.
"""

from __future__ import annotations

import subprocess
import time

from polygon_algotrading_env_spark.session import get_spark
from proc import tree_cpu_s


class Session:
    """Owns the engine's SparkSession and the JVM process behind it."""

    def __init__(self, master: str):
        self.master = master
        self.spark = None
        self.jvm_proc = None

    def start(self):
        """Launch the JVM and start the session. Returns the session."""
        self.spark = get_spark(app_name="perfbench", master=self.master)
        self.jvm_proc = self.spark.sparkContext._gateway.proc
        return self.spark

    def cpu_s(self) -> float:
        """CPU seconds spent so far by this process, the JVM and its Python
        workers, less the JVM's JIT compiler threads."""
        return tree_cpu_s(jvm=self.jvm_proc.pid)

    def jvm_peak_rss_mb(self) -> float:
        """The JVM's peak resident memory so far, as the kernel tracks it
        (VmHWM)."""
        with open(f"/proc/{self.jvm_proc.pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
        raise RuntimeError("no VmHWM in the JVM's status")

    def close(self, timeout: float = 60.0) -> None:
        """Stop the session and wait until the JVM (and with it every Python
        worker it started) has exited."""
        if self.spark is None:
            return
        from pyspark import SparkContext

        try:
            self.spark.stop()
        finally:
            gateway = SparkContext._gateway
            proc = self.jvm_proc
            if gateway is not None:
                gateway.shutdown()
            SparkContext._gateway = None
            SparkContext._jvm = None
            self.spark = None
            if proc is not None:
                if proc.stdin is not None:
                    proc.stdin.close()
                try:
                    proc.wait(timeout=timeout)
                except subprocess.TimeoutExpired:
                    proc.kill()
                    proc.wait(timeout=timeout)


COUNTERS = (
    "jobs", "stages", "tasks", "run_ms", "cpu_ms",
    "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes",
)


class SparkCounters:
    """Spark's counters for the jobs of one job group, read from the status
    store right after the call that ran them (the store keeps only the most
    recent jobs and stages)."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.store = self.sc._jsc.sc().statusStore()
        self._gc_beans = (
            self.sc._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
        )
        self._no_tasks = self.sc._jvm.java.util.ArrayList()
        self._no_quantiles = self.sc._gateway.new_array(self.sc._jvm.double, 0)

    def set_group(self, group: str) -> None:
        self.sc.setJobGroup(group, group)

    def clear_group(self) -> None:
        self.sc.setLocalProperty("spark.jobGroup.id", None)
        self.sc.setLocalProperty("spark.job.description", None)

    def gc_ms(self) -> int:
        """Total collection time of the JVM so far (driver and executors
        share it in local mode)."""
        return sum(b.getCollectionTime() for b in self._gc_beans)

    def read(self, group: str) -> dict[str, int]:
        out = dict.fromkeys(COUNTERS, 0)
        job_ids = self.sc.statusTracker().getJobIdsForGroup(group)
        out["jobs"] = len(job_ids)
        seen: set[int] = set()
        for jid in job_ids:
            stage_ids = self.store.job(jid).stageIds()
            for i in range(stage_ids.size()):
                sid = stage_ids.apply(i)
                if sid in seen:
                    continue
                seen.add(sid)
                try:
                    attempts = self.store.stageData(
                        sid, False, self._no_tasks, False, self._no_quantiles
                    )
                except Exception:  # noqa: BLE001 - skipped stages have no data
                    continue
                for a in range(attempts.size()):
                    st = attempts.apply(a)
                    if str(st.status()) == "SKIPPED":
                        continue
                    out["stages"] += 1
                    out["tasks"] += st.numCompleteTasks() + st.numFailedTasks()
                    out["run_ms"] += st.executorRunTime()
                    out["cpu_ms"] += st.executorCpuTime() // 1_000_000
                    out["shuffle_read_bytes"] += st.shuffleReadBytes()
                    out["shuffle_write_bytes"] += st.shuffleWriteBytes()
                    out["spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
        return out


def catalyst_phases_ms(jqe) -> dict[str, float]:
    """Analysis, optimization and planning time of a JVM QueryExecution,
    from its phase tracker (each phase is present once it has run)."""
    phases = jqe.tracker().phases()
    out = {}
    for name in ("analysis", "optimization", "planning"):
        opt = phases.get(name)
        out[name] = float(opt.get().durationMs()) if opt.isDefined() else 0.0
    return out


def wait_until(pred, timeout: float, step: float = 0.02) -> bool:
    deadline = time.monotonic() + timeout
    while not pred():
        if time.monotonic() > deadline:
            return False
        time.sleep(step)
    return True
