"""Run context shared by the workloads: the Spark session and its JVM,
the run's scratch directory, memory and Spark-job accounting, and the
instrumentation the traced run puts around the program's public calls."""

from __future__ import annotations

import itertools
import os
import shutil
import time
from collections import defaultdict
from dataclasses import dataclass, field

from perfbench.stats import OpLog
from perfbench.tracing import NullTracer, Tracer


def cpu_count() -> int:
    return len(os.sched_getaffinity(0))


def vm_hwm_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


def dir_bytes(path: str) -> tuple[int, int]:
    """(bytes, files) under ``path``."""
    total = files = 0
    for dirpath, _, names in os.walk(path):
        for n in names:
            total += os.path.getsize(os.path.join(dirpath, n))
            files += 1
    return total, files


@dataclass
class Measured:
    """What one measured phase produced."""

    log: OpLog
    wall_s: float
    cycles_s: list[float]
    extra: dict[str, object] = field(default_factory=dict)


class Context:
    """One run: scratch directories inside the checkout, the session, and
    the tracer of the current phase. Everything is removed by close()."""

    def __init__(self, root: str, workload: str, seed: int):
        self.root = root
        self.workload = workload
        self.seed = seed
        self.run_dir = os.path.join(root, ".perfbench_tmp", f"{workload}-{seed}-{os.getpid()}")
        shutil.rmtree(self.run_dir, ignore_errors=True)
        for sub in ("tmp", "spark-local", "data", "warehouse"):
            os.makedirs(os.path.join(self.run_dir, sub))
        self.data_dir = os.path.join(self.run_dir, "data")
        self.warehouse_dir = os.path.join(self.run_dir, "warehouse")
        self.tracer: Tracer | NullTracer = NullTracer()
        self.op_ids = itertools.count(1)  # unique per run: ids double as Spark job groups
        self.spark = None
        self.session_start_s = 0.0
        # per-layer counters of the traced phase
        self.counters: dict[str, float] = defaultdict(float)
        # (rows numbered and cached, rows on pages read) per SEARCH
        self.searches: list[tuple[int, int]] = []

    def confine_scratch(self) -> None:
        """Point every temp-file user at the run directory: Python's
        tempfile, Spark's local dirs and the JVM's java.io.tmpdir. Must
        run before pyspark starts its JVM."""
        import tempfile

        tmp = os.path.join(self.run_dir, "tmp")
        os.environ["TMPDIR"] = tmp
        tempfile.tempdir = tmp
        os.environ["SPARK_LOCAL_DIRS"] = os.path.join(self.run_dir, "spark-local")
        os.environ["JDK_JAVA_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
        os.environ["SPARK_GRAFT_CPUS"] = str(cpu_count())

    def start_session(self):
        """Start the program's own local session at local[<cpus>] with
        every other default unchanged."""
        from tytodb_spark.session import get_spark

        t0 = time.perf_counter()
        self.spark = get_spark("perfbench", str(cpu_count()))
        self.session_start_s = time.perf_counter() - t0
        self.spark.sparkContext.setLogLevel("ERROR")
        return self.spark

    def jvm_pid(self) -> int:
        return self.spark._jvm.java.lang.ProcessHandle.current().pid()

    def peak_rss_mb(self) -> float:
        return vm_hwm_mb(os.getpid()) + vm_hwm_mb(self.jvm_pid())

    # -- Spark job attribution (traced phase) ---------------------------
    def set_job_group(self, group: str | None) -> None:
        sc = self.spark.sparkContext
        if group is None:
            sc.setLocalProperty("spark.jobGroup.id", None)
        else:
            sc.setJobGroup(group, group)

    def count_jobs(self, group: str, prefix: str = "spark") -> int:
        """Add the jobs, stages and tasks of ``group`` to the counters."""
        tracker = self.spark.sparkContext.statusTracker()
        jobs = tracker.getJobIdsForGroup(group)
        c = self.counters
        for j in jobs:
            info = tracker.getJobInfo(j)
            if info is None:
                continue
            for sid in info.stageIds:
                st = tracker.getStageInfo(sid)
                if st is None:
                    continue
                c[f"{prefix}.stages"] += 1
                c[f"{prefix}.tasks"] += st.numCompletedTasks
                c[f"{prefix}.failed_tasks"] += st.numFailedTasks
        c[f"{prefix}.jobs"] += len(jobs)
        return len(jobs)

    # -- teardown ---------------------------------------------------------
    def close(self) -> None:
        """Stop the session, wait for its JVM and Python workers to end,
        and delete the run directory."""
        try:
            if self.spark is not None:
                from pyspark import SparkContext

                gateway = SparkContext._gateway
                jvm_pid = self.jvm_pid()
                workers = _children(jvm_pid)
                self.spark.stop()
                proc = getattr(gateway, "proc", None)
                if gateway is not None:
                    gateway.shutdown()
                if proc is not None:
                    proc.stdin.close()
                    proc.wait(timeout=60)
                _wait_gone([jvm_pid, *workers], timeout=30)
        finally:
            shutil.rmtree(self.run_dir, ignore_errors=True)
            try:
                os.rmdir(os.path.dirname(self.run_dir))
            except OSError:
                pass  # another run still uses it


def _children(pid: int) -> list[int]:
    out = []
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, ValueError, IndexError):
            continue
        if ppid == pid:
            out.append(int(entry))
            out.extend(_children(int(entry)))
    return out


def _wait_gone(pids: list[int], timeout: float) -> None:
    deadline = time.monotonic() + timeout
    for pid in pids:
        while os.path.exists(f"/proc/{pid}") and time.monotonic() < deadline:
            try:
                with open(f"/proc/{pid}/stat") as f:
                    if f.read().rsplit(")", 1)[1].split()[0] == "Z":
                        break  # zombie: exited, parent not yet reaped
            except OSError:
                break
            time.sleep(0.05)
