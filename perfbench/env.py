"""Process environment for one benchmark run: a scratch directory inside
the checkout, a Spark session sized for the host, host readings (cores,
hypervisor steal, load) and high-water memory of the Python process and
the Spark JVM.

Everything a run writes (Spark local dirs, warehouse, event log, JVM and
Python temp files, generated inputs, stored tables) lives under
``<checkout>/.perfbench_tmp/run-<pid>`` and is deleted when the run ends.
"""

from __future__ import annotations

import os
import shutil
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
TMP_BASE = os.path.join(ROOT, ".perfbench_tmp")
OUT_DIR = os.path.join(ROOT, ".perfbench_out")


def cpu_count() -> int:
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def _cpu_times() -> list[int]:
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def steal_pct(before: list[int], after: list[int]) -> float:
    """Hypervisor steal as a share of all CPU time between two
    ``/proc/stat`` readings (field 8 of the aggregate ``cpu`` line)."""
    delta = [b - a for a, b in zip(before, after)]
    total = sum(delta[:8])
    return 100.0 * delta[7] / total if total > 0 and len(delta) > 7 else 0.0


def vm_hwm_mb(pid: int | str = "self") -> float:
    """High-water resident set (VmHWM) of a process, in MB; 0 if gone."""
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0


class HostReadings:
    """cpus, steal and load over one run."""

    def __init__(self):
        self.cpus = cpu_count()
        self._t0 = _cpu_times()

    def finish(self) -> dict:
        return {
            "cpus": self.cpus,
            "steal_pct": round(steal_pct(self._t0, _cpu_times()), 3),
            "loadavg": [round(x, 2) for x in os.getloadavg()],
        }


class RunDirs:
    """The run's scratch tree; ``close`` removes it."""

    def __init__(self):
        self.base = os.path.join(TMP_BASE, f"run-{os.getpid()}")
        shutil.rmtree(self.base, ignore_errors=True)
        for sub in ("local", "warehouse", "events", "tmp", "data"):
            os.makedirs(os.path.join(self.base, sub))

    def path(self, *parts: str) -> str:
        return os.path.join(self.base, *parts)

    def close(self) -> None:
        shutil.rmtree(self.base, ignore_errors=True)
        try:
            os.rmdir(TMP_BASE)
        except OSError:
            pass


def prepare_process_env(dirs: RunDirs) -> None:
    """Environment the Spark JVM and its Python workers inherit: the
    package on ``PYTHONPATH`` (workers import it by module path), and
    every temp/local directory inside the run's scratch tree."""
    import tempfile

    paths = [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(dict.fromkeys(paths))
    os.environ["SPARK_LOCAL_DIRS"] = dirs.path("local")
    os.environ["TMPDIR"] = dirs.path("tmp")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable
    tempfile.tempdir = None
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)


# Driver heap: fixed (initial = maximum), so heap resizing neither
# varies run time nor the resident set from run to run; 2 GB fits the
# benchmark's inputs (tens of MB) on a shared 15 GB host.
DRIVER_HEAP = "2g"


class Session:
    """One ``local[nproc]`` Spark session and the JVM behind it."""

    def __init__(self, dirs: RunDirs, event_log: bool):
        from pyspark.sql import SparkSession

        cpus = cpu_count()
        tmp = dirs.path("tmp")
        b = (
            SparkSession.builder.master(f"local[{cpus}]")
            .appName("perfbench")
            .config("spark.sql.shuffle.partitions", str(2 * cpus))
            .config("spark.default.parallelism", str(cpus))
            .config("spark.driver.memory", DRIVER_HEAP)
            .config("spark.driver.extraJavaOptions",
                    f"-Xms{DRIVER_HEAP} -Djava.io.tmpdir={tmp} -XX:-UsePerfData")
            .config("spark.local.dir", dirs.path("local"))
            .config("spark.sql.warehouse.dir", dirs.path("warehouse"))
            .config("spark.sql.execution.arrow.pyspark.enabled", "true")
            .config("spark.sql.adaptive.enabled", "true")
            .config("spark.ui.enabled", "false")
            .config("spark.ui.showConsoleProgress", "false")
            .config("spark.sql.streaming.checkpointLocation", dirs.path("tmp", "ckpt"))
        )
        if event_log:
            b = (
                b.config("spark.eventLog.enabled", "true")
                .config("spark.eventLog.dir", dirs.path("events"))
                .config("spark.eventLog.compress", "false")
                .config("spark.eventLog.rolling.enabled", "false")
            )
        self.spark = b.getOrCreate()
        self.spark.sparkContext.setLogLevel("ERROR")
        self._gateway = self.spark.sparkContext._gateway
        self.jvm_pid = int(self.spark._jvm.java.lang.ProcessHandle.current().pid())
        self._jvm_hwm = 0.0

    def peak_rss_mb(self) -> float:
        self._jvm_hwm = max(self._jvm_hwm, vm_hwm_mb(self.jvm_pid))
        return vm_hwm_mb() + self._jvm_hwm

    def stop(self) -> None:
        """Stop Spark, then the JVM, and wait until it has exited."""
        self.peak_rss_mb()
        proc = getattr(self._gateway, "proc", None)
        try:
            self.spark.stop()
        finally:
            try:
                self._gateway.shutdown()
            except Exception:  # the gateway may already be gone
                pass
            if proc is not None:
                try:
                    proc.stdin.close()
                except (OSError, AttributeError):
                    pass
                try:
                    proc.wait(timeout=20)
                except subprocess.TimeoutExpired:
                    proc.kill()
                    proc.wait(timeout=10)
