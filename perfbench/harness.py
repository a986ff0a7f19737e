"""Process plumbing shared by every workload: the per-run work directory,
the Spark session lifecycle, memory readings and small statistics helpers.

Everything the benchmark writes lives under ``<checkout>/.perfbench_work``
(removed at exit) and ``<checkout>/.perfbench_out`` (results and spans).
"""

from __future__ import annotations

import json
import math
import os
import shutil
import subprocess
import sys
import tempfile
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
WORK_ROOT = ROOT / ".perfbench_work"
OUT_ROOT = ROOT / ".perfbench_out"

#: driver heap of every session (the package's default is 8 GB): a fixed,
#: modest heap keeps memory readings comparable between machines
DRIVER_MEMORY = "2g"


def cores() -> int:
    env = os.environ.get("SPARK_GRAFT_CPUS")
    return int(env) if env else len(os.sched_getaffinity(0))


def quantile(values: list[float], q: float) -> float:
    """Linear-interpolated quantile (numpy's default method)."""
    xs = sorted(values)
    if not xs:
        return float("nan")
    pos = q * (len(xs) - 1)
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def median(values: list[float]) -> float:
    return quantile(values, 0.5)


def mean(values: list[float]) -> float:
    return sum(values) / len(values) if values else 0.0


def tree_bytes(path: str | Path) -> int:
    """Bytes of every regular file under ``path`` (0 when absent)."""
    total = 0
    for dirpath, _dirs, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(dirpath, f))
    return total


def _cpu_ticks(pid: int | str) -> int:
    """utime + stime of every thread of ``pid``, in clock ticks."""
    with open(f"/proc/{pid}/stat") as fh:
        fields = fh.read().rsplit(")", 1)[1].split()
    return int(fields[11]) + int(fields[12])


def _vm_hwm_kb(pid: int | str) -> int:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


class Env:
    """One benchmark process: a private work directory and the Spark
    session (one client thread, ``local[cores]``)."""

    def __init__(self, workload: str) -> None:
        self.workload = workload
        self.dir = WORK_ROOT / f"{workload}-{os.getpid()}"
        shutil.rmtree(self.dir, ignore_errors=True)
        self.tmp = self.dir / "tmp"
        self.tmp.mkdir(parents=True)
        # Keep the JVM's and Python's scratch files inside the checkout.
        os.environ["TMPDIR"] = str(self.tmp)
        os.environ["SPARK_LOCAL_DIRS"] = str(self.tmp)
        tempfile.tempdir = str(self.tmp)
        # Two glibc malloc arenas for the JVM's many threads: its peak RSS
        # then tracks what the run allocates, not how threads hit arenas.
        os.environ.setdefault("MALLOC_ARENA_MAX", "2")
        self.eventlog_dir = self.dir / "eventlog"
        self.spark = None
        self.jvm_pid: int | None = None

    def start_session(self, event_log: bool = False) -> float:
        """(Re)start the Spark session; returns the seconds it took. The
        first start launches the JVM; later ones restart the context in
        the same JVM."""
        from graphsense_ethereum_etl_spark.session import get_spark

        t0 = time.perf_counter()
        if self.spark is not None:
            self.spark.stop()
        conf = {
            "spark.local.dir": str(self.tmp),
            # A fixed, pre-touched heap: the JVM's resident memory then does
            # not depend on when the collector chose to grow the heap.
            "spark.driver.extraJavaOptions": (
                f"-Djava.io.tmpdir={self.tmp} -XX:-UsePerfData"
                f" -Xms{DRIVER_MEMORY} -XX:+AlwaysPreTouch"
            ),
            "spark.ui.showConsoleProgress": "false",
            "spark.eventLog.enabled": "true" if event_log else "false",
        }
        if event_log:
            self.eventlog_dir.mkdir(parents=True, exist_ok=True)
            conf["spark.eventLog.dir"] = self.eventlog_dir.as_uri()
            conf["spark.eventLog.compress"] = "false"
        self.spark = get_spark(
            app_name=f"perfbench-{self.workload}",
            cores=cores(),
            driver_memory=DRIVER_MEMORY,
            extra_conf=conf,
        )
        if self.jvm_pid is None:
            self.jvm_pid = int(
                self.spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
            )
        return time.perf_counter() - t0

    def cpu_s(self) -> float:
        """CPU seconds used so far by the driver JVM and this process. Time
        the hypervisor steals from the VM is not counted, so this reads
        steadier than wall time on a shared host."""
        ticks = _cpu_ticks("self")
        if self.jvm_pid is not None:
            ticks += _cpu_ticks(self.jvm_pid)
        return ticks / os.sysconf("SC_CLK_TCK")

    def peak_rss_mb(self) -> float:
        """Driver JVM peak RSS plus this Python process's peak RSS (VmHWM)."""
        kb = _vm_hwm_kb("self")
        if self.jvm_pid is not None:
            kb += _vm_hwm_kb(self.jvm_pid)
        return kb / 1024.0

    def stop_spark(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None

    def close(self) -> None:
        """Stop the session, shut the JVM down and wait for it to exit,
        then remove the work directory."""
        from pyspark import SparkContext

        self.stop_spark()
        gw = SparkContext._gateway
        if gw is not None:
            proc = getattr(gw, "proc", None)
            gw.shutdown()
            if proc is not None:
                if proc.stdin is not None:
                    proc.stdin.close()
                try:
                    proc.wait(timeout=60)
                except subprocess.TimeoutExpired:  # never leave a JVM behind
                    proc.kill()
                    proc.wait(timeout=30)
            SparkContext._gateway = None
            SparkContext._jvm = None
        shutil.rmtree(self.dir, ignore_errors=True)
        try:
            WORK_ROOT.rmdir()
        except OSError:
            pass


def write_out(name: str, payload) -> Path:
    OUT_ROOT.mkdir(exist_ok=True)
    path = OUT_ROOT / name
    with open(path, "w") as fh:
        if isinstance(payload, list):
            for row in payload:
                fh.write(json.dumps(row, sort_keys=True) + "\n")
        else:
            json.dump(payload, fh, indent=1, sort_keys=True)
    return path


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)
