"""Session start, work directories, memory sampling and shutdown.

Everything the benchmark writes stays inside the checkout: Spark's
local dirs, the JVM and Python temp dirs and every workload's inputs
and outputs live under ``.perfbench_work/<run id>/``, which is removed
when the run ends.  Results and traces go to ``perfbench_out/``.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import tempfile
import threading
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
# Driver heap for a 15 GB, 4-core host; the JVM, four Python workers
# and the OS page cache share the rest.
DRIVER_MEM = "4g"


def workdir(run_id: str) -> Path:
    d = ROOT / ".perfbench_work" / run_id
    shutil.rmtree(d, ignore_errors=True)
    (d / "tmp").mkdir(parents=True)
    return d


def configure_env(work: Path) -> None:
    """Temp dirs inside ``work`` and the package on every Python path,
    so imports do not depend on the working directory."""
    tmp = str(work / "tmp")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(ROOT), os.environ.get("PYTHONPATH", "")) if p)
    os.environ["TMPDIR"] = tempfile.tempdir = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    # every JVM, the spark-submit launcher's included: temp files in the
    # work dir, no /tmp/hsperfdata_<user>
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ.setdefault("SPARK_DRIVER_MEM", DRIVER_MEM)
    if str(ROOT) not in sys.path:
        sys.path.insert(0, str(ROOT))


def start_spark(work: Path, cores: int):
    """``local[cores]`` session with the package path exported to the
    Python workers; call ``configure_env(work)`` first."""
    from gdal_spark import get_spark

    tmp = str(work / "tmp")
    return get_spark(
        "perfbench",
        cores=cores,
        extra_conf={
            "spark.local.dir": tmp,
            "spark.executorEnv.PYTHONPATH": str(ROOT),
            "spark.sql.warehouse.dir": str(work / "warehouse"),
            "spark.ui.showConsoleProgress": "false",
        },
    )


def stop_spark(spark) -> None:
    """Stop the session, then the JVM, and wait until it has exited."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    spark.stop()
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(name))
    return kids


def _rss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _tree(root_pid: int) -> list[int]:
    kids = _children()
    out, stack = [], [root_pid]
    while stack:
        pid = stack.pop()
        out.append(pid)
        stack.extend(kids.get(pid, ()))
    return out


def _cpu_ticks(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/stat") as f:
            fields = f.read().rsplit(")", 1)[1].split()
        return int(fields[11]) + int(fields[12])  # utime + stime
    except (OSError, IndexError, ValueError):
        return 0


def host_cpu() -> list[int]:
    """The aggregate ``cpu`` line of /proc/stat (user, nice, system,
    idle, iowait, irq, softirq, steal, ...) in clock ticks."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


class ProcSampler:
    """Samples a process tree every ``period`` seconds while active, for
    the highest summed RSS and the CPU time the tree used.  Rooted at
    the benchmark's own process, the tree is the Spark driver (which
    runs the engine's driver-side Python), the JVM, the pyspark daemon
    and its Python workers."""

    def __init__(self, pid: int, period: float = 0.1):
        self.pid, self.period = pid, period
        self.peak_mb = 0.0
        self._first: dict[int, int] = {}
        self._last: dict[int, int] = {}
        self._stop = threading.Event()
        self._t = threading.Thread(target=self._loop, daemon=True)

    def _sample(self):
        rss = 0
        for pid in _tree(self.pid):
            rss += _rss_kb(pid)
            ticks = _cpu_ticks(pid)
            self._first.setdefault(pid, ticks)
            self._last[pid] = ticks
        self.peak_mb = max(self.peak_mb, rss / 1024.0)

    def _loop(self):
        while not self._stop.is_set():
            self._sample()
            self._stop.wait(self.period)

    def __enter__(self):
        self._host0 = host_cpu()
        self._sample()
        self._t.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._t.join()
        self._sample()
        self._host = [b - a for a, b in zip(self._host0, host_cpu())]

    def report(self) -> dict:
        """CPU seconds of the process tree, and the host's busy, iowait
        and steal seconds, over the sampled interval."""
        hz = os.sysconf("SC_CLK_TCK")
        h = self._host
        return {
            "peak_rss_mb": self.peak_mb,
            "cpu_s": sum(self._last[p] - self._first[p] for p in self._last) / hz,
            "host_busy_s": (sum(h[:8]) - h[3] - h[4]) / hz,
            "host_iowait_s": h[4] / hz,
            "host_steal_s": h[7] / hz,
        }


def env_record(seed: int, workload: str, trace: bool, cores: int) -> dict:
    import pyarrow
    import pyspark

    return {
        "workload": workload,
        "seed": seed,
        "trace": trace,
        "nproc": os.cpu_count(),
        "cores": cores,
        "driver_mem": os.environ.get("SPARK_DRIVER_MEM"),
        "spark": pyspark.__version__,
        "pyarrow": pyarrow.__version__,
        "python": sys.version.split()[0],
    }


def write_json(path: Path, obj) -> None:
    path.parent.mkdir(parents=True, exist_ok=True)
    path.write_text(json.dumps(obj, indent=1, sort_keys=True, default=float))
