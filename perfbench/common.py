"""Host fit, session lifecycle, memory sampling and result helpers shared
by the workloads.  Everything here is set from the benchmark side: the
program's own files are not edited."""

from __future__ import annotations

import math
import os
import shlex
import shutil
import threading
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
WORK_NAME = ".perfbench_work"


def host_cpus() -> int:
    return len(os.sched_getaffinity(0))


def host_ram_bytes() -> int:
    return os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")


def configure_env(work: Path) -> None:
    """Size Spark for this host and keep every file it writes in ``work``.

    ``session.get_spark`` reads SPARK_GRAFT_CPUS / SPARK_DRIVER_MEMORY /
    SPARK_MASTER; the rest goes through PYSPARK_SUBMIT_ARGS.  PYTHONPATH
    lets the Python workers import the package (applyInPandasWithState
    pickles functions by module path).
    """
    cpus = host_cpus()
    heap_gb = max(1, min(4, host_ram_bytes() // (1 << 30) // 4))
    tmp = work / "tmp"
    local = work / "local"
    for d in (tmp, local):
        d.mkdir(parents=True, exist_ok=True)
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_MASTER": f"local[{cpus}]",
        "SPARK_DRIVER_MEMORY": f"{heap_gb}g",
        "SPARK_LOCAL_DIRS": str(local),
        "TMPDIR": str(tmp),
        "PYTHONPATH": os.pathsep.join(
            p for p in (str(ROOT), os.environ.get("PYTHONPATH")) if p),
        "PYSPARK_SUBMIT_ARGS": " ".join([
            # no hsperfdata under /tmp: the run writes only in its checkout
            "--driver-java-options", shlex.quote(
                f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"),
            "--conf", shlex.quote(f"spark.sql.warehouse.dir={work}/warehouse"),
            "--conf spark.ui.retainedJobs=100000",
            "--conf spark.ui.retainedStages=100000",
            "--conf spark.sql.ui.retainedExecutions=100",
            "--conf spark.sql.streaming.ui.enabled=false",
            "--conf spark.ui.showConsoleProgress=false",
            "pyspark-shell",
        ]),
    })


def set_master(cpus: int) -> None:
    os.environ["SPARK_MASTER"] = f"local[{cpus}]"
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)


def shutdown_spark() -> None:
    """Stop the session and the JVM it launched, and wait for both."""
    from pyspark import SparkContext
    from pyspark.sql import SparkSession

    spark = SparkSession.getActiveSession()
    if spark is not None:
        spark.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    try:
        gw.shutdown()
    finally:
        SparkContext._gateway = None
        SparkContext._jvm = None
        if proc is not None:
            if proc.stdin is not None:
                proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except Exception:
                proc.kill()
                proc.wait(timeout=10)


def jvm_pid() -> int | None:
    from pyspark import SparkContext
    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None) if gw is not None else None
    return proc.pid if proc is not None else None


def _children(pid: int) -> list[int]:
    out = []
    task = Path(f"/proc/{pid}/task")
    try:
        tids = list(task.iterdir())
    except OSError:
        return out
    for t in tids:
        try:
            out += [int(c) for c in (t / "children").read_text().split()]
        except OSError:
            pass
    return out


def _rss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def tree_rss_bytes(pid: int) -> int:
    """RSS of ``pid`` plus all its descendants (the Python workers are
    children of the JVM's pyspark daemon)."""
    total, stack, seen = 0, [pid], set()
    while stack:
        p = stack.pop()
        if p in seen:
            continue
        seen.add(p)
        total += _rss_kb(p)
        stack += _children(p)
    return total * 1024


class RssSampler:
    """Samples the JVM tree's RSS every ``period`` seconds while running."""

    def __init__(self, pid: int, period: float = 0.1):
        self.pid = pid
        self.period = period
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while not self._stop.is_set():
            self.peak = max(self.peak, tree_rss_bytes(self.pid))
            self._stop.wait(self.period)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
        self.peak = max(self.peak, tree_rss_bytes(self.pid))


def percentile(values: list[float], q: float) -> float:
    """Linear-interpolated percentile, q in [0, 100]."""
    xs = sorted(values)
    if not xs:
        return float("nan")
    pos = (len(xs) - 1) * q / 100.0
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def median(values: list[float]) -> float:
    return percentile(values, 50.0)


def fresh_dir(path: Path) -> Path:
    if path.exists():
        shutil.rmtree(path)
    path.mkdir(parents=True)
    return path
