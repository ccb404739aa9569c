"""Run environment, process sampling and small statistics helpers.

``pin_environment`` must run before pyspark is imported: the JVM and its
Python workers inherit the environment it sets.
"""

from __future__ import annotations

import os
import shutil
import statistics
import threading
import time
from dataclasses import dataclass, field

STARTED = time.perf_counter()
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK_ROOT = os.path.join(ROOT, ".perfbench_work")
CORES = len(os.sched_getaffinity(0))
_PAGE = os.sysconf("SC_PAGE_SIZE")
_HZ = os.sysconf("SC_CLK_TCK")


@dataclass
class RunEnv:
    """Private directories of one benchmark process; ``close`` removes them."""

    work: str
    local_dir: str
    tmp_dir: str
    warehouse: str
    event_dir: str

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)

    def close(self) -> None:
        shutil.rmtree(self.work, ignore_errors=True)
        try:
            os.rmdir(WORK_ROOT)  # only when no other run is using it
        except OSError:
            pass


def pin_environment() -> RunEnv:
    """Give this run private scratch dirs inside the checkout, put the
    checkout on the Python workers' path and pin one BLAS thread per
    worker."""
    work = os.path.join(WORK_ROOT, f"run-{os.getpid()}-{time.time_ns()}")
    env = RunEnv(
        work=work,
        local_dir=os.path.join(work, "spark-local"),
        tmp_dir=os.path.join(work, "tmp"),
        warehouse=os.path.join(work, "spark-warehouse"),
        event_dir=os.path.join(work, "events"),
    )
    for d in (env.local_dir, env.tmp_dir, env.warehouse, env.event_dir):
        os.makedirs(d, exist_ok=True)
    # without the checkout on PYTHONPATH the first mapInPandas task dies
    # with ModuleNotFoundError: nametag3_spark
    paths = [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(dict.fromkeys(paths))
    os.environ["OMP_NUM_THREADS"] = "1"
    os.environ["SPARK_LOCAL_DIRS"] = env.local_dir
    os.environ["SPARK_GRAFT_CPUS"] = str(CORES)
    os.environ["TMPDIR"] = env.tmp_dir
    return env


def spark_conf(env: RunEnv, trace: bool) -> dict[str, str]:
    conf = {
        "spark.driver.memory": "2g",
        "spark.local.dir": env.local_dir,
        "spark.sql.warehouse.dir": env.warehouse,
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={env.tmp_dir} -XX:-UsePerfData",
        "spark.eventLog.enabled": "true" if trace else "false",
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        conf["spark.eventLog.dir"] = "file://" + env.event_dir
        conf["spark.eventLog.compress"] = "false"
    return conf


def steal_seconds() -> float:
    """Cumulative hypervisor steal time of all CPUs, from /proc/stat."""
    with open("/proc/stat") as fh:
        fields = fh.readline().split()
    return int(fields[8]) / _HZ


def descendants(pid: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        ppid = int(stat[stat.rindex(")") + 2:].split()[1])
        children.setdefault(ppid, []).append(int(name))
    out, todo = [], list(children.get(pid, []))
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(children.get(p, []))
    return out


def tree_rss_bytes(pid: int | None = None) -> int:
    """RSS of every process below ``pid``: the driver JVM and the Python
    workers it forks (the benchmark's own interpreter is not counted)."""
    total = 0
    for p in descendants(pid or os.getpid()):
        try:
            with open(f"/proc/{p}/statm") as fh:
                total += int(fh.read().split()[1]) * _PAGE
        except OSError:
            continue
    return total


def children_cpu_seconds() -> float:
    """User plus system CPU time of every process below this one: the
    driver JVM and its Python workers, reaped workers included."""
    total = 0
    for p in descendants(os.getpid()):
        try:
            with open(f"/proc/{p}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        total += sum(int(x) for x in stat[stat.rindex(")") + 2:].split()[11:15])
    return total / _HZ


@dataclass
class RssSampler:
    """Background thread that keeps the peak of ``tree_rss_bytes``."""

    interval: float = 0.2
    peak: int = 0
    _stop: threading.Event = field(default_factory=threading.Event)
    _thread: threading.Thread | None = None

    def __enter__(self) -> "RssSampler":
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()
        return self

    def _loop(self) -> None:
        while not self._stop.is_set():
            self.peak = max(self.peak, tree_rss_bytes())
            self._stop.wait(self.interval)

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
        self.peak = max(self.peak, tree_rss_bytes())


def p90(values: list[float]) -> float:
    if len(values) < 2:
        return values[0]
    return statistics.quantiles(values, n=10, method="inclusive")[8]


def dir_usage(path: str) -> tuple[int, int]:
    """(bytes, files) of every file under ``path``."""
    size = files = 0
    for dirpath, _dirs, names in os.walk(path):
        for n in names:
            size += os.path.getsize(os.path.join(dirpath, n))
            files += 1
    return size, files
