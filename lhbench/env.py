"""Process environment, Spark session and resource probes for one run.

Everything a run writes lives under ``<repo>/.lhbench_work/<run>``; the
directory is removed when the run ends. ``prepare`` must run before
``pyspark`` is imported, because the Spark launcher and the Python
workers it forks read the environment at start.
"""

from __future__ import annotations

import hashlib
import os
import re
import shutil
import signal
import subprocess
import sys
import threading
import time
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
PACKAGE = REPO / "lakehouse_tacklebox_spark"
WORK_ROOT = REPO / ".lhbench_work"
OUT_DIR = REPO / ".lhbench_out"

# Heap for the Spark JVM. The engine's own default (16g) is sized for a
# large host; the benchmark's inputs fit comfortably in 3g.
DRIVER_MEMORY = "3g"


class SetupError(RuntimeError):
    """The checkout cannot run the benchmark (missing package or data)."""


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def data_dir() -> str:
    """The sf0.1 tables: ``$SPARK_GRAFT_SF_DIR``, else the sf0.1 row of
    the repository's TESTDATA.md."""
    env = os.environ.get("SPARK_GRAFT_SF_DIR")
    if env:
        path = env
    else:
        doc = REPO / "TESTDATA.md"
        if not doc.is_file():
            raise SetupError(f"{doc} not found and SPARK_GRAFT_SF_DIR unset")
        m = re.search(r"^\|\s*0\.1\s*\|\s*`([^`]+)`", doc.read_text(), re.M)
        if not m:
            raise SetupError(f"no sf0.1 row in {doc}")
        path = m.group(1)
    if not os.path.isfile(os.path.join(path, "lineitem.parquet")):
        raise SetupError(f"no sf0.1 tables under {path}")
    return path.rstrip("/")


def prepare(tag: str) -> Path:
    """Check the checkout, set the Spark environment, return the work dir."""
    if not (PACKAGE / "__init__.py").is_file():
        raise SetupError(f"engine package not found at {PACKAGE}")
    work = WORK_ROOT / f"{tag}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    for sub in ("local", "tmp", "warehouse"):
        (work / sub).mkdir(parents=True)
    os.environ.pop("SPARK_MASTER", None)
    os.environ["SPARK_GRAFT_CPUS"] = str(nproc())
    os.environ["SPARK_DRIVER_MEMORY"] = DRIVER_MEMORY
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "local")
    os.environ["TMPDIR"] = str(work / "tmp")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    # Python UDF workers import the engine by module name.
    parts = [str(REPO)] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(dict.fromkeys(parts))
    if str(REPO) not in sys.path:
        sys.path.insert(0, str(REPO))
    import tempfile

    tempfile.tempdir = str(work / "tmp")
    return work


def start_spark(work: Path):
    from lakehouse_tacklebox_spark.session import get_spark

    return get_spark(
        app_name="lhbench",
        cpus=nproc(),
        extra_conf={
            "spark.local.dir": str(work / "local"),
            "spark.sql.warehouse.dir": str(work / "warehouse"),
            # A fixed initial heap keeps the JVM from resizing it run by run,
            # which otherwise dominates the spread of peak RSS.
            "spark.driver.extraJavaOptions": f"-Xms{DRIVER_MEMORY} -Djava.io.tmpdir={work / 'tmp'}",
        },
    )


def stop_spark(spark=None, timeout: float = 60.0) -> None:
    """Stop the session, then its JVM and every process under it, and
    wait until each has ended.

    ``SparkSession.stop`` leaves the JVM running until this process
    exits; the JVM exits when its stdin closes, and its Python workers
    with it.
    """
    try:
        if spark is not None:
            spark.stop()
    finally:
        left = descendants()
        SparkContext = getattr(sys.modules.get("pyspark"), "SparkContext", None)
        gateway = SparkContext and SparkContext._gateway
        proc = getattr(gateway, "proc", None)
        if SparkContext:
            SparkContext._gateway = SparkContext._jvm = None
        if proc is not None:
            if proc.stdin:
                proc.stdin.close()
            try:
                proc.wait(timeout)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
        wait_gone(left, timeout)


def descendants() -> set[int]:
    """Pids of every live process below this one."""
    parent: dict[int, int] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except (OSError, IndexError):
            continue
        if fields[0] != "Z":
            parent[int(d)] = int(fields[1])
    tree, frontier = set(), [os.getpid()]
    while frontier:
        p = frontier.pop()
        for c, pp in parent.items():
            if pp == p and c not in tree:
                tree.add(c)
                frontier.append(c)
    return tree


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except (OSError, IndexError):
        return False


def wait_gone(pids, timeout: float) -> None:
    """Wait for ``pids`` to end (reaping those that are children of this
    process); SIGKILL whatever is left after ``timeout`` seconds."""
    pids = set(pids)
    deadline = time.monotonic() + timeout
    while True:
        for pid in list(pids):
            try:
                if os.waitpid(pid, os.WNOHANG)[0] == pid:
                    pids.discard(pid)
                    continue
            except ChildProcessError:  # not our child: its new parent reaps it
                pass
            if not _alive(pid):
                pids.discard(pid)
        if not pids:
            return
        if time.monotonic() >= deadline:
            for pid in pids:
                try:
                    os.kill(pid, signal.SIGKILL)
                except ProcessLookupError:
                    pass
            deadline = float("inf")
        time.sleep(0.05)


def cleanup(work: Path) -> None:
    shutil.rmtree(work, ignore_errors=True)
    try:
        WORK_ROOT.rmdir()
    except OSError:
        pass


def stamp(workload: str, seed: int, seconds: int, trace: int) -> dict:
    """Identify the machine, the code and the inputs of one run."""
    mem_kb = 0
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                mem_kb = int(line.split()[1])
    try:
        sha = subprocess.run(
            ["git", "rev-parse", "HEAD"], cwd=REPO, capture_output=True, text=True, timeout=10
        ).stdout.strip()
    except (OSError, subprocess.SubprocessError):
        sha = ""
    if not sha:  # not a git checkout: digest the engine sources instead
        h = hashlib.sha256()
        for p in sorted(PACKAGE.rglob("*.py")):
            h.update(p.relative_to(REPO).as_posix().encode())
            h.update(p.read_bytes())
        sha = "src-sha256:" + h.hexdigest()[:16]
    return {
        "workload": workload,
        "seed": seed,
        "seconds": seconds,
        "trace": trace,
        "nproc": nproc(),
        "mem_total_mb": mem_kb // 1024,
        "spark_driver_memory": DRIVER_MEMORY,
        "code": sha,
    }


class RssSampler:
    """Samples the memory of this process and all its descendants (the
    Spark JVM and its Python workers): the sum of their proportional set
    sizes, so pages a forked worker shares with its parent count once."""

    def __init__(self, interval: float = 0.2):
        self.interval = interval
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def start(self) -> "RssSampler":
        self._thread.start()
        return self

    def stop(self) -> None:
        self._stop.set()
        self._thread.join()

    def reset(self) -> None:
        self.peak = 0

    @property
    def peak_mb(self) -> float:
        return self.peak / 2**20

    def sample(self) -> int:
        tree = descendants() | {os.getpid()}
        total = 0
        for p in tree:
            try:
                with open(f"/proc/{p}/smaps_rollup") as f:
                    total += next(int(line.split()[1]) for line in f if line.startswith("Pss:")) * 1024
            except (OSError, StopIteration, IndexError, ValueError):
                continue
        return total

    def _loop(self) -> None:
        while not self._stop.is_set():
            self.peak = max(self.peak, self.sample())
            self._stop.wait(self.interval)


class JvmProbe:
    """GC time and heap peak of the Spark JVM, read over py4j."""

    def __init__(self, spark):
        self._mf = spark.sparkContext._jvm.java.lang.management.ManagementFactory

    def gc_seconds(self) -> float:
        return sum(b.getCollectionTime() for b in self._mf.getGarbageCollectorMXBeans()) / 1000.0

    def _heap_pools(self):
        return [p for p in self._mf.getMemoryPoolMXBeans() if p.getType().name() == "HEAP"]

    def reset_heap_peak(self) -> None:
        for p in self._heap_pools():
            p.resetPeakUsage()

    def heap_peak_mb(self) -> float:
        """Sum of the heap pools' peak use since the last reset."""
        return sum(p.getPeakUsage().getUsed() for p in self._heap_pools()) / 2**20


def now() -> float:
    return time.perf_counter()
