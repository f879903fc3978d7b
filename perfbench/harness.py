"""Run plumbing: work directory, session settings, environment stamp, peak
memory of the process tree, stopping that tree, and cached-data accounting.

Nothing here times the engine; it sets up and observes the process that
does.
"""

from __future__ import annotations

import ctypes
import os
import platform
import shutil
import signal
import subprocess
import sys
import threading
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK_ROOT = os.path.join(ROOT, ".perfbench_work")


def nproc() -> int:
    """CPUs this process may run on (``nproc`` without OMP_NUM_THREADS)."""
    return len(os.sched_getaffinity(0))


def master_string() -> str:
    """``local[N]`` with N = ``$SPARK_GRAFT_CPUS`` or ``nproc``.

    A master wider than ``nproc`` is refused: its numbers would measure the
    scheduler's oversubscription, not the engine, and could be mixed up
    with records from a wider host."""
    cores = int(os.environ.get("SPARK_GRAFT_CPUS") or nproc())
    if not 1 <= cores <= nproc():
        raise SystemExit(
            f"refusing local[{cores}]: this host has nproc={nproc()}"
        )
    return f"local[{cores}]"


def make_work_dir(tag: str) -> str:
    """A fresh scratch directory inside the checkout; temp files of Python,
    the JVM and Spark all go under it."""
    work = os.path.join(WORK_ROOT, f"{tag}-{os.getpid()}")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    import tempfile

    tempfile.tempdir = tmp
    return work


def remove_work_dir(work: str) -> None:
    shutil.rmtree(work, ignore_errors=True)


def session_conf(work: str) -> dict[str, str]:
    tmp = os.path.join(work, "tmp")
    return {
        "spark.driver.memory": "2g",
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        # a fixed, pre-touched heap keeps the JVM's share of peak_rss_mb
        # from swinging with the timing of heap growth
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData -Xms2g -XX:+AlwaysPreTouch"
        ),
        "spark.ui.showConsoleProgress": "false",
    }


def _version(module: str) -> str | None:
    try:
        return __import__(module).__version__
    except ImportError:
        return None


def _git_commit() -> str | None:
    """HEAD of the checkout, or None when the checkout is not a git work
    tree of its own (an exported tree inside another repository must not
    report that repository's commit)."""
    try:
        top = subprocess.run(
            ["git", "-C", ROOT, "rev-parse", "--show-toplevel", "HEAD"],
            capture_output=True, text=True, timeout=10,
        )
    except (OSError, subprocess.TimeoutExpired):
        return None
    lines = top.stdout.split()
    if top.returncode != 0 or len(lines) != 2:
        return None
    if os.path.realpath(lines[0]) != os.path.realpath(ROOT):
        return None
    return lines[1]


def stamp(spark, master: str, workload: str, seed: int, trace: bool,
          seconds: int) -> dict:
    """Environment stamp carried by every record."""
    return {
        "workload": workload,
        "seed": seed,
        "trace": trace,
        "run_seconds": seconds,
        "nproc": nproc(),
        "master": master,
        "python": platform.python_version(),
        "pyspark": _version("pyspark"),
        "java": spark.sparkContext._jvm.System.getProperty("java.version"),
        "pyarrow": _version("pyarrow"),
        "duckdb": _version("duckdb"),
        "git_commit": _git_commit(),
        "platform": platform.platform(),
    }


# ---------------------------------------------------------------------------
# Peak resident memory of the whole process tree
# ---------------------------------------------------------------------------

_PAGE = os.sysconf("SC_PAGE_SIZE")


def _proc_table() -> tuple[dict[int, list[int]], dict[int, int]]:
    """Children of every process and the RSS of each, read from /proc."""
    children: dict[int, list[int]] = {}
    rss: dict[int, int] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                stat = fh.read()
            with open(f"/proc/{name}/statm") as fh:
                pages = int(fh.read().split()[1])
        except (OSError, IndexError, ValueError):
            continue  # the process ended while we looked
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        children.setdefault(ppid, []).append(int(name))
        rss[int(name)] = pages * _PAGE
    return children, rss


def _descendants(pid: int, children: dict[int, list[int]]) -> list[int]:
    found, todo = [], list(children.get(pid, ()))
    while todo:
        p = todo.pop()
        found.append(p)
        todo.extend(children.get(p, ()))
    return found


def _tree_rss_bytes(pid: int) -> int:
    """Summed RSS of ``pid`` and all its descendants."""
    children, rss = _proc_table()
    return sum(rss.get(p, 0) for p in [pid] + _descendants(pid, children))


class PeakRss:
    """Samples the process tree's RSS on a background thread."""

    def __init__(self, interval_s: float = 0.2):
        self.interval_s = interval_s
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def __enter__(self) -> "PeakRss":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)

    def _loop(self) -> None:
        """The peak is of the lower of two consecutive samples: a child
        that has just been spawned shares its parent's pages until it
        execs, and counting the parent twice for that instant is noise."""
        pid, prev = os.getpid(), 0
        while True:
            cur = _tree_rss_bytes(pid)
            self.peak = max(self.peak, min(prev, cur))
            prev = cur
            if self._stop.wait(self.interval_s):
                return

    @property
    def peak_mb(self) -> float:
        return self.peak / 2**20


# ---------------------------------------------------------------------------
# Stopping every process the run started
# ---------------------------------------------------------------------------

_PR_SET_CHILD_SUBREAPER = 36


def adopt_orphans() -> None:
    """Make this process the reaper of its orphaned descendants, and turn
    SIGTERM into SystemExit so that cleanup runs on that path too.

    Python workers are forked by the Spark JVM; when the JVM ends first they
    are re-parented here, where ``stop_processes`` can wait for them."""
    ctypes.CDLL(None, use_errno=True).prctl(_PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0)
    signal.signal(signal.SIGTERM, lambda signum, frame: sys.exit(128 + signum))


def _reap() -> None:
    """Collect the exit status of every child that has ended."""
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid == 0:
            return


def _live_descendants() -> list[int]:
    _reap()
    return _descendants(os.getpid(), _proc_table()[0])


def stop_processes(grace_s: float = 30.0) -> None:
    """Stop the Spark JVM this process launched, then every process still
    below this one, and return only when all of them have ended.

    The JVM is asked first (its stdin closes, it runs its shutdown hooks
    and exits); whatever is left gets SIGTERM, and SIGKILL after a grace
    period."""
    from pyspark import SparkContext

    signal.signal(signal.SIGTERM, signal.SIG_IGN)  # finish the cleanup
    if SparkContext._active_spark_context is not None:
        try:
            SparkContext._active_spark_context.stop()
        except Exception as exc:  # a broken gateway still has a process to stop
            log(f"perfbench: SparkContext.stop failed: {exc}")
    gateway, SparkContext._gateway, SparkContext._jvm = SparkContext._gateway, None, None
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()
        try:
            proc.wait(timeout=grace_s)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    deadline = time.monotonic() + grace_s
    while left := _live_descendants():
        sig = signal.SIGTERM if time.monotonic() < deadline else signal.SIGKILL
        for pid in left:
            try:
                os.kill(pid, sig)
            except ProcessLookupError:
                pass
        time.sleep(0.2)


# ---------------------------------------------------------------------------
# Cached data left behind by library calls
# ---------------------------------------------------------------------------

def release_cached(spark) -> int:
    """Count RDDs still persisted (cached tables hold one once built), then
    release them and every cached table, so the next job starts clean."""
    rdds = spark.sparkContext._jsc.getPersistentRDDs()
    leaked = rdds.size()
    for rdd_id in list(rdds.keySet().toArray()):
        rdds.get(rdd_id).unpersist(True)
    spark.catalog.clearCache()
    return leaked


def touch_engine(batches):
    """First Python job of a session: starts the workers and pays the
    import a ``pip_join`` task pays."""
    import gdal_spark.operators.pip_join  # noqa: F401

    yield from batches


def log(msg: str) -> None:
    print(msg, file=sys.stderr, flush=True)
