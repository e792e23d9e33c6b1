"""Process-level plumbing for the benchmark: environment, JVM lifetime,
in-process job calls, the operation ledger, memory sampling and the
host health probe.

Everything here is imported before pyspark, so it must not import
pyspark at module level (the environment has to be in place before the
first JVM launch reads it).
"""

from __future__ import annotations

import contextlib
import importlib.util
import io
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import threading
import time
import traceback

# the session factory's 16g default exceeds a 15 GB host; the inputs
# need a fraction of 1g, and a small heap keeps the JVM's share of the
# memory metric from swinging with when the collector happens to run
DRIVER_MEM = "1g"


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def master() -> str:
    return f"local[{nproc()}]"


def process_start_epoch() -> float:
    """Wall-clock time at which this process was started (from /proc)."""
    with open("/proc/self/stat") as fh:
        start_ticks = int(fh.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as fh:
        uptime = float(fh.read().split()[0])
    age = uptime - start_ticks / os.sysconf("SC_CLK_TCK")
    return time.time() - age


class Env:
    """Directories and environment for one benchmark process. Every
    file the engine writes (shuffle blocks, temp files, event logs,
    warehouse) lands under ``work`` inside the checkout."""

    def __init__(self, root: str, trace: bool):
        self.root = root
        self.work = os.path.join(root, "perfbench", "_work")
        self.cache = os.path.join(self.work, "cache")
        self.run_dir = os.path.join(self.work, f"run-{os.getpid()}")
        self.eventlog = os.path.join(self.run_dir, "eventlog")
        tmp = os.path.join(self.run_dir, "tmp")
        local = os.path.join(self.run_dir, "spark-local")
        for d in (self.cache, tmp, local, self.eventlog):
            os.makedirs(d, exist_ok=True)
        os.environ["PYTHONPATH"] = os.pathsep.join(
            p for p in (root, os.environ.get("PYTHONPATH", "")) if p
        )
        os.environ["TMPDIR"] = tmp
        os.environ["OCR_SPARK_LOCAL_DIR"] = local
        os.environ["SPARK_LOCAL_DIRS"] = local
        os.environ["OCR_SPARK_DRIVER_MEM"] = DRIVER_MEM
        os.environ["SPARK_GRAFT_CPUS"] = str(nproc())
        os.environ.pop("PYSPARK_GATEWAY_PORT", None)
        # every JVM (the spark-submit launcher too): temp files into the
        # run dir, and no hsperfdata file under /tmp
        os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
        args = [
            f"--conf spark.sql.warehouse.dir={os.path.join(self.run_dir, 'warehouse')}",
            "--conf spark.ui.showConsoleProgress=false",
        ]
        if trace:
            # uncompressed, unrolled logs: the default codec (zstd)
            # has no reader in this Python environment
            args += [
                "--conf spark.eventLog.enabled=true",
                f"--conf spark.eventLog.dir=file://{self.eventlog}",
                "--conf spark.eventLog.compress=false",
                "--conf spark.eventLog.rolling.enabled=false",
            ]
        os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(args + ["pyspark-shell"])
        tempfile.tempdir = tmp

    def path(self, *parts: str) -> str:
        return os.path.join(self.run_dir, *parts)

    def cleanup(self) -> None:
        shutil.rmtree(self.run_dir, ignore_errors=True)


# -- JVM lifetime -----------------------------------------------------------


def session():
    """The session a job gets from get_spark on this benchmark's master."""
    from ocr_spark.pipeline.session import get_spark

    return get_spark(master(), app_name="perfbench")


def stop_session() -> None:
    from pyspark.sql import SparkSession

    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()


def warm_session():
    """get_spark + one action that starts a Python worker: the state a
    job finds when it calls get_spark itself."""
    spark = session()
    spark.sparkContext.parallelize(range(nproc()), nproc()).map(
        lambda x: x + 1
    ).sum()
    return spark


def stop_jvm() -> None:
    """Stop the session and the JVM behind it, waiting for the JVM
    (and with it every Python worker) to exit; the next get_spark
    launches a fresh JVM."""
    from pyspark import SparkContext

    stop_session()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = gw.proc
    # cleanup: a gateway whose JVM already died raises here
    with contextlib.suppress(Exception):
        gw.shutdown()
    proc.stdin.close()  # the JVM exits when its stdin closes
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait(timeout=30)
    SparkContext._gateway = None
    SparkContext._jvm = None


def set_eventlog(enabled: bool) -> None:
    """Toggle the event log for SparkContexts created from now on (the
    submit arguments are JVM system properties, read by every new
    SparkConf)."""
    from pyspark import SparkContext

    SparkContext._jvm.java.lang.System.setProperty(
        "spark.eventLog.enabled", "true" if enabled else "false"
    )


# -- jobs -------------------------------------------------------------------


class JobFailed(RuntimeError):
    pass


def call_job(root: str, name: str, argv: list[str]) -> dict:
    """Run ``jobs/<name>.py``'s main() in this process with ``argv``
    and return the JSON summary it prints last."""
    spec = importlib.util.spec_from_file_location(
        f"perfbench_job_{name}", os.path.join(root, "jobs", f"{name}.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    out = io.StringIO()
    saved = sys.argv
    sys.argv = [f"jobs/{name}.py", *argv]
    try:
        with contextlib.redirect_stdout(out):
            mod.main()
    except SystemExit as exc:
        if exc.code not in (None, 0):
            raise JobFailed(f"{name} exited with {exc.code}") from exc
    finally:
        sys.argv = saved
    lines = [ln for ln in out.getvalue().splitlines() if ln.startswith("{")]
    if not lines:
        raise JobFailed(f"{name} printed no summary")
    return json.loads(lines[-1])


# -- operation ledger -------------------------------------------------------


class Ledger:
    """Counts operations (job calls, queries, checks). A failure is
    either put down to a documented known defect or unexplained; only
    unexplained failures make a run incorrect. Both count as failed."""

    def __init__(self):
        self.attempted = 0
        self.failed = 0
        self.known: list[dict] = []
        self.unexplained: list[dict] = []

    def op(self, name: str, fn, *args, known=None):
        """Run one operation and return its result, or None when it
        raised; ``known(exc)`` names the known defect that explains the
        exception, if one does."""
        self.attempted += 1
        try:
            return fn(*args)
        except Exception as exc:  # a failing operation is a measurement here
            self.failed += 1
            entry = {"op": name, "error": f"{type(exc).__name__}: {str(exc)[:300]}"}
            defect = known(exc) if known else None
            if defect:
                self.known.append({**entry, "defect": defect})
            else:
                entry["traceback"] = traceback.format_exc()[-1500:]
                self.unexplained.append(entry)
            return None

    def check(self, name: str, ok: bool, detail=None, known_defect=None) -> bool:
        """Record one correctness check; ``known_defect`` names the
        documented defect that fully accounts for a failure."""
        self.attempted += 1
        if not ok:
            self.failed += 1
            entry = {"op": name, "detail": detail}
            if known_defect:
                self.known.append({**entry, "defect": known_defect})
            else:
                self.unexplained.append(entry)
        return ok

    @property
    def correct(self) -> bool:
        return not self.unexplained


# -- memory -----------------------------------------------------------------


def _children() -> dict[int, list[int]]:
    """Parent pid -> child pids, for every process in /proc."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, ValueError, IndexError):
            continue
        children.setdefault(ppid, []).append(int(name))
    return children


def descendants(root_pid: int) -> list[int]:
    children, out, stack = _children(), [], [root_pid]
    while stack:
        kids = children.get(stack.pop(), ())
        out.extend(kids)
        stack.extend(kids)
    return out


def _tree_pss_bytes(root_pid: int) -> int:
    """Summed proportional set size of ``root_pid`` and its descendants:
    RSS with each shared page split between the processes sharing it,
    so the Python workers the daemon forks do not count its pages once
    per fork."""
    total = 0
    for pid in [root_pid, *descendants(root_pid)]:
        try:
            with open(f"/proc/{pid}/smaps_rollup") as fh:
                for line in fh:
                    if line.startswith("Pss:"):
                        total += int(line.split()[1]) * 1024
                        break
        except (OSError, ValueError, IndexError):
            pass  # the process exited between the listing and the read
    return total


class MemorySampler:
    """Peak summed PSS of this process and all its descendants (the JVM
    and the Python workers it forks), sampled from /proc."""

    interval = 0.1

    def __init__(self):
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self):
        pid = os.getpid()
        while not self._stop.is_set():
            self.peak = max(self.peak, _tree_pss_bytes(pid))
            self._stop.wait(self.interval)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=10)
        self.peak = max(self.peak, _tree_pss_bytes(os.getpid()))

    @property
    def peak_mb(self) -> float:
        return self.peak / (1 << 20)


# -- process tree -------------------------------------------------------------


def become_subreaper() -> None:
    """Make this process the reaper of every orphan among its
    descendants (the Python worker daemon outlives the JVM that forked
    it), so reap_descendants can find and wait for all of them."""
    import ctypes

    PR_SET_CHILD_SUBREAPER = 36
    libc = ctypes.CDLL(None, use_errno=True)
    if libc.prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0) != 0:
        raise OSError(ctypes.get_errno(), "prctl(PR_SET_CHILD_SUBREAPER)")


def _reap() -> None:
    with contextlib.suppress(ChildProcessError):
        while os.waitpid(-1, os.WNOHANG)[0]:
            pass


def reap_descendants(grace: float = 30.0) -> int:
    """Wait until no process started from this one is left; a process
    still running after ``grace`` seconds is killed. Returns how many
    were still there when the wait began."""
    _reap()
    left = descendants(os.getpid())
    n_left = len(left)
    deadline = time.time() + grace
    killed = False
    while left:
        if time.time() > deadline and not killed:
            for pid in left:
                with contextlib.suppress(ProcessLookupError):
                    os.kill(pid, signal.SIGKILL)
            killed, deadline = True, time.time() + grace
        elif time.time() > deadline:
            raise RuntimeError(f"processes {left} did not exit after SIGKILL")
        time.sleep(0.05)
        _reap()
        left = descendants(os.getpid())
    return n_left


# -- host probe ---------------------------------------------------------------

# one probe worker: reports ready, waits for the start line, then times
# three md5 chains
_PROBE_WORKER = """
import sys, time
sys.path.insert(0, sys.argv[1])
from harness import _hash_work
n = int(sys.argv[2])
print("ready", flush=True)
sys.stdin.readline()
for _ in range(3):
    t0 = time.perf_counter()
    _hash_work(n)
    print(time.perf_counter() - t0, flush=True)
"""


def _hash_work(n: int) -> int:
    import hashlib

    h = b"x"
    for _ in range(n):
        h = hashlib.md5(h).digest()
    return h[0]


def host_probe(n: int = 100_000) -> dict:
    """md5-chain rate on one core and on nproc processes: a slow host
    window shows up next to the benchmark's numbers. The parallel part
    runs plain child processes that are waited for, so the probe
    leaves no helper process behind."""
    cpus = nproc()
    singles = []
    for _ in range(3):
        t0 = time.perf_counter()
        _hash_work(n)
        singles.append(time.perf_counter() - t0)
    single_rate = n / statistics.median(singles) / 1e6
    procs = []
    try:
        for _ in range(cpus):
            procs.append(subprocess.Popen(
                [sys.executable, "-c", _PROBE_WORKER, os.path.dirname(os.path.abspath(__file__)),
                 str(n)],
                stdin=subprocess.PIPE, stdout=subprocess.PIPE, text=True,
            ))
        for p in procs:  # every worker is started before any is timed
            p.stdout.readline()
        for p in procs:
            p.stdin.write("go\n")
            p.stdin.close()
        rounds = [[float(x) for x in p.stdout.read().split()] for p in procs]
    finally:
        for p in procs:
            if p.poll() is None:
                p.kill()
            p.wait()
    par = min(max(r[i] for r in rounds) for i in range(3))
    par_rate = cpus * n / par / 1e6
    return {
        "single_mhash_per_s": single_rate,
        "parallel_eff": par_rate / (cpus * single_rate),
    }
