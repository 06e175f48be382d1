"""Process, session and measurement plumbing shared by the workloads.

Everything the benchmark writes goes under ``perfbench/.work`` in the
checkout: staged inputs (cached per workload and seed), Spark's local
and temp directories, and the trace files.  One driver process runs
``local[nproc]`` with one BLAS thread per worker.
"""
from __future__ import annotations

import json
import os
import shutil
import statistics
import sys
import time

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)
WORK = os.path.join(BENCH_DIR, ".work")
CACHE = os.path.join(WORK, "cache")
TMP = os.path.join(WORK, "tmp")
CORES = os.cpu_count() or 1


def prepare_environment() -> None:
    """Must run before numpy or pyspark are imported: thread counts,
    worker interpreter, temp directories and loopback binding are read
    once at import or JVM launch."""
    os.makedirs(TMP, exist_ok=True)
    for v in ("OMP_NUM_THREADS", "OPENBLAS_NUM_THREADS", "MKL_NUM_THREADS"):
        os.environ[v] = "1"
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable
    # Python workers import the package from the checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["TMPDIR"] = TMP
    os.environ["SPARK_LOCAL_IP"] = "127.0.0.1"
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    # the launcher JVM that spark-submit starts first, too
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-Djava.io.tmpdir={TMP} -XX:-UsePerfData"
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)


def start_session(ui: bool = False):
    """Start the run's Spark session (and its JVM).  The settings follow
    the repo's own bench.py, sized to this host: local[nproc], one
    shuffle partition per core, AQE on, UTC, bounded Arrow batches."""
    from pyspark.sql import SparkSession
    b = (SparkSession.builder.master(f"local[{CORES}]")
         .appName("hiselspark-perfbench")
         .config("spark.sql.shuffle.partitions", str(CORES))
         .config("spark.sql.adaptive.enabled", "true")
         .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
         .config("spark.sql.session.timeZone", "UTC")
         .config("spark.sql.execution.arrow.pyspark.enabled", "true")
         .config("spark.sql.execution.arrow.maxRecordsPerBatch", "2048")
         .config("spark.python.unix.domain.socket.enabled", "true")
         .config("spark.local.dir", os.path.join(WORK, "spark-local"))
         .config("spark.sql.warehouse.dir", os.path.join(WORK, "warehouse"))
         .config("spark.ui.showConsoleProgress", "false")
         .config("spark.ui.enabled", "true" if ui else "false")
         .config("spark.driver.memory", "2g")
         # -XX:-UsePerfData keeps the JVM from writing hsperfdata under
         # /tmp.  The throughput collector grows the heap in steps that
         # repeat from run to run: the JVM's VmHWM varied by about 2%
         # over seeds with it and by 40% with the default G1, whose
         # adaptive sizing dominated peak_rss_mb.
         .config("spark.driver.extraJavaOptions",
                 f"-Djava.io.tmpdir={TMP} -XX:-UsePerfData "
                 "-XX:+UseParallelGC"))
    if ui:
        b = b.config("spark.ui.port", "4140")
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def shutdown_jvm() -> None:
    """Stop the gateway JVM and wait for it (its Python workers die
    with it)."""
    import subprocess

    from py4j.protocol import Py4JError
    from pyspark import SparkContext
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = gw.proc
    try:
        gw.shutdown()
    except Py4JError:
        pass  # the JVM is already gone
    proc.stdin.close()
    try:
        proc.wait(timeout=30)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def _children() -> dict:
    out: dict = {}
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        out.setdefault(ppid, []).append(int(pid))
    return out


def _hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def peak_rss_mb() -> float:
    """Sum of VmHWM over the gateway JVM and every process below it
    (the Python worker daemon and its forked workers)."""
    from pyspark import SparkContext
    root = SparkContext._gateway.proc.pid
    kids = _children()
    todo, total, parts = [root], 0, []
    while todo:
        pid = todo.pop()
        hwm = _hwm_kb(pid)
        total += hwm
        parts.append(hwm // 1024)
        todo += kids.get(pid, [])
    log(f"VmHWM MB by process, JVM first: {parts}")
    return total / 1024.0


def median(xs) -> float:
    """Median; 0 when there is no value (every operation failed)."""
    return float(statistics.median(xs)) if xs else 0.0


class Ledger:
    """Counts operations (one pass or one catch-up step) and failures.
    ``fail`` makes every guarded operation raise instead of running, to
    test the failure path."""

    def __init__(self, fail: bool = False):
        self.attempted = 0
        self.failed = 0
        self.fail = fail

    def record(self, ok: bool, what: str, detail: str = "") -> bool:
        self.attempted += 1
        if not ok:
            self.failed += 1
            print(f"FAILED {what}: {detail}", file=sys.stderr, flush=True)
        return ok

    def guard(self, what: str, fn):
        """Run ``fn``; an exception counts as a failed operation and
        returns None."""
        try:
            if self.fail:
                raise RuntimeError("injected failure")
            return fn()
        except Exception as e:  # the benchmark keeps going
            import traceback
            traceback.print_exc()
            self.record(False, what, repr(e)[:300])
            return None


def _steal_s() -> float:
    """Host CPU time stolen from this VM so far (``/proc/stat``)."""
    try:
        with open("/proc/stat") as f:
            return int(f.readline().split()[8]) / os.sysconf("SC_CLK_TCK")
    except (OSError, IndexError, ValueError):
        return 0.0


def emit(ledger: Ledger, metrics: dict) -> None:
    # steal shifts every timing; logged so that a noisy run can be told
    # apart from a slow program
    log(f"host CPU steal during the run: {_steal_s() - _STEAL0:.1f} s")
    print(json.dumps({
        "correct": ledger.failed == 0,
        "attempted": ledger.attempted,
        "failed": ledger.failed,
        "metrics": {k: {"value": v, "unit": u}
                    for k, (v, u) in metrics.items()},
    }), flush=True)


def fresh_dir(path: str) -> str:
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    return path


def log(msg: str) -> None:
    print(f"[perfbench {time.perf_counter() - _T0:7.2f}s] {msg}",
          file=sys.stderr, flush=True)


_T0 = time.perf_counter()
_STEAL0 = _steal_s()


def now() -> float:
    return time.perf_counter()


def _process_start() -> float:
    """This process's start on the ``now()`` clock, from its start time
    in ``/proc/self/stat`` (clock ticks since boot) and ``/proc/uptime``."""
    with open("/proc/self/stat") as f:
        ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return now() - (uptime - ticks / os.sysconf("SC_CLK_TCK"))


_PROC0 = _process_start()


def since_process_start() -> float:
    return now() - _PROC0
