"""Session lifecycle, the closed-loop op runner, host stamp and statistics."""

from __future__ import annotations

import gc
import os
import resource
import shutil
import statistics
import subprocess
import sys
import threading
import time
import traceback
from contextlib import contextmanager
from dataclasses import dataclass, field

from spans import Tracer


_PHASE_LOCK = threading.Lock()


@dataclass
class OpRecord:
    kind: str
    seconds: float
    rows: int = 0  # input rows this op processed (rows_per_s)
    error: str | None = None
    out: object = None  # kept for the output checks after the timed region

    @property
    def ok(self) -> bool:
        return self.error is None


@dataclass
class Ctx:
    """What a workload gets: the session, its seed and size, a scratch
    dir, the tracer, and places to put setup timings and report values."""

    spark: object
    seed: int
    seconds: float
    tiny: bool  # smoke-test size
    trace: bool
    work: str
    tracer: Tracer
    perturb: bool = False  # smoke test: every output check expects a wrong value
    phases: dict = field(default_factory=dict)  # setup phase -> seconds
    report: dict = field(default_factory=dict)  # workload-specific report values
    layers: dict = field(default_factory=dict)  # workload-specific per-layer values
    tables: str | None = None  # dir of the generated driver tables, if the workload has them
    timed_from: float | None = None  # time.time() of the first timed op
    records: list = field(default_factory=list)  # OpRecords of the timed loop
    after_op: list = field(default_factory=list)  # hooks run after each op, untimed

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)

    @contextmanager
    def phase(self, name: str):
        """Time one setup step (reported always, as a per-layer metric
        ``<name>_s`` in the traced run)."""
        t = time.perf_counter()
        yield
        with _PHASE_LOCK:  # parts set up concurrently
            self.phases[name] = self.phases.get(name, 0.0) + time.perf_counter() - t

    def run_timed(self, make_cycle) -> None:
        """The measured part of a run: the closed loop for ``seconds``,
        with spans on in a traced run. Setup's garbage is collected first,
        in the JVM and in Python, so that a collection setup left due does
        not land in a timed op."""
        self.spark._jvm.System.gc()
        gc.collect()
        self.timed_from = time.time()
        self.tracer.enabled = self.trace
        self.records = cycles_loop(self, make_cycle)
        self.tracer.enabled = False


def cycles_loop(ctx: Ctx, make_cycle) -> list[OpRecord]:
    """Closed loop, one client: run whole cycles of ops back to back until
    ``ctx.seconds`` have passed, or ``make_cycle`` returns no ops.
    ``make_cycle(i)`` returns the i-th cycle as a list of (kind, fn,
    rows); ``fn()`` runs one op and returns what the output check needs.
    An op that raises is recorded as failed and the loop goes on.
    Stopping only between cycles keeps the op mix the same in every run."""
    recs: list[OpRecord] = []
    t0 = time.perf_counter()
    i = 0
    while time.perf_counter() - t0 < ctx.seconds:
        cycle = make_cycle(i)
        if not cycle:
            break
        for kind, fn, rows in cycle:
            start = time.perf_counter()
            try:
                with ctx.tracer.op(kind):
                    out = fn()
                recs.append(OpRecord(kind, time.perf_counter() - start, rows, out=out))
            except Exception as exc:  # a failed op is counted, not fatal
                recs.append(OpRecord(kind, time.perf_counter() - start, rows,
                                     error=f"{type(exc).__name__}: {exc}"))
                traceback.print_exc(file=sys.stderr)
            for hook in ctx.after_op:
                hook(recs[-1])
        i += 1
    return recs


def noop_sink(df) -> None:
    """Run a DataFrame to completion without keeping its rows."""
    df.write.format("noop").mode("overwrite").save()


# ---------------------------------------------------------------------------
# session


def start_session(work: str):
    """The package's own session factory, with every scratch location
    (Spark local dirs, JVM and Python temp files) inside ``work``."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    # no hsperfdata files under /tmp from the launcher or driver JVM
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
    from customer_activity_lakehouse_spark.session import get_spark

    spark = get_spark(
        app_name="perfbench",
        extra_conf={
            "spark.local.dir": tmp,
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def jvm_proc(spark):
    return spark.sparkContext._gateway.proc


def peak_rss_mb(spark) -> float:
    """VmHWM of the driver JVM plus the driver Python process."""
    jvm_kb = 0
    with open(f"/proc/{jvm_proc(spark).pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                jvm_kb = int(line.split()[1])
    py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    return (jvm_kb + py_kb) / 1024.0


def stop_session(spark) -> None:
    """Stop Spark and wait for the driver JVM to exit."""
    from pyspark import SparkContext

    proc = jvm_proc(spark)
    spark.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        gateway.shutdown()
    if proc.stdin is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait(timeout=30)


# ---------------------------------------------------------------------------
# host stamp and solo-run guard


def other_processes(names=("java", "pytest")) -> list[str]:
    """Command lines of other running java/pytest processes; timing next
    to them is inflated (about 20% beside a concurrent pytest run)."""
    me = os.getpid()
    found = []
    for pid in filter(str.isdigit, os.listdir("/proc")):
        if int(pid) == me:
            continue
        try:
            with open(f"/proc/{pid}/cmdline", "rb") as f:
                argv = f.read().split(b"\0")
        except OSError:
            continue
        exe = os.path.basename(argv[0].decode(errors="replace")) if argv and argv[0] else ""
        words = " ".join(a.decode(errors="replace") for a in argv[:6])
        if exe in names or (exe.startswith("python") and "pytest" in words):
            found.append(f"{pid} {words[:120]}")
    return found


def cpu_probe_s() -> float:
    """Seconds for a fixed pure-Python loop: taken at the start and the end
    of a run, it shows host-speed drift between runs (a shared 4-core
    cloud host drifted by up to 2x within an hour)."""
    t = time.perf_counter()
    s = 0
    for i in range(2_000_000):
        s += i
    return time.perf_counter() - t


def git_head(root: str) -> str | None:
    if not os.path.isdir(os.path.join(root, ".git")):
        return None
    try:
        r = subprocess.run(["git", "-C", root, "rev-parse", "HEAD"],
                           capture_output=True, text=True, timeout=10)
    except (OSError, subprocess.TimeoutExpired):
        return None
    return r.stdout.strip() or None


def host_stamp(root: str, others: list[str]) -> dict:
    import pyspark

    return {
        "nproc": len(os.sched_getaffinity(0)),
        "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
        "pyspark": pyspark.__version__,
        "git_head": git_head(root),
        "other_processes": others,
        "contended": bool(others),
    }


# ---------------------------------------------------------------------------
# statistics


def percentile(values: list[float], q: float) -> float:
    """Nearest-rank percentile (q in (0, 100])."""
    s = sorted(values)
    k = max(0, min(len(s) - 1, int(-(-q * len(s) // 100)) - 1))
    return s[k]


def median(values: list[float]) -> float:
    return statistics.median(values) if values else 0.0


def reset_dir(path: str) -> None:
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path, exist_ok=True)
