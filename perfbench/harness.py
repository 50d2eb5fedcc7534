"""Run scaffolding shared by the workloads: the working directory inside
the checkout, the timed session set-up, run stamps, statistics, and the
result line."""

from __future__ import annotations

import ctypes
import hashlib
import json
import os
import platform
import signal
import statistics
import subprocess
import sys
import tempfile
import time
from dataclasses import dataclass, field

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench_work")


def cpus() -> int:
    return len(os.sched_getaffinity(0))


@dataclass
class Ctx:
    """Per-run state the workloads share."""

    workload: str
    seed: int
    seconds: float
    trace: bool
    run_dir: str
    spark: object = None
    catalog: dict = field(default_factory=dict)
    setup: dict = field(default_factory=dict)
    eventlog_dir: str = ""
    #: operations started; the run's `attempted`
    attempted: int = 0

    def dir(self, *parts: str) -> str:
        p = os.path.join(self.run_dir, *parts)
        os.makedirs(p, exist_ok=True)
        return p


def prepare_env(workload: str, seed: int) -> str:
    """Point every temp/scratch location of Python, the JVM and Spark's
    Python workers into this run's directory under the checkout. Must run
    before pyspark starts its JVM."""
    run_dir = os.path.join(WORK, f"{workload}-{seed}-{os.getpid()}")
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus())
    os.environ.setdefault("SPARK_DRIVER_MEM", "2g")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)
    return run_dir


def session_conf(ctx: Ctx) -> dict[str, str]:
    conf = {
        "spark.local.dir": ctx.dir("spark-local"),
        "spark.sql.warehouse.dir": ctx.dir("warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={ctx.dir('tmp')}",
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.streaming.stopTimeout": "10s",
    }
    if ctx.trace:
        ctx.eventlog_dir = ctx.dir("eventlog")
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.compress": "false",
            "spark.eventLog.dir": ctx.eventlog_dir,
        })
    return conf


def setup(ctx: Ctx, warmup) -> None:
    """The process's one set-up, timed in three parts: session start
    (which launches the JVM), catalog load (the first import of every
    query module) and warm-up jobs. A fresh set-up costs ~13 s, so a run
    takes one and repeated runs give its spread."""
    from citydata_etl_spark.session import get_spark

    n = cpus()
    t0 = time.perf_counter()
    ctx.spark = get_spark(
        app_name=f"perfbench-{ctx.workload}", master=f"local[{n}]",
        shuffle_partitions=n, extra_conf=session_conf(ctx),
    )
    t1 = time.perf_counter()
    from citydata_etl_spark.plans.catalog import load_all

    ctx.catalog = load_all()
    t2 = time.perf_counter()
    warmup(ctx.spark)
    t3 = time.perf_counter()
    ctx.setup = {
        "session.start_s": t1 - t0,
        "session.catalog_load_s": t2 - t1,
        "session.warmup_s": t3 - t2,
        "setup_s": t3 - t0,
    }


def warmup_jobs(spark, parquet_path: str) -> None:
    """JVM warm-up: a parquet scan and a shuffle aggregate. Python
    worker start-up is left to the first measured operation (cold_s)."""
    from pyspark.sql import functions as F

    spark.read.parquet(parquet_path).count()
    spark.range(10_000).groupBy((F.col("id") % 7).alias("k")).count().count()


#: prctl option: orphaned descendants are re-parented to this process
PR_SET_CHILD_SUBREAPER = 36


def adopt_descendants() -> None:
    """Make this process the reaper of every process it starts, directly
    or not, so that stop_processes can wait for the JVM's own children
    (Spark's Python workers) too. Linux only; a no-op elsewhere."""
    try:
        ctypes.CDLL(None, use_errno=True).prctl(
            PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0)
    except (OSError, AttributeError):
        pass


def _descendants(pid: int) -> list[int]:
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        try:
            tasks = os.listdir(f"/proc/{p}/task")
        except OSError:
            continue
        for t in tasks:
            try:
                with open(f"/proc/{p}/task/{t}/children") as f:
                    kids = [int(x) for x in f.read().split()]
            except OSError:
                continue
            out += kids
            todo += kids
    return out


def _reap_all() -> None:
    """Collect every ended child without blocking."""
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid == 0:
            return


def stop_processes(grace_s: float = 30.0) -> None:
    """Stop Spark and the gateway JVM (which exits when its stdin
    closes), then every other process this one started, and wait until
    each has ended."""
    try:
        from pyspark import SparkContext

        if SparkContext._active_spark_context is not None:
            SparkContext._active_spark_context.stop()
        gateway = SparkContext._gateway
        proc = getattr(gateway, "proc", None)
        if gateway is not None:
            SparkContext._gateway = SparkContext._jvm = None
            gateway.shutdown()
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=grace_s)
            except subprocess.TimeoutExpired:
                pass
    except Exception as ex:  # still stop the processes below
        print(f"perfbench: stopping Spark: {ex!r}", file=sys.stderr)
    for sig in (signal.SIGTERM, signal.SIGKILL):
        deadline = time.monotonic() + 5.0
        while True:
            _reap_all()
            pids = _descendants(os.getpid())
            if not pids or time.monotonic() > deadline:
                break
            for p in pids:
                try:
                    os.kill(p, sig)
                except ProcessLookupError:
                    pass
            time.sleep(0.1)
    while True:  # what is left was SIGKILLed: wait for it
        try:
            os.waitpid(-1, 0)
        except ChildProcessError:
            break


def driver_peak_rss_mb(spark) -> float:
    """VmHWM (peak resident set) of the driver JVM, in MB."""
    pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("VmHWM not found")


def stamps(ctx: Ctx) -> dict:
    """What actually ran: CPUs requested vs seen, versions, source."""
    import pyspark

    try:
        commit = subprocess.run(
            ["git", "-C", ROOT, "rev-parse", "HEAD"], capture_output=True,
            text=True, timeout=10,
        ).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        commit = None
    h = hashlib.sha256()
    pkg = os.path.join(ROOT, "citydata_etl_spark")
    for d, _, files in sorted(os.walk(pkg)):
        for fn in sorted(files):
            if fn.endswith(".py"):
                with open(os.path.join(d, fn), "rb") as f:
                    h.update(fn.encode() + f.read())
    sc = ctx.spark.sparkContext
    return {
        "workload": ctx.workload,
        "seed": ctx.seed,
        "seconds": ctx.seconds,
        "trace": ctx.trace,
        "requested_cpus": cpus(),
        "default_parallelism": sc.defaultParallelism,
        "os_cpu_count": os.cpu_count(),
        "master": sc.master,
        "git_commit": commit,
        "source_sha256": h.hexdigest(),
        "spark_version": ctx.spark.version,
        "pyspark_version": pyspark.__version__,
        "python_version": platform.python_version(),
    }


def median(xs) -> float:
    return float(statistics.median(xs))


def tail(xs) -> dict | None:
    """The highest percentile with at least ten samples beyond it, with
    its sample count; None when there are too few samples."""
    n = len(xs)
    if n < 20:
        return None
    i = n - 11  # the highest sorted index with ten samples above it
    return {"pct": round(100.0 * (i + 1) / n, 1), "value": sorted(xs)[i],
            "n": n}


class CheckFailed(AssertionError):
    """A wrong answer: fails the run outright."""


def check(cond: bool, what: str) -> None:
    if not cond:
        raise CheckFailed(what)


def emit(ctx: Ctx, result: dict, detail: dict) -> None:
    """Write the detail JSON under the run directory's parent, print a
    human-readable metric list, then the result object as the last line."""
    out = os.path.join(WORK, "results")
    os.makedirs(out, exist_ok=True)
    name = f"{ctx.workload}-seed{ctx.seed}-trace{int(ctx.trace)}.json"
    with open(os.path.join(out, name), "w") as f:
        json.dump({"result": result, **detail}, f, indent=1, sort_keys=True,
                  default=str)
    for k, v in sorted(detail.get("report", {}).items()):
        print(f"# {k} = {v}")
    print(json.dumps(result))
