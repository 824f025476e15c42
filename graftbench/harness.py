"""Shared machinery: run directories, the fresh session, host noise
records, the closed-loop pass runner and the summary statistics.

One run is one process with one client in a closed loop. The engine
runs on ``local[2]`` (``SPARK_GRAFT_CPUS``) with a driver heap that fits
a 15 GB host (``SPARK_GRAFT_DRIVER_MEM``). Every file the run writes,
Spark's and the JVM's scratch included, lives under the checkout's
``.bench_build/graftbench``.
"""

from __future__ import annotations

import gc
import json
import math
import os
import random
import resource
import shutil
import statistics
import sys
import time
from dataclasses import dataclass, field
from pathlib import Path
from typing import Callable

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORK = ROOT / ".bench_build" / "graftbench"
TASK_THREADS = "2"
DRIVER_MEM = "3g"
CLK_TCK = os.sysconf("SC_CLK_TCK")
TAIL_BEYOND = 10  # the tail is the highest rank with this many samples above it


def process_age_s() -> float:
    """Seconds since this process was started by the kernel."""
    with open("/proc/self/stat") as fh:
        start_ticks = int(fh.read().rsplit(")", 1)[1].split()[19])
    return time.clock_gettime(time.CLOCK_BOOTTIME) - start_ticks / CLK_TCK


class RunDir:
    """A private scratch tree for one run; removed when the run ends."""

    def __init__(self, workload: str, seed: int):
        self.path = WORK / f"{workload}-s{seed}-p{os.getpid()}"
        shutil.rmtree(self.path, ignore_errors=True)
        for sub in ("tmp", "local", "events", "inputs", "warehouse"):
            (self.path / sub).mkdir(parents=True)
        os.environ["TMPDIR"] = str(self.path / "tmp")
        os.environ["SPARK_LOCAL_DIRS"] = str(self.path / "local")
        os.environ["SPARK_GRAFT_CPUS"] = TASK_THREADS
        os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
        # every JVM of the run (the launcher's too) keeps its files here
        os.environ["JAVA_TOOL_OPTIONS"] = (
            f"-Djava.io.tmpdir={self.path / 'tmp'} -XX:-UsePerfData")
        # Python workers import the engine and its plan modules by name.
        paths = [str(ROOT)] + [p for p in os.environ.get("PYTHONPATH", "").split(":") if p]
        os.environ["PYTHONPATH"] = ":".join(paths)
        import tempfile

        tempfile.tempdir = os.environ["TMPDIR"]

    def sub(self, name: str) -> Path:
        p = self.path / name
        p.mkdir(parents=True, exist_ok=True)
        return p

    def remove(self) -> None:
        shutil.rmtree(self.path, ignore_errors=True)


def start_session(run: RunDir, app: str, event_log: bool):
    """Launch the JVM and the engine's session, then run one warm-up job.

    Returns (spark, jvm_start_s, warmup_s)."""
    from etl_with_s3__dynamodb_and_glue_spark import get_spark

    conf = {
        "spark.local.dir": str(run.path / "local"),
        "spark.sql.warehouse.dir": str(run.path / "warehouse"),
    }
    if event_log:
        conf["spark.eventLog.enabled"] = "true"
        conf["spark.eventLog.dir"] = f"file://{run.path / 'events'}"
        conf["spark.eventLog.compress"] = "false"
    t0 = time.perf_counter()
    spark = get_spark(app, extra_conf=conf)
    t1 = time.perf_counter()
    spark.range(1000).selectExpr("sum(id) AS s").collect()
    return spark, t1 - t0, time.perf_counter() - t1


def jvm_pid(spark) -> int:
    return int(spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid())


# --- ending every process the run started ---------------------------------

PR_SET_CHILD_SUBREAPER = 36
END_GRACE_S = 30.0  # how long the JVM and its workers get to exit before a kill


def adopt_orphans() -> None:
    """Make this process the reaper of its orphaned descendants, so a
    Python worker whose JVM has gone is re-parented here, not to init,
    and :func:`end_processes` can wait for it."""
    import ctypes

    libc = ctypes.CDLL(None, use_errno=True)
    libc.prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0)


def _children() -> list[int]:
    me = os.getpid()
    out = []
    for entry in os.scandir("/proc"):
        if not entry.name.isdigit():
            continue
        try:
            with open(f"/proc/{entry.name}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, ValueError, IndexError):
            continue
        if ppid == me:
            out.append(int(entry.name))
    return out


def end_processes(spark) -> None:
    """Stop the session, end the JVM and every process under this one,
    and wait until each has ended.

    The JVM exits when its stdin closes; after ``END_GRACE_S`` it, and
    any process left under this one, is killed."""
    import signal
    import subprocess

    if spark is not None:
        try:
            spark.stop()
        except Exception:  # noqa: BLE001 — the JVM is ended below either way
            pass
    context = sys.modules.get("pyspark.context")
    gateway = context.SparkContext._gateway if context else None
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        try:
            gateway.shutdown()
        except Exception:  # noqa: BLE001
            pass
        context.SparkContext._gateway = context.SparkContext._jvm = None
    if proc is not None:
        if proc.stdin is not None:
            try:
                proc.stdin.close()
            except OSError:
                pass
        try:
            proc.wait(timeout=END_GRACE_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    deadline = time.monotonic() + END_GRACE_S
    sig = signal.SIGTERM
    while True:
        try:
            while os.waitpid(-1, os.WNOHANG)[0]:
                pass
        except ChildProcessError:
            return
        if time.monotonic() > deadline:
            sig = signal.SIGKILL
        for pid in _children():
            try:
                os.kill(pid, sig)
            except ProcessLookupError:
                pass
        time.sleep(0.05)


# --- host noise ----------------------------------------------------------


def _cpu_ticks() -> tuple[int, int]:
    with open("/proc/stat") as fh:
        vals = [int(v) for v in fh.readline().split()[1:]]
    # user nice system idle iowait irq softirq steal [guest guest_nice]
    return sum(vals[:8]), vals[7]


def _proc_cpu_s(pid: int) -> float:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            f = fh.read().rsplit(")", 1)[1].split()
        return (int(f[11]) + int(f[12])) / CLK_TCK
    except OSError:
        return 0.0


def peak_rss_mb(pid: int) -> float:
    """JVM high-water RSS plus this process's, in MB."""
    jvm_kb = 0
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    jvm_kb = int(line.split()[1])
    except OSError:
        pass
    return (jvm_kb + resource.getrusage(resource.RUSAGE_SELF).ru_maxrss) / 1024


class HostProbe:
    """Steal share and engine CPU seconds (JVM + driver Python) over an
    interval. Reported only: never used to drop or re-weight samples."""

    def __init__(self, jvm: int):
        self.jvm = jvm
        self._mark()

    def _mark(self) -> None:
        self.total, self.steal = _cpu_ticks()
        self.cpu = _proc_cpu_s(self.jvm) + _proc_cpu_s(os.getpid())

    def lap(self) -> dict:
        total, steal, cpu = self.total, self.steal, self.cpu
        self._mark()
        dt = self.total - total
        return {
            "steal_share": (self.steal - steal) / dt if dt else 0.0,
            "cpu_s": self.cpu - cpu,
        }


# --- the closed loop ------------------------------------------------------


@dataclass
class OpRun:
    op: str
    pass_no: int
    seconds: float
    result: object = None  # what the op returned, verified after timing
    error: str | None = None
    ok: bool | None = None  # set by verification
    span: dict | None = None  # a traced op's per-layer record


@dataclass
class Timed:
    """What a traced op returns: it times its own phases, so its latency
    leaves out the bookkeeping it does after them."""
    seconds: float
    result: object
    span: dict


@dataclass
class PassLog:
    runs: list[OpRun] = field(default_factory=list)
    passes: list[dict] = field(default_factory=list)  # per-pass host record


def run_passes(ops: dict[str, Callable[[], object]], first: int, count: int,
               seed: int, log: PassLog, probe: HostProbe,
               around: Callable[[str, int], object] | None = None) -> None:
    """Run ``count`` passes over ``ops`` (numbered from ``first``), each
    in a seed-shuffled order, timing every op on its own (an op that
    returns :class:`Timed` reports its own latency). ``around``
    optionally returns a context manager wrapped around each op.

    Python garbage is collected before each op, outside the timed
    region, so no op pays for collecting an earlier op's garbage."""
    for p in range(first, first + count):
        order = list(ops)
        random.Random(f"{seed}:{p}").shuffle(order)
        probe.lap()
        t_pass = time.perf_counter()
        for name in order:
            gc.collect()
            ctx = around(name, p) if around else None
            if ctx is not None:
                ctx.__enter__()
            t0 = time.perf_counter()
            try:
                out = ops[name]()
                run = OpRun(name, p, time.perf_counter() - t0, out)
                if isinstance(out, Timed):
                    run.seconds, run.result, run.span = out.seconds, out.result, out.span
            except Exception as exc:  # noqa: BLE001 — a failed op is a result
                run = OpRun(name, p, time.perf_counter() - t0,
                            error=f"{type(exc).__name__}: {exc}"[:400])
            finally:
                if ctx is not None:
                    ctx.__exit__(None, None, None)
            log.runs.append(run)
        host = probe.lap()
        log.passes.append({"pass": p, "seconds": time.perf_counter() - t_pass,
                           "ops": len(order), **host})


# --- statistics -----------------------------------------------------------


def tail(samples: list[float]) -> tuple[float, float, int]:
    """The highest percentile with at least ``TAIL_BEYOND`` samples
    beyond it. Failures are passed as ``inf`` so they rank last.

    Returns (value, percentile, sample count)."""
    xs = sorted(samples)
    n = len(xs)
    if n <= TAIL_BEYOND:
        raise ValueError(f"the tail needs more than {TAIL_BEYOND} samples, got {n}")
    rank = n - TAIL_BEYOND - 1
    return xs[rank], 100.0 * (rank + 1) / n, n


def latency_summary(window: list[OpRun]) -> dict:
    """p50 and tail over the warm window; failures rank last."""
    xs = [r.seconds if r.ok else math.inf for r in window]
    finite = [x for x in xs if math.isfinite(x)]
    p50 = statistics.median(xs) if finite else math.inf
    t, pct, n = tail(xs)
    cap = max(finite) if finite else 0.0
    return {"latency_p50_s": p50 if math.isfinite(p50) else cap,
            "latency_tail_s": t if math.isfinite(t) else cap,
            "tail_percentile": pct, "tail_samples": n}


def per_op_medians(window: list[OpRun]) -> dict[str, float]:
    by_op: dict[str, list[float]] = {}
    for r in window:
        by_op.setdefault(r.op, []).append(r.seconds)
    return {op: statistics.median(v) for op, v in by_op.items()}


def metric(value: float, unit: str) -> dict:
    return {"value": float(value), "unit": unit}


def write_record(kind: str, workload: str, seed: int, record: dict) -> Path:
    out = WORK / "records"
    out.mkdir(parents=True, exist_ok=True)
    path = out / f"{workload}-{kind}-s{seed}-p{os.getpid()}.json"
    path.write_text(json.dumps(record, indent=1, default=str))
    return path
