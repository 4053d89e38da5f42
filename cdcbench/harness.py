"""Host profile, Spark session lifetime and operation accounting.

One JVM per run, sized from the host: ``nproc`` task slots, GC threads
capped to match, heap from ``/proc/meminfo``. Every file the run writes
(Spark local dirs, JVM tmp, event log, tables) lives under one work
directory inside the checkout, removed when the run ends.
"""

from __future__ import annotations

import os
import shutil
import statistics
import sys
import time
import traceback

HEAP_SHARE = 4             # heap = MemTotal / 4 ...
HEAP_MAX_MB = 6 * 1024     # ... capped at 6 GB
HEAP_MIN_MB = 1024


def process_age_s() -> float:
    """Seconds since this process started (kernel start time), so that
    set-up time includes interpreter start and imports. 0 if unknown."""
    try:
        with open("/proc/self/stat") as f:
            start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
        with open("/proc/uptime") as f:
            uptime = float(f.read().split()[0])
        return max(uptime - start_ticks / os.sysconf("SC_CLK_TCK"), 0.0)
    except (OSError, ValueError, IndexError):
        return 0.0


def host_profile() -> dict:
    cores = len(os.sched_getaffinity(0)) if hasattr(os, "sched_getaffinity") else os.cpu_count()
    mem_mb = None
    try:
        with open("/proc/meminfo") as f:
            for line in f:
                if line.startswith("MemTotal:"):
                    mem_mb = int(line.split()[1]) // 1024
    except OSError:
        pass
    heap_mb = HEAP_MAX_MB if mem_mb is None else max(HEAP_MIN_MB, min(HEAP_MAX_MB, mem_mb // HEAP_SHARE))
    return {"cores": int(cores or 1), "mem_mb": mem_mb, "heap_mb": heap_mb}


def prepare_env(work: str, profile: dict) -> None:
    """Point every temp/scratch location at ``work`` and fix the JVM
    flags. Must run before pyspark starts the JVM."""
    for d in ("tmp", "local"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["SPARK_DRIVER_MEM"] = f"{profile['heap_mb']}m"
    # no /tmp/hsperfdata_<user> file, in spark-submit's launcher JVM too
    os.environ["JAVA_TOOL_OPTIONS"] = "-XX:-UsePerfData"
    n = profile["cores"]
    os.environ["SPARK_DRIVER_JAVA_OPTS"] = (
        f"-XX:+UseParallelGC -XX:ParallelGCThreads={n} -XX:CICompilerCount={max(2, min(n, 4))} "
        f"-Xms{profile['heap_mb']}m -Djava.io.tmpdir={os.path.join(work, 'tmp')}"
    )


def start_spark(work: str, profile: dict, event_log: bool):
    from etl_spark.session import get_spark

    conf = {
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.local.dir": os.path.join(work, "local"),
        "spark.ui.showConsoleProgress": "false",
    }
    if event_log:
        os.makedirs(os.path.join(work, "eventlog"), exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": os.path.join(work, "eventlog"),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    return get_spark(app_name="cdcbench", cores=profile["cores"], extra_conf=conf)


def stop_spark(spark) -> None:
    """Stop the context, then end the JVM and wait for it: the gateway
    process exits when its stdin closes."""
    import subprocess

    from py4j.protocol import Py4JError
    from pyspark import SparkContext

    gw = SparkContext._gateway
    spark.stop()
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    try:
        gw.shutdown()
    except (Py4JError, OSError):  # the JVM may already be gone; waiting below settles it
        pass
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)
    SparkContext._gateway = None
    SparkContext._jvm = None


def steal_s() -> float:
    """Host-wide CPU steal time so far (seconds): time the hypervisor ran
    something else while this VM's CPUs were runnable. 0 if unknown."""
    try:
        with open("/proc/stat") as f:
            fields = f.readline().split()
        return int(fields[8]) / os.sysconf("SC_CLK_TCK")
    except (OSError, ValueError, IndexError):
        return 0.0


def log(t_proc0: float, msg: str) -> None:
    """Progress line on stderr, stamped with seconds since process start."""
    print(f"[cdcbench {time.perf_counter() - t_proc0:7.2f}s] {msg}", file=sys.stderr, flush=True)


def remove_tree(path: str) -> None:
    shutil.rmtree(path, ignore_errors=True)


class Ops:
    """Counts attempted/failed operations and keeps their timings. A
    failing operation (exception or failed check) is recorded with its
    traceback on stderr; the run goes on."""

    def __init__(self):
        self.attempted = 0
        self.failed = 0
        self.checks_failed: list[str] = []
        self.times: dict[str, list[float]] = {}

    def run(self, kind: str, fn, *args, **kw):
        """Time ``fn``; return (ok, result). Timings of failed calls are
        not kept."""
        t0 = time.perf_counter()
        try:
            out = fn(*args, **kw)
        except Exception:
            self.attempted += 1
            self.failed += 1
            print(f"[cdcbench] operation {kind} failed:", file=sys.stderr)
            traceback.print_exc()
            return False, None
        self.record(kind, time.perf_counter() - t0)
        return True, out

    def record(self, kind: str, seconds: float) -> None:
        self.attempted += 1
        self.times.setdefault(kind, []).append(seconds)

    def fail(self, kind: str, n: int = 1) -> None:
        self.attempted += n
        self.failed += n

    def check(self, name: str, ok: bool, detail: str = "") -> bool:
        """A correctness check is an operation; a false one fails."""
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.checks_failed.append(name)
            print(f"[cdcbench] check {name} FAILED {detail}", file=sys.stderr)
        return ok

    def median(self, kind: str) -> float:
        xs = self.times.get(kind)
        return statistics.median(xs) if xs else float("nan")
