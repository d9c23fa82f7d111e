"""Run context shared by the workloads: pinned settings, Spark session
start and stop, the timed-pass loop and the statistics the metrics use.
"""

from __future__ import annotations

import math
import os
import shlex
import signal
import statistics
import subprocess
import sys
import time
from dataclasses import dataclass, field

from probes import RssSampler, Tracer, descendants

PROGRAM = "mysql_public_data_ingestor_spark"

# Spark driver heap, well under a 15 GB host's memory (the program's
# default of 24g is larger than it). The heap is committed whole from the
# start, so peak RSS does not depend on when G1 decides to grow it.
DRIVER_MEM = "3g"

# Fresh sessions per run, each launching its own JVM; setup_s is their
# median. One: a set-up costs 15-35 s on a 4-core host (JVM launch, cold
# JIT, warehouse builds), and a second per run does not fit the 3420 s
# budget for 4 + 22 x workloads runs.
SETUPS = 1



def median(xs) -> float:
    return float(statistics.median(xs))


def gmean(xs) -> float:
    return math.exp(sum(math.log(x) for x in xs) / len(xs))


def high_percentile(samples: list[float]) -> dict:
    """The highest of p50/p90/p99 with at least ten samples beyond it."""
    n = len(samples)
    out = {"n": n, "percentile": None, "value": None}
    for p in (99, 90, 50):
        if n * (100 - p) / 100 >= 10:
            out["percentile"] = p
            out["value"] = statistics.quantiles(samples, n=100, method="inclusive")[p - 1]
            break
    return out


def pin_settings(run_dir: str) -> dict:
    """Fix the run's settings before any JVM starts, through options the
    program and PySpark already read; returns them."""
    dirs = {k: os.path.join(run_dir, k) for k in ("warehouse", "local", "tmp")}
    for d in dirs.values():
        os.makedirs(d, exist_ok=True)
    cpus = len(os.sched_getaffinity(0))
    java_opts = f"-Xms{DRIVER_MEM} -Djava.io.tmpdir={dirs['tmp']} -XX:-UsePerfData"
    os.environ.update(
        SPARK_GRAFT_CPUS=str(cpus),
        SPARK_GRAFT_DRIVER_MEM=DRIVER_MEM,
        SPARK_LOCAL_DIRS=dirs["local"],
        TMPDIR=dirs["tmp"],
        PYSPARK_PYTHON=sys.executable,
        PYSPARK_SUBMIT_ARGS=" ".join([
            "--conf", shlex.quote(f"spark.sql.warehouse.dir={dirs['warehouse']}"),
            "--conf", "spark.ui.showConsoleProgress=false",
            "--driver-java-options", shlex.quote(java_opts),
            "pyspark-shell",
        ]),
    )
    return {"master": f"local[{cpus}]", "driver_memory": DRIVER_MEM, **dirs}


def purge_program() -> None:
    """Forget every imported program module, so the next import loads the
    program as a fresh process would (registry, warehouse state)."""
    for name in list(sys.modules):
        if name == PROGRAM or name.startswith(PROGRAM + ".") or name == "tools" or name.startswith("tools."):
            del sys.modules[name]


def start_spark():
    """The program's own session factory; returns (session, seconds)."""
    from mysql_public_data_ingestor_spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark("graftbench")
    return spark, time.perf_counter() - t0


def jvm_versions(spark) -> dict:
    return {"spark": spark.version, "java": spark._jvm.System.getProperty("java.version")}


def stop_active_spark() -> None:
    """``stop_spark`` for whatever session is still running, if any."""
    from pyspark import SparkContext

    if SparkContext._active_spark_context is not None or SparkContext._gateway is not None:
        stop_spark(SparkContext._active_spark_context)


def stop_spark(spark) -> None:
    """Stop the session (or context) and the JVM it launched, and wait
    until the JVM and every PySpark worker have exited."""
    from pyspark import SparkContext

    procs = [pid for pid, _ in descendants(os.getpid())]
    gateway = SparkContext._gateway
    if spark is not None:
        spark.stop()
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.terminate()
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait(timeout=10)
    SparkContext._gateway = None
    SparkContext._jvm = None
    wait_gone(procs)


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def wait_gone(pids: list[int], timeout: float = 30.0) -> None:
    """Wait for ``pids`` to exit; kill whichever outlive ``timeout``."""
    deadline = time.monotonic() + timeout
    while any(_alive(p) for p in pids):
        if time.monotonic() > deadline:
            for p in pids:
                if _alive(p):
                    try:
                        os.kill(p, signal.SIGKILL)
                    except ProcessLookupError:
                        pass
            deadline = time.monotonic() + timeout
        time.sleep(0.05)


@dataclass
class Run:
    """What one benchmark run accumulates."""

    seed: int
    seconds: float
    trace: bool
    run_dir: str
    tracer: Tracer = field(default_factory=Tracer)
    attempted: int = 0
    failed: int = 0
    failures: list[str] = field(default_factory=list)
    record: dict = field(default_factory=dict)
    rss: RssSampler = field(default_factory=RssSampler)

    def fail(self, what: str, exc: BaseException | str, ops: int = 1) -> None:
        self.failed += ops
        msg = exc if isinstance(exc, str) else f"{type(exc).__name__}: {str(exc).splitlines()[0] if str(exc) else ''}"
        self.failures.append(f"{what}: {msg}"[:300])

    def timed_passes(self, one_pass, min_passes: int) -> list[tuple[bool, float]]:
        """Call ``one_pass(traced)`` until ``seconds`` have passed and at
        least ``min_passes`` ran. With tracing on, untraced and traced
        passes alternate in the order U T T U, at least ``min_passes`` of
        each, so a pass time still drifting with the JIT favours neither."""
        passes: list[tuple[bool, float]] = []
        t0 = time.perf_counter()
        while True:
            traced = self.trace and len(passes) % 4 in (1, 2)
            passes.append((traced, one_pass(traced)))
            kinds = [sum(1 for t, _ in passes if t is k) for k in ((False, True) if self.trace else (False,))]
            if time.perf_counter() - t0 >= self.seconds and min(kinds) >= min_passes:
                return passes


def overhead_frac(passes: list[tuple[bool, float]]) -> float:
    """Median traced pass over median untraced pass, minus one."""
    traced = [s for t, s in passes if t]
    plain = [s for t, s in passes if not t]
    return median(traced) / median(plain) - 1.0
