"""Session lifetime, the run record and small statistics shared by the
workloads."""

from __future__ import annotations

import os
import statistics
import subprocess
import sys
import time
import traceback

from procmem import PeakRss, descendants
from spans import Tracer

#: How long ``Run.close`` waits for the JVM and its Python workers to exit.
CLOSE_TIMEOUT_S = 60.0


def median(xs: list[float]) -> float:
    return statistics.median(xs)


def quartiles(xs: list[float]) -> tuple[float, float]:
    if len(xs) < 2:
        return xs[0], xs[0]
    q = statistics.quantiles(xs, n=4, method="inclusive")
    return q[0], q[2]


class Run:
    """One benchmark run: the Spark session, the tracer, the memory sampler,
    and the counts of attempted and failed operations."""

    def __init__(self, work: str, traced: bool) -> None:
        self.work = work
        self.rss = PeakRss()
        self.tracer = Tracer(None, traced)
        self.spark = None
        self.attempted = 0
        self.failed = 0
        #: name -> (value, unit): everything the report prints besides the
        #: contract metrics
        self.info: dict[str, tuple[float, str]] = {}

    @property
    def traced(self) -> bool:
        return self.tracer.enabled

    def start_session(self):
        """Launch the JVM and build the engine's session (once per run)."""
        from lakehouse_architecture_spark.session import SessionFactory

        local = os.path.join(self.work, "spark-local")
        jtmp = os.path.join(self.work, "jvm-tmp")
        os.makedirs(local, exist_ok=True)
        os.makedirs(jtmp, exist_ok=True)
        factory = SessionFactory(
            app_name="perfbench",
            extra_conf={
                "spark.ui.showConsoleProgress": "false",
                "spark.local.dir": local,
                "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
                "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={jtmp} -XX:-UsePerfData",
            },
        )
        t0 = time.perf_counter()
        self.spark = factory.get_or_create()
        self.tracer.spark = self.spark
        self.tracer.add("session.start", t0, time.perf_counter())
        self.spark.sparkContext.setLogLevel("ERROR")
        return self.spark

    def op(self, name: str, fn) -> bool:
        """Run one operation; an exception or a failed check (``fn``
        returning False) counts it as failed. Memory is sampled after it."""
        self.attempted += 1
        try:
            ok = fn() is not False
            if not ok:
                print(f"perfbench: {name} failed its check", file=sys.stderr)
        except Exception:  # noqa: BLE001 - a failed operation is a result, not a crash
            print(f"perfbench: {name} failed:\n{traceback.format_exc()}", file=sys.stderr)
            ok = False
        self.failed += not ok
        self.rss.sample()
        return ok

    def close(self) -> None:
        """Stop Spark, shut the JVM down and wait for every child process."""
        from pyspark import SparkContext

        if self.spark is not None:
            self.spark.stop()
            self.spark = None
        me = os.getpid()
        children = [p for p in descendants(me) if p != me]
        gateway = SparkContext._gateway
        if gateway is not None:
            proc = getattr(gateway, "proc", None)
            gateway.shutdown()
            if proc is not None:
                if proc.stdin is not None:
                    proc.stdin.close()  # the JVM exits when its stdin closes
                try:
                    proc.wait(CLOSE_TIMEOUT_S)
                except subprocess.TimeoutExpired:
                    proc.kill()
                    proc.wait()
            SparkContext._gateway = None
            SparkContext._jvm = None
        # the JVM's Python workers are re-parented when the JVM exits, so
        # wait on the pids collected before the shutdown
        deadline = time.monotonic() + CLOSE_TIMEOUT_S
        while time.monotonic() < deadline:
            if not any(_alive(p) for p in children):
                return
            time.sleep(0.05)
        for p in children:
            if _alive(p):
                os.kill(p, 9)


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except (OSError, IndexError):
        return False
