"""Engine lifetime for one benchmark run: a cold start and a clean stop.

``start`` launches the JVM through ``session.get_spark`` and runs a first
trivial job plus the workload's per-session set-up. ``close``
stops the session, closes the JVM's stdin (the gateway exits on EOF) and
waits for the JVM and every Python worker it forked to end.
"""

from __future__ import annotations

import os
import signal
import subprocess
import time

from observe import Processes, proc_stat, descendants


def first_job(spark) -> None:
    spark.range(1000).selectExpr("sum(id)").collect()


class Engine:
    def __init__(self, cpus: int, on_start) -> None:
        self.cpus = cpus
        self.on_start = on_start  # per-session set-up, timed with the first job
        self.spark = None
        self.procs: Processes | None = None

    def start(self) -> tuple[float, float]:
        """(get_spark seconds, first job + per-session set-up seconds)."""
        from mapreduce_model_spark.session import get_spark

        t0 = time.perf_counter()
        self.spark = get_spark(cpus=self.cpus)
        t1 = time.perf_counter()
        first_job(self.spark)
        self.on_start(self.spark)
        t2 = time.perf_counter()
        self.procs = Processes(self.spark.sparkContext._gateway.proc.pid)
        return t1 - t0, t2 - t1

    def close(self, timeout: float = 30.0) -> None:
        from pyspark import SparkContext

        gw = SparkContext._gateway
        if gw is None:
            return
        proc = gw.proc
        pids = [proc.pid] + descendants(proc.pid)
        try:
            if self.spark is not None:
                self.spark.stop()
        finally:
            gw.shutdown()
            SparkContext._gateway = None
            SparkContext._jvm = None
            proc.stdin.close()
            try:
                proc.wait(timeout)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait(timeout)
            stuck = _wait_gone(pids[1:], timeout)
            for p in stuck:
                try:
                    os.kill(p, signal.SIGKILL)
                except ProcessLookupError:
                    pass
            _wait_gone(stuck, timeout)


def _alive(pid: int) -> bool:
    st = proc_stat(pid)
    return st is not None and st[0] != "Z"


def _wait_gone(pids: list[int], timeout: float) -> list[int]:
    """Wait until every pid has exited; return those still alive."""
    deadline = time.monotonic() + timeout
    live = [p for p in pids if _alive(p)]
    while live and time.monotonic() < deadline:
        time.sleep(0.05)
        live = [p for p in live if _alive(p)]
    return live
