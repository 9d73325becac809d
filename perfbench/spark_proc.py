"""Start and stop the program's Spark session for one benchmark process."""

from __future__ import annotations

import os
import time

import common

CONF = {"spark.ui.showConsoleProgress": "false"}


def process_age_s() -> float:
    """Seconds since this process started, from /proc (boot-time clock)."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    return time.clock_gettime(time.CLOCK_BOOTTIME) - start_ticks / os.sysconf("SC_CLK_TCK")


def start(extra_conf: dict | None = None):
    """get_spark + a trivial job: (spark, get_spark_s, first_job_s, setup_s),
    setup_s counted from process start."""
    from awskinesisconsumer_spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark("perfbench", extra_conf={**CONF, **(extra_conf or {})})
    t1 = time.perf_counter()
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1).count()
    t2 = time.perf_counter()
    return spark, t1 - t0, t2 - t1, process_age_s()


def stop(spark) -> None:
    """Stop the session, then the JVM and its Python workers, and wait
    until each process this one started has exited."""
    from pyspark import SparkContext

    pids = [p for p in common.descendants(os.getpid()) if p != os.getpid()]
    spark.stop()
    gw = SparkContext._gateway
    if gw is not None:
        gw.shutdown()
        proc = getattr(gw, "proc", None)
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except Exception:
                proc.kill()
                proc.wait(timeout=10)
    deadline = time.time() + 20
    for pid in pids:
        while os.path.exists(f"/proc/{pid}") and time.time() < deadline:
            time.sleep(0.05)
        if os.path.exists(f"/proc/{pid}"):
            try:
                os.kill(pid, 9)
            except ProcessLookupError:
                pass

