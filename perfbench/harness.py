"""Session start, timed loop and teardown shared by every kind of run."""

from __future__ import annotations

import ctypes
import os
import signal
import sys
import tempfile
import time
import traceback

from measure import host_probe_s, process_tree, python_workers_hwm_mb, tree_cpu_s

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench")


def nproc() -> int:
    return len(os.sched_getaffinity(0))


_PR_SET_CHILD_SUBREAPER = 36


def adopt_orphans() -> None:
    """Make this process the parent of every descendant orphaned below it.

    A Python worker can outlive the JVM that forked it for a moment;
    adopted, it is still found and reaped by ``stop_descendants``.
    """
    try:
        ctypes.CDLL(None, use_errno=True).prctl(_PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0)
    except (OSError, AttributeError):
        pass


def stop_descendants(grace_s: float = 20.0) -> None:
    """Stop every process this one started and wait until each has ended.

    The multiprocessing resource tracker is asked to exit first; whatever
    is left then gets SIGTERM, and SIGKILL once ``grace_s`` have passed.
    """
    from multiprocessing import resource_tracker

    resource_tracker._resource_tracker._stop()
    me = os.getpid()
    deadline = time.monotonic() + grace_s
    while True:
        sig = signal.SIGTERM if time.monotonic() < deadline else signal.SIGKILL
        for pid in process_tree(me)[1:]:
            try:
                os.kill(pid, sig)
            except ProcessLookupError:
                pass
        try:
            while os.waitpid(-1, os.WNOHANG)[0]:
                pass
        except ChildProcessError:  # no child left, so no descendant either
            return
        time.sleep(0.05)


def prepare_env() -> None:
    """Keep every file Spark, the JVM and Python workers write under WORK."""
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = None
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = "2g"


def start_session(cores: int):
    from wine_label_ocr_spark.session import get_spark

    spark = get_spark(
        app="perfbench", master=f"local[{cores}]", shuffle_partitions=cores,
        extra_conf={
            "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.environ['TMPDIR']}",
            "spark.ui.showConsoleProgress": "false",
        })
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def jvm_pid() -> int:
    from pyspark import SparkContext
    return SparkContext._gateway.proc.pid


def shutdown(spark) -> None:
    """Stop Spark, then the JVM, and wait until it has exited."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = gateway.proc
    gateway.shutdown()
    # the gateway JVM exits when its stdin closes
    proc.stdin.close()
    proc.wait(timeout=120)
    SparkContext._gateway = None
    SparkContext._jvm = None


def setup(wl_cls, inp, cores: int):
    """Session start plus the workload's warm-up job; returns (seconds, spark, workload)."""
    t0 = time.perf_counter()
    spark = start_session(cores)
    wl = wl_cls(spark, inp, WORK)
    wl.warmup()
    return time.perf_counter() - t0, spark, wl


def timed_runs(wl, seconds: float, jvm: int) -> dict:
    """Check the output of one untimed run, then run back to back until
    ``seconds`` have passed. The checked run primes the full-size plan; the
    first run after it is still slower, so it warms up and is not timed."""
    chk = wl.check()
    probes = [host_probe_s()]
    walls, failed, rss, cpu0 = [], 0, 0.0, None
    t_start = time.perf_counter()
    while True:
        wl.before()
        t0 = time.perf_counter()
        try:
            wl.run()
            if cpu0 is not None:
                walls.append(time.perf_counter() - t0)
        except Exception:  # a failed run is counted, reported and not timed
            traceback.print_exc(file=sys.stderr)
            failed += 1
        rss = max(rss, python_workers_hwm_mb(jvm))
        if cpu0 is None:
            cpu0 = tree_cpu_s(jvm)
        elif time.perf_counter() - t_start >= seconds:
            break
    cpu = tree_cpu_s(jvm) - cpu0
    probes.append(host_probe_s())
    if not walls:
        raise RuntimeError("every run failed")
    return {"walls": walls, "failed_runs": failed, "cpu_s": cpu, "rss_mb": rss, "check": chk,
            "host_probe_s": probes}
