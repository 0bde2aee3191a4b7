"""Spark session life cycle for the benchmark, kept inside the checkout.

The JVM is launched once per benchmark process (``launch_jvm``); ``start``
creates a fresh SparkContext on it through the engine's own ``get_spark``
(``spark.stop()`` ends it, and with it the PySpark daemon and its workers).
Settings that ``get_spark`` does not take are passed as JVM system
properties, which every new SparkConf reads: that keeps the console progress
bar off the result stream and lets a traced context swap in the benchmark's
daemon module and event log without touching the engine.
"""

from __future__ import annotations

import os
import shlex
import subprocess

# Half the VM's four vCPUs: Spark's task threads, the Python workers, the
# JVM's own threads (scheduler, GC, JIT) and the client then never outnumber
# the vCPUs, so the hypervisor's steal and a straggling task slow an op less.
CORES = 2
DRIVER_MEM = "2g"
TRACE_DAEMON = "perfbench.trace_daemon"
# Relative to the working directory, which the JVM, its Python workers and
# this process share: a socket path must fit in 107 bytes, and the checkout
# may sit deep in the file system.
UDS_DIR = ".perfbench/uds"


def prepare_env(root: str, work: str) -> None:
    """Process environment for the JVM and the Python workers it forks.
    Must run before the first ``start``."""
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    for d in (tmp, local, UDS_DIR):
        os.makedirs(d, exist_ok=True)
    path = os.environ.get("PYTHONPATH")
    os.environ.update({
        "PYTHONPATH": root + (os.pathsep + path if path else ""),
        "PQ_DRIVER_MEM": DRIVER_MEM,
        "SPARK_GRAFT_CPUS": str(CORES),
        "SPARK_LOCAL_DIRS": local,
        "TMPDIR": tmp,
        "PYSPARK_SUBMIT_ARGS": " ".join([
            # JVM settings get_spark would pass at launch, which happens
            # before get_spark here; no hsperfdata: HotSpot writes it under
            # /tmp whatever the tmpdir. C1 only: with the optimising JIT the
            # driver's job latency keeps falling for minutes (a filtered
            # read halves over 90 s), so a run would sample a slope whose
            # steepness follows the host's load; C1 settles within the
            # warm-up. C1 alone gets a 48 MB code cache, which Spark fills
            # in under a minute (the JVM then stops compiling); 240 MB is
            # what the default tiered JIT gets.
            "--driver-memory", DRIVER_MEM,
            "--driver-java-options", shlex.quote(
                f"-Djava.net.preferIPv4Stack=true -Djava.io.tmpdir={tmp} -XX:-UsePerfData "
                "-XX:TieredStopAtLevel=1 -XX:ReservedCodeCacheSize=240m"),
            "--conf", "spark.ui.showConsoleProgress=false",
            "--conf", f"spark.local.dir={shlex.quote(local)}",
            "--conf", f"spark.python.unix.domain.socket.dir={UDS_DIR}",
            "pyspark-shell",
        ]),
    })


def launch_jvm() -> None:
    """Launch the JVM (spark-submit's gateway) without a SparkContext."""
    from pyspark import SparkContext

    SparkContext._ensure_initialized()


def _trace_props(trace_dir: str) -> None:
    """Make the next SparkConf a traced one: the benchmark's daemon module
    and an uncompressed single-file event log, both writing under
    ``trace_dir``."""
    from pyspark import SparkContext

    if SparkContext._jvm is None:
        raise RuntimeError("a traced context needs a running JVM; start untraced first")
    props = {
        "spark.python.daemon.module": TRACE_DAEMON,
        "spark.eventLog.enabled": "true",
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
        "spark.eventLog.dir": "file://" + os.path.join(trace_dir, "events"),
        # workers inherit the executor environment, not this process's
        "spark.executorEnv.PERFBENCH_SPAN_DIR": os.path.join(trace_dir, "spans"),
    }
    for key, value in props.items():
        SparkContext._jvm.java.lang.System.setProperty(key, value)
    os.makedirs(os.path.join(trace_dir, "events"), exist_ok=True)
    os.makedirs(os.path.join(trace_dir, "spans"), exist_ok=True)


def start(trace_dir: str | None = None):
    """A new SparkSession on ``local[CORES]``; traced when ``trace_dir`` is
    given (worker spans and the event log are written under it)."""
    if trace_dir is not None:
        _trace_props(trace_dir)
    from pq_engine.spark.session import get_spark

    spark = get_spark(cores=CORES, app="perfbench")
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def shutdown() -> None:
    """End the JVM launched by ``launch_jvm`` and wait for it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()  # the gateway server exits on stdin EOF
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
