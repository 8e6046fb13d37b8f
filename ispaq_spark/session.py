"""SparkSession factory with scale-oriented defaults.

The reference is a single-process CLI (ispaq/ispaq.py:443-705 dispatches metric
groups sequentially); here every job is a distributed DataFrame plan, so the
session is where the cluster-facing knobs live: AQE (runtime re-planning +
skew-join splitting), UTC timestamps (ispaq treats all time as UTC,
ispaq/irisseismic.py:156), Arrow for the pandas-UDF boundary, and shuffle
partition sizing.
"""

from __future__ import annotations

import os
import threading

from pyspark.sql import SparkSession


def default_driver_memory() -> str:
    """A quarter of physical RAM. ParallelGC grows the heap toward its cap
    rather than collecting early, so a cap above what the machine has gets
    the JVM killed by the kernel instead of collected."""
    ram_mb = os.sysconf("SC_PHYS_PAGES") * os.sysconf("SC_PAGE_SIZE") >> 20
    return f"{ram_mb // 4}m"


def get_spark(
    app_name: str = "ispaq_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession tuned for this engine.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (or ``local[*]``) in
    the sandbox; on a real cluster it is supplied by spark-submit and this
    function leaves it alone.
    """
    builder = SparkSession.builder.appName(app_name)
    if master is None and "SPARK_GRAFT_CPUS" in os.environ:
        master = f"local[{os.environ['SPARK_GRAFT_CPUS']}]"
    if master is not None:
        builder = builder.master(master)

    if shuffle_partitions is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS")
        shuffle_partitions = int(cpus) if cpus else 32

    conf = {
        # Local mode runs all executor threads inside the driver JVM; the
        # default 1g heap makes GC the scaling bottleneck at 32 threads.
        # (On a real cluster spark-submit owns these.)
        "spark.driver.memory": os.environ.get(
            "SPARK_GRAFT_DRIVER_MEM", default_driver_memory()
        ),
        # Throughput collector: this is a batch engine — pause times don't
        # matter, reclaim rate does. At 32 executor threads the regex/array
        # allocation churn made G1 the scaling bottleneck (600k-doc leg:
        # 69s G1 -> 31s ParallelGC, BENCH/BASELINE.md).
        "spark.driver.extraJavaOptions": os.environ.get(
            "SPARK_GRAFT_DRIVER_JAVA_OPTS", "-XX:+UseParallelGC"
        ),
        # All time math is civil UTC, like the reference's day loop
        # (ispaq/simple_metrics.py:83-85).
        "spark.sql.session.timeZone": "UTC",
        # AQE: runtime join-strategy switching + skew-join splitting. The
        # reference has no optimizer at all (SURVEY.md §4); we lean on
        # Catalyst + AQE instead of hand-scheduling.
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.shuffle.partitions": str(shuffle_partitions),
        # Arrow is the JVM<->Python boundary for every pandas UDF stage —
        # the analog of the reference's rpy2 pandas<->R data.frame boundary
        # (ispaq/irismustangmetrics.py:78-80), but columnar and batched.
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        "spark.sql.execution.arrow.maxRecordsPerBatch": "4096",
        # Sane scan granularity for wide binary/html columns at scale.
        "spark.sql.files.maxPartitionBytes": "128m",
        "spark.ui.showConsoleProgress": "false",
    }
    if extra_conf:
        conf.update(extra_conf)
    for k, v in conf.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()




_state: tuple[object, dict] | None = None
_lock = threading.RLock()


def session_state(sc) -> dict:
    """A dict that lives as long as the SparkContext ``sc``: what a job
    plans with (column expressions, pandas UDFs, model broadcasts) is made
    once per session and reused by every later job. A new SparkContext (a
    restarted session) starts from an empty dict; nothing built under a
    stopped context is reused. Change it only inside session_memo's build,
    which holds the lock."""
    global _state
    with _lock:
        if _state is None or _state[0] is not sc:
            _state = (sc, {})
        return _state[1]


def session_memo(sc, key, build):
    """``build()`` once per (SparkContext, key); see session_state."""
    with _lock:
        state = session_state(sc)
        if key not in state:
            state[key] = build()
        return state[key]
