"""Session lifecycle, forcing and span timing shared by every workload."""

from __future__ import annotations

import os
import signal
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from .stats import descendants


@dataclass(frozen=True)
class Box:
    """What the session is fitted to: one local executor thread and one
    shuffle partition per task slot, half the usable cores, and a driver
    heap well below RAM.

    The other half is left to the JVM's JIT and GC threads, the Python
    driver and the Python workers' own threads. With a slot per core on a
    4-core virtual machine, job times followed the CPU time the hypervisor
    took from the machine, and jobs were no faster at these input sizes."""

    cores: int
    slots: int
    heap_mb: int

    @staticmethod
    def detect() -> "Box":
        cores = len(os.sched_getaffinity(0))
        ram_mb = os.sysconf("SC_PHYS_PAGES") * os.sysconf("SC_PAGE_SIZE") >> 20
        return Box(cores=cores, slots=max(1, cores // 2),
                   heap_mb=min(3072, ram_mb // 4))


def session_conf(box: Box, root: str, work: str, event_log: str | None) -> dict:
    tmp = os.path.join(work, "tmp")
    conf = {
        "spark.driver.memory": f"{box.heap_mb}m",
        # The heap starts at its full size, every page touched: grown and
        # touched on demand, its resident size (and so the process tree's
        # peak RSS) followed GC timing and ranged 2.0-4.3 GiB over runs.
        # A fixed set of JIT compiler threads: job CPU time leaves out
        # theirs (stats.tree_cpu_s), which works only while they live.
        "spark.driver.extraJavaOptions":
            f"-Xms{box.heap_mb}m -XX:+AlwaysPreTouch -XX:+UseParallelGC "
            f"-XX:-UseDynamicNumberOfCompilerThreads "
            f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
        # Python workers import ispaq_spark from the checkout whatever the
        # launch directory is.
        "spark.executorEnv.PYTHONPATH": root,
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.ui.enabled": "false",
    }
    if event_log:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": event_log,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    return conf


def start_session(box: Box, conf: dict) -> SparkSession:
    from ispaq_spark.session import get_spark

    spark = get_spark(
        app_name="perfbench",
        master=f"local[{box.slots}]",
        shuffle_partitions=box.slots,
        extra_conf=conf,
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def build_models() -> tuple[dict, dict]:
    """Rebuild both default models from scratch (their caches cleared)."""
    from ispaq_spark import synthesize

    synthesize.default_model.cache_clear()
    synthesize.default_lid_model.cache_clear()
    return synthesize.default_model(), synthesize.default_lid_model()


def shutdown_jvm(timeout_s: float = 60.0) -> None:
    """Stop the active session, then the gateway JVM and every process
    below this one, waiting until each has exited."""
    from pyspark import SparkContext

    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
        if proc is not None:
            # The gateway server exits when its stdin closes.
            proc.stdin.close()
            try:
                proc.wait(timeout=timeout_s)
            except Exception:
                proc.kill()
                proc.wait()
    deadline = time.monotonic() + timeout_s
    while (left := descendants(os.getpid())):
        if time.monotonic() > deadline:
            for pid in left:
                try:
                    os.kill(pid, signal.SIGKILL)
                except ProcessLookupError:
                    pass
            deadline = time.monotonic() + timeout_s
        time.sleep(0.1)


def force(df: DataFrame) -> None:
    """Compute every row and column of ``df`` without collecting it."""
    df.write.format("noop").mode("overwrite").save()


def force_count(df: DataFrame) -> int:
    """``force`` that also returns the row count (observed in the same
    pass, no second job)."""
    obs = Observation()
    force(df.observe(obs, F.count(F.lit(1)).alias("n")))
    return int(obs.get["n"])


def timed(fn, *args, **kwargs):
    t0 = time.perf_counter()
    out = fn(*args, **kwargs)
    return time.perf_counter() - t0, out


@dataclass
class Tracer:
    """Spans around calls into one layer. Each span tags the Spark jobs it
    starts with its name as job group, so the event log attributes engine
    metrics to it; without a SparkContext only wall time is recorded."""

    spark: SparkSession | None = None
    spans: dict[str, float] = field(default_factory=dict)

    @contextmanager
    def span(self, name: str):
        sc = self.spark.sparkContext if self.spark is not None else None
        if sc is not None:
            sc.setJobGroup(name, name)
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.spans[name] = self.spans.get(name, 0.0) + time.perf_counter() - t0
            if sc is not None:
                sc.setLocalProperty("spark.jobGroup.id", None)
                sc.setLocalProperty("spark.job.description", None)

    def time(self, name: str, fn, *args, **kwargs):
        with self.span(name):
            out = fn(*args, **kwargs)
        return out
