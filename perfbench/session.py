"""The one place that pins the benchmark's Spark session.

Every run of every workload starts Spark through :func:`start_session`,
and the settings it applied are returned so the run can print them.
Everything the JVM and the Python workers write goes under the run's
work directory inside the checkout.
"""

from __future__ import annotations

import os
import tempfile
import time

#: shuffle partitions: 2 × the 4 local cores the benchmark targets; kept
#: fixed (not derived from the core count) so shuffle volumes and job
#: counts do not depend on the host
SHUFFLE_PARTITIONS = 8
DRIVER_MEMORY = "2g"
#: ParallelGC for batch throughput, with the heap and its generations at
#: a fixed size. Pages are not pre-touched, so the RSS counts the young
#: generation (filled on every run) plus the high-water mark of the old
#: generation; :func:`collect_between_calls` keeps the latter to what a
#: single call promotes.
GC = f"-XX:+UseParallelGC -Xms{DRIVER_MEMORY} -Xmn640m -XX:-UseAdaptiveSizePolicy"


def session_conf(work_dir: str, cores: int, sizes) -> dict[str, str]:
    """Spark settings of a benchmark session (also printed by the run)."""
    tmp = os.path.join(work_dir, "tmp")
    java_opts = f"{GC} -XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    return {
        "spark.master": f"local[{cores}]",
        "spark.app.name": "perfbench",
        "spark.driver.memory": DRIVER_MEMORY,
        "spark.driver.extraJavaOptions": java_opts,
        "spark.local.dir": os.path.join(work_dir, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work_dir, "warehouse"),
        "spark.sql.shuffle.partitions": str(SHUFFLE_PARTITIONS),
        "spark.default.parallelism": str(SHUFFLE_PARTITIONS),
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.session.timeZone": "UTC",
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        "spark.sql.execution.arrow.maxRecordsPerBatch": "65536",
        "spark.ui.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
        # the status store must keep every job and stage of a run so
        # counters can be read back after the timed loop
        "spark.ui.retainedJobs": "100000",
        "spark.ui.retainedStages": "100000",
        "spark.sql.ui.retainedExecutions": "100000",
        "spark.python.worker.reuse": "true",
        # bloom_join's default gates compare plan-size estimates with
        # these thresholds; they scale with the inputs (gen.Sizes) so
        # the default call takes the decision it takes at full size
        "spark.bloomjoin.minProbeBytes": sizes.min_probe_bytes,
        "spark.sql.autoBroadcastJoinThreshold": sizes.broadcast_bytes,
    }


def start_session(repo_root: str, work_dir: str, cores: int, sizes):
    """Start the benchmark's SparkSession; returns (spark, conf, seconds).

    The repository root is put on ``PYTHONPATH`` before the JVM starts,
    so Python workers import ``bloomjoin_spark`` whatever the working
    directory is."""
    for sub in ("tmp", "spark-local", "warehouse"):
        os.makedirs(os.path.join(work_dir, sub), exist_ok=True)
    os.environ["TMPDIR"] = tempfile.tempdir = os.path.join(work_dir, "tmp")
    paths = [repo_root] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(dict.fromkeys(paths))

    from pyspark.sql import SparkSession

    conf = session_conf(work_dir, cores, sizes)
    t0 = time.perf_counter()
    builder = SparkSession.builder
    for k, v in conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1).count()  # JVM, executor and codegen warm
    seconds = time.perf_counter() - t0
    conf = dict(conf, PYTHONPATH=os.environ["PYTHONPATH"])
    return spark, conf, seconds


def collect_between_calls(spark) -> None:
    """A full JVM collection, made between two calls and outside their
    timing. Without it, whether the old generation filled up (and the
    process-tree RSS rose by 1-1.5 GB) depended on how many calls had
    run since the JVM last collected, in about one run in twenty; and a
    full collection could land inside a timed call."""
    spark.sparkContext._jvm.System.gc()
