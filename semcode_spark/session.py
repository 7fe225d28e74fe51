"""SparkSession factory tuned for the engine.

Local-mode settings mirror what we'd set cluster-side via
``spark-submit --conf`` (the reference's analog is env/TOML layered
settings, reference: settings.py:95-107). AQE is always on: it handles
runtime skew-join splitting and shuffle-partition coalescing, which at
100 TB replaces hand-tuned ``spark.sql.shuffle.partitions``.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "semcode-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    # one worker thread per core this process may run on, unless
    # SPARK_GRAFT_CPUS says otherwise
    cpus = os.environ.get("SPARK_GRAFT_CPUS") or str(len(os.sched_getaffinity(0)))
    master = master or f"local[{cpus}]"
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        # Arrow everywhere: every Python kernel is vectorized (input_hint:
        # no per-row Python). Batch size mirrors the reference's batching
        # discipline (embed 64 / upsert 128, settings.py:55,76) scaled to
        # Arrow-appropriate sizes.
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        # AQE: runtime re-plan — coalesce small shuffle partitions, split
        # skewed ones (north_rule: skew handled explicitly; AQE is the
        # built-in half, hot-term salting in operators/index_build.py is
        # the explicit half).
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Input split sizing (r6, guide §6/§2.5): sandbox corpora are a
        # handful of single-digit-MB single-row-group files, and the
        # default 128 MB split packs a multi-file read into very few
        # scan tasks — narrow heavy chains (tokenize, extract
        # pandas_udf, cosine kernels) then run on a fraction of the
        # cores. Smaller splits cap that (operators additionally
        # spread() single-split scans — the row-group-bound case
        # splits alone cannot fix). minPartitionNum is left at Spark's
        # default (the session parallelism), which already floors the
        # split count for small multi-file inputs. ENV-PARAMETERIZED
        # because the right value is scale-dependent: at 100 TB set
        # SPARK_GRAFT_MAX_PARTITION_BYTES=512m (large sequential
        # scans, fewer map tasks feeding shuffles — guide §2.2/§6).
        .config("spark.sql.files.maxPartitionBytes",
                os.environ.get("SPARK_GRAFT_MAX_PARTITION_BYTES", "16m"))
        # Broadcast threshold: query-term / dim tables always broadcast.
        .config("spark.sql.autoBroadcastJoinThreshold", "64MB")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or int(cpus)))
        # local mode: the driver JVM hosts all executor threads. Measured
        # on this box: 16g heap + ParallelGC beats G1 and beats bigger
        # heaps (48g heap made a 32-thread scan 2× slower — GC pause
        # scaling); on a real cluster these become executor settings.
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "16g"))
        .config("spark.driver.extraJavaOptions",
                os.environ.get("SPARK_DRIVER_JAVA_OPTS", "-XX:+UseParallelGC"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
        # PySpark otherwise captures the Python call site on every
        # F.*/Column call: about four extra py4j round trips each, which
        # dominated building a warm query's plan. Spark errors then lack
        # the Python line; extra_conf can turn it back on.
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
    )
    # shuffle spill goes to SPARK_LOCAL_DIRS when set, else to tmpfs
    # when available; on a real cluster this is the NVMe local dir per
    # executor. Only the directory actually used is created.
    local_dirs = os.environ.get("SPARK_LOCAL_DIRS")
    if not local_dirs and os.path.isdir("/dev/shm"):
        local_dirs = "/dev/shm/spark-local"
        os.makedirs(local_dirs, exist_ok=True)
    if local_dirs:
        builder = builder.config("spark.local.dir", local_dirs)
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark
