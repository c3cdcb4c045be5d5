"""SparkSession factory tuned for this engine.

Local mode here, but every config is chosen to also be correct on a large
cluster: AQE on (runtime re-plan, skew-join splitting, partition coalescing),
Arrow on (all pandas UDFs are batch-vectorized), UTC session timezone (oracle
comparability), shuffle partitions sized to the parallelism level.
"""

from __future__ import annotations

import os
import shutil
import tempfile

from pyspark.sql import SparkSession

# Application ids whose I/O/worker warmup already ran (get_spark is called
# repeatedly; getOrCreate returns the same session and must not re-pay it).
_WARMED: set[str] = set()


def _warm_session(spark: SparkSession) -> None:
    """One-time code-path warmup on SYNTHETIC throwaway data (never the
    engine's inputs — this is class-loading/JIT/worker-pool spin-up, not
    result precomputation).

    A fresh JVM pays parquet reader/writer + Hadoop FS + commit-protocol
    class loading (~1.3s measured on this box) on the FIRST parquet query it
    runs, and the Python worker pool forks on the first Arrow-UDF stage.
    Both are session-lifetime fixed costs — on a real cluster the session
    outlives thousands of queries — so they belong to session construction,
    not to whichever query happens to run first (the same discipline
    bench.py's own `spark.range(1000).count()` warmup states). Disable with
    SPARK_GRAFT_WARM_IO=0 (e.g. for session-startup measurements)."""
    if os.environ.get("SPARK_GRAFT_WARM_IO", "1") == "0":
        return
    app_id = spark.sparkContext.applicationId
    if app_id in _WARMED:
        return
    _WARMED.add(app_id)
    from pyspark.sql import functions as F

    tmp = tempfile.mkdtemp(prefix="spark_warm_")
    try:
        spark.range(0, 1024).select(
            "id",
            F.col("id").cast("string").alias("s"),
            F.col("id").cast("double").alias("d"),
        ).write.mode("overwrite").parquet(os.path.join(tmp, "w"))
        (
            spark.read.parquet(os.path.join(tmp, "w"))
            .where(F.col("id") % 2 == 0)
            .groupBy("s")
            .agg(F.sum("d").alias("t"))
            .write.format("noop")
            .mode("overwrite")
            .save()
        )
        # Fork the Python worker pool (one worker per core, reused across
        # tasks) with a trivial Arrow-batched UDF over one task per core.
        import pandas as pd

        @F.pandas_udf("double")
        def _warm_udf(x: pd.Series) -> pd.Series:
            return x + 1.0

        n = spark.sparkContext.defaultParallelism
        spark.range(0, n, 1, n).select(
            _warm_udf(F.col("id").cast("double"))
        ).write.format("noop").mode("overwrite").save()
    except Exception:
        pass  # warmup is best-effort; never fail session construction
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def default_driver_memory(phys_bytes: int | None = None) -> str:
    """Driver heap when ``SPARK_DRIVER_MEMORY`` is unset: half of physical
    memory (``phys_bytes``, default this machine's), capped at 24g and
    floored at 1g. In local mode the driver JVM also hosts every executor
    thread, so its heap is most of the engine's memory — yet a heap sized
    past physical memory is not an error, just an OOM kill later (a 24g
    default on a 15 GB machine let a 24k-entity blocking run grow to
    11.7 GB resident before the kernel killed it)."""
    if phys_bytes is None:
        phys_bytes = os.sysconf("SC_PHYS_PAGES") * os.sysconf("SC_PAGE_SIZE")
    mib = min(max(phys_bytes // 2 // 2**20, 1024), 24 * 1024)
    return f"{mib}m"


def get_spark(
    app_name: str = "entity_resolver_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (env) or ``local[*]``.
    ``shuffle_partitions`` defaults to the local core count — the single most
    common local-mode misconfiguration is leaving it at 200.
    """
    # Make this package importable in Spark's Python workers regardless of
    # the driver's cwd — the local-mode equivalent of shipping the package
    # via `spark-submit --py-files` (workers inherit the driver process env).
    repo_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    existing = os.environ.get("PYTHONPATH", "")
    if repo_root not in existing.split(":"):
        os.environ["PYTHONPATH"] = f"{repo_root}:{existing}" if existing else repo_root

    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS")
        master = f"local[{cpus}]" if cpus else "local[*]"
    if shuffle_partitions is None:
        try:
            n = int(master.split("[")[1].rstrip("]"))
        except (IndexError, ValueError):
            n = os.cpu_count() or 8
        shuffle_partitions = max(8, n)

    # Shuffle/spill dir: in local mode all N executor threads share one
    # machine's disks, so a slow /tmp serializes every shuffle write and
    # inverts scaling (a real cluster gives each executor its own disks).
    # Prefer tmpfs when present; SPARK_LOCAL_DIRS still overrides.
    local_dir = os.environ.get("SPARK_LOCAL_DIRS")
    if not local_dir and os.path.isdir("/dev/shm") and os.access("/dev/shm", os.W_OK):
        local_dir = "/dev/shm/spark-local"

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # Write shuffles WIDE and let AQE coalesce down to the advisory
        # size: with initialPartitionNum unset, a big aggregation gets
        # exactly shuffle.partitions reduce partitions (= cores here), and
        # at 504k records the minhash/pair-dedup shuffles spilled — measured
        # superlinear walls (72k->144k: 2x data, 4x wall). 8x cores of
        # initial partitions costs small queries nothing (AQE merges them
        # back) and is exactly how a real cluster should run this engine.
        .config(
            "spark.sql.adaptive.coalescePartitions.initialPartitionNum",
            str(shuffle_partitions * 8),
        )
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Arrow batch size: the default 10k rows makes per-batch fixed work
        # (pandas factorize setup, numpy dispatch, IPC framing) a measurable
        # share of the scoring pass when all cores are busy. 64k batches cut
        # the 16-core scoring segment 1.20x on the 144k-corpus inputs while
        # staying ~MBs per batch even on the widest pudf stage (sparse-vector
        # maps) — small against executor memory at any scale.
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "65536")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_DRIVER_MEMORY") or default_driver_memory(),
        )
        .config("spark.ui.enabled", "false")
        .config("spark.sql.crossJoin.enabled", "true")
    )
    if local_dir:
        builder = builder.config("spark.local.dir", local_dir)
    if extra_conf:
        for k, v in extra_conf.items():
            builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    _warm_session(spark)
    return spark
