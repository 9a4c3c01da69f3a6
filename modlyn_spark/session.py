"""SparkSession factory with scale-oriented defaults.

Defaults are chosen for the 100 TB design point and verified locally:
AQE on (runtime re-planning + skew-join splitting), Arrow on (every Python
boundary is vectorized), shuffle partitions sized to the local core count
(on a real cluster: 2-3x total executor cores).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# the package root: the directory a worker must have on sys.path to import
# modlyn_spark (the repository checkout, or site-packages when installed)
_PACKAGE_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def get_spark(
    app_name: str = "modlyn-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with the engine's standard config.

    Args:
        app_name: Spark application name.
        master: master URL; defaults to ``local[$SPARK_GRAFT_CPUS]`` (or
            ``local[*]``). On a real cluster pass ``yarn``/``k8s://...`` or let
            spark-submit set it.
        shuffle_partitions: number of shuffle partitions; defaults to the local
            parallelism (cluster rule of thumb: 2-3x total cores, or rely on AQE
            coalescing from a higher initial value).
        extra: extra config key/values (override defaults).
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS")
    if master is None:
        master = f"local[{cpus}]" if cpus else "local[*]"
    if shuffle_partitions is None:
        if cpus:
            shuffle_partitions = max(int(cpus), 4)
        else:
            shuffle_partitions = max(os.cpu_count() or 4, 4)

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        # --- adaptive execution: runtime shuffle-partition coalescing,
        #     skew-join splitting, broadcast conversion at runtime
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # --- every Python<->JVM data transfer is Arrow-vectorized
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        # --- shuffle sizing
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # partition input files at 128MB (default) but cap open-cost so many
        # small synthetic files still coalesce into sane tasks
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        # --- deterministic timestamps across engines (tests compare to DuckDB)
        .config("spark.sql.session.timeZone", "UTC")
        # quieter local runs
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
    )
    # deployment-tunable overrides without touching callers: a comma list
    # of k=v pairs (e.g. SPARK_GRAFT_CONF="spark.sql.shuffle.partitions=2000")
    # — cluster runs parameterize scale-dependent settings here while the
    # local defaults above stay the bench-comparable baseline
    conf: dict[str, str] = {}
    env_conf = os.environ.get("SPARK_GRAFT_CONF", "")
    for pair in env_conf.split(","):
        if "=" in pair:
            k, _, v = pair.partition("=")
            conf[k.strip()] = v.strip()
    conf.update(extra or {})
    conf.update(_python_worker_conf(master, conf))
    for k, v in conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    _warm_python_workers(spark)
    return spark


def _python_worker_conf(master: str, conf: dict[str, str]) -> dict[str, str]:
    """Python worker settings that depend on where the workers run.

    On ``local*`` masters the workers share the driver's file system, so
    the package root is appended to ``spark.executorEnv.PYTHONPATH``
    (merged with a value set in ``conf``): workers then import
    modlyn_spark whatever the driver's working directory or PYTHONPATH.
    ``spark-submit --py-files`` only reaches a task's ``sys.path``, never
    the daemon's, so that route cannot serve the daemon module.

    The daemon module (``modlyn_spark._daemon``: pyspark's daemon without
    the per-task zip archive re-reads) is set on local masters only, the
    one place every worker is certain to import it. On a cluster the
    package may reach the nodes through ``--py-files`` or ``--archives``,
    which the daemon cannot import from, so Spark's default daemon stays;
    where the package is installed on every node, opt in by setting
    ``spark.python.daemon.module`` through ``extra`` or
    ``SPARK_GRAFT_CONF``. An explicit setting in ``conf`` wins.
    """
    if not master.startswith("local"):
        return {}
    out = {}
    key = "spark.executorEnv.PYTHONPATH"
    paths = [p for p in conf.get(key, "").split(os.pathsep) if p]
    if _PACKAGE_ROOT not in paths:
        out[key] = os.pathsep.join(paths + [_PACKAGE_ROOT])
    if "spark.python.daemon.module" not in conf:
        out["spark.python.daemon.module"] = "modlyn_spark._daemon"
    return out


def _warm_python_workers(spark: SparkSession) -> None:
    """Spin up the per-core Python worker pool once at session build.

    The first Arrow-batched stage of a session pays worker fork + numpy/
    pandas import on every core (~2-3s at 32 cores, measured) — cost
    that belongs to session setup, not to whichever query happens to hit
    the Python boundary first. Workers are reused for the session's
    lifetime (spark.python.worker.reuse default), so one empty
    mapInPandas pass over defaultParallelism partitions moves that cost
    next to the JVM/codegen warmup. Guarded so getOrCreate() reuse
    doesn't re-pay it."""
    if getattr(spark, "_modlyn_workers_warm", False):
        return
    try:
        par = spark.sparkContext.defaultParallelism

        def _identity(batches):
            for b in batches:
                yield b

        (
            spark.range(par)
            .repartition(par)
            .mapInPandas(_identity, "id long")
            .write.format("noop")
            .mode("overwrite")
            .save()
        )
    except Exception:
        pass  # warmup is best-effort; never fail session construction
    spark._modlyn_workers_warm = True


def ensure_parallelism(
    df, min_partitions: int | None = None, min_bytes: int = 1 << 20
):
    """Repartition a SMALL source up to the session's default parallelism.

    Intended for scan-stage inputs feeding CPU-bound Arrow-UDF maps (its
    only call sites). The guard is size-based, not partition-count-based
    (counting partitions costs a full plan translation): a source whose
    Catalyst size estimate is below maxPartitionBytes x target gets one
    round-robin repartition(target). For raw scans that can only move the
    partition count UP; an already-shuffled small input would be
    re-shuffled to exactly ``target`` (possibly fewer partitions than its
    shuffle produced) — don't point this at post-aggregation plans.

    Why it exists: a small table
    written as one parquet file with one row group scans as ONE partition
    — Spark cannot split inside a row group — so every downstream map
    stage runs single-threaded no matter how many cores the session has
    (measured: the whole sf1 dedup signature build serialized onto one
    core). The round-robin shuffle moves each text byte once — noise next
    to a 10-100x/byte signature UDF — and is a no-op whenever the source
    already carries enough partitions (the 100 TB case, where inputs have
    thousands of row groups and repartitioning DOWN would be the bug).
    """
    spark = df.sparkSession
    target = int(min_partitions or spark.sparkContext.defaultParallelism)
    # Catalyst's size estimate instead of rdd.getNumPartitions(): the
    # .rdd conversion materializes a full plan translation (~1s cold per
    # JVM — measurable against sub-10s queries); stats() is a driver-side
    # lookup. A source under maxPartitionBytes * target can never scan as
    # >= target partitions, so repartition it; anything bigger already
    # splits (or arrives pre-shuffled) and is left untouched.
    try:
        max_pb = int(spark.conf.get("spark.sql.files.maxPartitionBytes"))
    except Exception:
        max_pb = 128 * 1024 * 1024
    try:
        size = int(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
    except Exception:
        return df
    if size < min_bytes:
        # tiny source (NB: Catalyst sizes are COMPRESSED scan estimates —
        # ~1MB compressed is a few MB of text, seconds of serial UDF at
        # most): the whole serial pass costs a couple of seconds at
        # worst, below the fixed cost of an extra exchange + stage barrier
        # (measured: repartitioning a 1.5MB corpus made the full simhash
        # query ~2s SLOWER while repartitioning a 15MB one saved 14s)
        return df
    if size >= max_pb * target:
        return df
    return df.repartition(target)
