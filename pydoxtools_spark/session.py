"""SparkSession factory with scale-oriented defaults.

Designed for a multi-executor cluster (spark-submit --py-files); in the
sandbox we run local[N].  All settings that matter at 100 TB — AQE,
Arrow batching, shuffle sizing, skew-join splitting — are on by default.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession


def get_spark(
    app_name: str = "pydoxtools-spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    cores = cores or int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    shuffle_partitions = shuffle_partitions or max(cores, 8)
    # make the package importable on python workers regardless of the
    # driver's cwd — the local-mode analogue of spark-submit --py-files
    # (on a real cluster, ship a zip of pydoxtools_spark via --py-files)
    pkg_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    pp = os.environ.get("PYTHONPATH", "")
    if pkg_root not in pp.split(os.pathsep):
        os.environ["PYTHONPATH"] = f"{pkg_root}{os.pathsep}{pp}" if pp else pkg_root
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cores}]")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "2048")
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        .config("spark.sql.autoBroadcastJoinThreshold", "64m")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "24g"))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        # Per-op call-site capture (DataFrame debugging) costs 3 extra
        # py4j round-trips + a python stack walk on EVERY DataFrame/
        # Column API call; the big builder functions make thousands
        # (query CONSTRUCTION measured 1.7 s for the pdf queries,
        # ~30-45% of it this wrapper).  Disable it: the trade is
        # call-site lines in analyzer error messages, not semantics.
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        # Fork-time preload: the daemon imports numpy/pandas/pyarrow +
        # every kernel module once (dispatch alone 78 ms) and installs
        # a stat guard on zipimporter directory re-reads (CLAUDE.md
        # trap 22: without it every python task re-parsed pyspark.zip,
        # 0.25-0.85 s/task); forked workers inherit both copy-on-write.
        # Each step falls back to stock pyspark.daemon behavior if it
        # fails.
        .config("spark.python.daemon.module",
                "pydoxtools_spark.daemon_preload")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def reliable_checkpoints(spark: SparkSession) -> bool:
    """True when the session has a checkpoint dir (`spark.checkpoint.dir`
    at launch, or SparkContext.setCheckpointDir by the application).
    The checkpoint dir is the one deployment switch between the two
    materialization forms; library code reads it and never sets it."""
    return spark.sparkContext.getCheckpointDir() is not None


def checkpoint(df: DataFrame) -> DataFrame:
    """Eagerly materialize `df` and truncate its lineage — the one
    local-vs-reliable decision in the package.  With a checkpoint dir
    the rows are written there (reliable `checkpoint()`: survives
    executor loss, the cluster form); without one they stay in executor
    block storage (`localCheckpoint()`: lineage truncation only, an
    executor loss forces a restart — the single-retryable-job form)."""
    if reliable_checkpoints(df.sparkSession):
        return df.checkpoint(eager=True)
    return df.localCheckpoint(eager=True)
