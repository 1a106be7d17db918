"""SparkSession factory with the engine's scale-aware defaults.

All knobs here are chosen for correctness-vs-oracle (UTC session time
zone; DuckDB compares naive-UTC timestamps) and for the 100 TB scale
story (AQE on, skew-join splitting on, Arrow enabled, shuffle
partitions sized to cores locally / to data volume on a cluster).

Where each codec comes from:

- data files: the lake sets their codec itself, per write
  (``lake.table.DATA_FILE_CODEC``, zstd), whatever the session's
  ``spark.sql.parquet.compression.codec`` says;
- shuffle blocks: ``spark.io.compression.codec=zstd`` is set here, in
  ``get_spark``. The spark-submit jobs (``jobs/*.py``) build a bare
  ``SparkSession.builder`` and get it only through
  ``--conf spark.io.compression.codec=zstd``; without it their shuffles
  use Spark's lz4 (the data files they write are zstd either way).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "owdp-etl-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with engine defaults.

    master defaults to ``local[$SPARK_GRAFT_CPUS]`` (env, default 32)
    when not running under an external cluster manager.
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        # local mode: ~cores. On a real cluster this is overridden per
        # job (or left to AQE coalescing from an intentionally-high
        # initial number).
        n = master[master.find("[") + 1 : master.find("]")] if "[" in master else "32"
        shuffle_partitions = 32 if n == "*" else max(int(n), 4)

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        # UTC everywhere: reference converts Pacific->UTC at the edge
        # (userCode/util.py:66-82); DuckDB oracle compares naive-UTC.
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # AQE: runtime re-planning, partition coalescing, skew-join split.
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Arrow for every pandas-UDF / toPandas boundary.
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Keep parquet timestamps micros for cross-engine stability.
        .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
        # zstd for shuffle blocks (a SparkContext setting, so it cannot
        # be set per write): the merge's exchange ships the batch
        # payload, which zstd packs 46% smaller than lz4 (DESIGN.md §7
        # "Compressed bytes").
        .config("spark.io.compression.codec", "zstd")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # Guide-baseline: let the planner pick shuffled-hash joins
        # where its size conditions hold (skips both per-task sorts a
        # sort-merge join pays). Interleaved bench draws read slightly
        # better and every plan pin stays unchanged; the zero-exchange
        # merge path forces SHUFFLE_HASH explicitly regardless. Caveat
        # at extreme scale: a build-side partition must fit in task
        # memory — flip SPARK_GRAFT_PREFER_SMJ=true to restore
        # sort-merge-first.
        .config(
            "spark.sql.join.preferSortMergeJoin",
            os.environ.get("SPARK_GRAFT_PREFER_SMJ", "false"),
        )
        # WindowGroupLimit (partial top-1 below the exchange) trades a
        # MAP-SIDE SORT of the full input for fewer shuffled rows.
        # Measured on this engine's rank-1 windows (LWW folds, argmax,
        # latest-per-key) at their typical dedup factors of 1.3-4x:
        # the extra sort costs ~2x the whole query locally
        # (lww fold 2.2s -> 1.0s with the rule off) while every CDC
        # merge path is insensitive (within noise both ways, 2M-event
        # applies). Off by default; on a network-bound cluster with
        # high-duplication streams (where shuffled bytes dominate and
        # the partial prune actually removes most rows) restore
        # Spark's default via SPARK_GRAFT_WGL_THRESHOLD=1000.
        .config(
            "spark.sql.optimizer.windowGroupLimitThreshold",
            os.environ.get("SPARK_GRAFT_WGL_THRESHOLD", "-1"),
        )
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
