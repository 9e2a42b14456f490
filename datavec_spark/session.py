"""SparkSession factory tuned for the engine.

Defaults chosen for scale: AQE on (runtime re-plan, skew-join splitting,
partition coalescing), Arrow on (vectorized pandas UDF exchange), shuffle
partitions sized to cores locally (a real cluster overrides via submit conf).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "datavec_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    master = master or os.environ.get("SPARK_GRAFT_MASTER", "local[%s]" % os.environ.get("SPARK_GRAFT_CPUS", "*"))
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # large `content` strings: keep Arrow batches bounded so pandas stages
        # don't balloon executor memory (SURVEY.md §7 watch list)
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "2048")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or _default_shuffle_partitions(master)))
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        # direct-commit outputs: the v1 committer's sequential driver-side
        # renames dominate small-file snapshot writes
        .config("spark.hadoop.mapreduce.fileoutputcommitter.algorithm.version", "2")
        .config("spark.hadoop.mapreduce.fileoutputcommitter.marksuccessfuljobs", "false")
        .config("spark.hadoop.parquet.summary.metadata.level", "NONE")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def _default_shuffle_partitions(master: str) -> int:
    # local[N] → N; local[*]/cluster → 32 (cluster jobs pass their own)
    if master.startswith("local["):
        inner = master[len("local[") : -1]
        if inner.isdigit():
            return max(int(inner), 4)
    return 32
