"""SparkSession factory tuned for the engine.

Defaults chosen for scale: AQE on (runtime re-plan, skew-join splitting,
partition coalescing), Arrow on (vectorized pandas UDF exchange), shuffle
partitions sized to cores locally (a real cluster overrides via submit conf).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Spark's JVM-wide cache of compiled query classes (default 100 entries) is
# sized to hold the whole `queries()` registry, so a query built again in
# the same JVM reuses its classes instead of recompiling them. Measured by
# running the registry twice at sf0.001 in one local[4] JVM (4-core host):
# the first pass compiles about 965 classes; the second recompiles 1088 at
# 100 entries, 860 at 500, 774 at 750, and 6-22 at 1000 to 100000, the
# floor being code whose text differs per run. The cache is a segmented,
# approximately-LRU Guava cache, so a size just above 965 sits on the
# edge; twice the registry leaves room for uneven segments and new queries.
CODEGEN_CACHE_ENTRIES = 2000


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
        # static: the JVM reads it once, before its first codegen
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES))
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
