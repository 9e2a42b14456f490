"""Building a query again in the same JVM compiles no code and starts no
Spark job: get_spark sizes Spark's codegen cache to the query registry, and
every parquet read of `__spark_entry__` knows its schema."""

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import types as T

import __spark_entry__ as entry
from datavec_spark.cache import release_tracked
from datavec_spark.session import CODEGEN_CACHE_ENTRIES
from datavec_spark.sources.icelite import IceliteTable


def jobs_started(spark, step):
    """(step's result, number of Spark jobs it started), from the status
    tracker's job ids before and after; the listener bus is drained on both
    sides so no job is missed."""
    sc = spark.sparkContext
    bus = sc._jsc.sc().listenerBus()
    tracker = sc.statusTracker()
    bus.waitUntilEmpty()
    before = set(tracker.getJobIdsForGroup(None))
    out = step()
    bus.waitUntilEmpty()
    return out, len(set(tracker.getJobIdsForGroup(None)) - before)


def compiles(spark) -> int:
    cg = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return cg.METRIC_COMPILATION_TIME().getCount()


def test_codegen_cache_is_sized_and_holds(spark, sf_dir):
    assert spark.conf.get("spark.sql.codegen.cache.maxEntries") == str(CODEGEN_CACHE_ENTRIES)
    qs = entry.queries()

    def run(names: list[str]) -> int:
        c0 = compiles(spark)
        for name in names:
            qs[name](spark, sf_dir).collect()
            release_tracked()
        return compiles(spark) - c0

    measured = ["q5_region_revenue", "q7_volume_shipping", "window_lag_diff"]
    first = run(measured)
    # other queries in between compile more classes than Spark's default
    # cache (100) holds, so the second round hits only in a sized cache
    between = run(["q1_pricing_summary", "q3_shipping_priority", "q10_returned_items",
                   "q21_waiting_suppliers", "reduce_multiop_orders", "sessionize_events",
                   "tumbling_hourly", "token_stats_by_lang", "embedding_topk"])
    assert first > 0 and between > 100
    assert run(measured) == 0


def test_table_read_knows_its_schema(spark, sf_dir):
    entry._t(spark, sf_dir, "orders")
    df, n_jobs = jobs_started(spark, lambda: entry._t(spark, sf_dir, "orders"))
    assert n_jobs == 0
    assert "o_orderkey" in df.columns


def test_table_read_follows_a_rewritten_file(spark, tmp_path):
    path = tmp_path / "t.parquet"
    pq.write_table(pa.table({"a": pa.array([1, 2], pa.int64())}), path)
    # the first read infers the schema (one job), the second reuses it
    _, first = jobs_started(spark, lambda: entry._t(spark, str(tmp_path), "t"))
    df, second = jobs_started(spark, lambda: entry._t(spark, str(tmp_path), "t"))
    assert (first, second) == (1, 0) and df.columns == ["a"]
    pq.write_table(pa.table({"a": pa.array([3], pa.int64()), "b": pa.array(["x"])}), path)
    df = entry._t(spark, str(tmp_path), "t")
    assert df.columns == ["a", "b"]
    assert [tuple(r) for r in df.collect()] == [(3, "x")]


def test_icelite_reads_build_without_a_job(spark, tmp_path):
    schema = T.StructType([T.StructField("k", T.StringType()), T.StructField("v", T.IntegerType()),
                           T.StructField("_seq", T.LongType()),
                           T.StructField("_deleted", T.BooleanType())])
    t = IceliteTable.create(str(tmp_path / "t"), schema, key_cols=["k"], num_buckets=2)
    t.overwrite(spark.createDataFrame([("a", 1, 1, False), ("b", 2, 1, False)], schema))
    s0 = t.current_snapshot()["snapshot_id"]
    # a second schema group: files written before and after an added column
    t.add_column("w", "long")
    t.merge_cdc(spark, spark.createDataFrame([("c", 3, 2, False, 30)], t.schema_struct()), epoch=0)
    s1 = t.current_snapshot()["snapshot_id"]
    assert len({f["schema_id"] for f in t.current_snapshot()["files"]}) == 2

    cur, n_read = jobs_started(spark, lambda: t.read(spark))
    changes, n_changes = jobs_started(
        spark, lambda: t.read_changes(spark, from_snapshot_id=s0, to_snapshot_id=s1))
    assert (n_read, n_changes) == (0, 0)
    assert sorted(tuple(r) for r in cur.collect()) == [
        ("a", 1, 1, False, None), ("b", 2, 1, False, None), ("c", 3, 2, False, 30)]
    assert [tuple(r) for r in changes.collect()] == [("c", 3, 2, False, 30, "upsert")]
