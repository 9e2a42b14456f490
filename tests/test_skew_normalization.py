"""Salting/skew utilities + whole-DataFrame normalization + streaming
transform-chain integration."""

from pyspark.sql import functions as F

from datavec_spark.functions.normalization import min_max_scale, zeromean_unit_variance
from datavec_spark.operators.skew import salted_collect_list, salted_lww, salted_repartition


def test_salted_lww_equals_plain_maxby(spark):
    rows = [("hot", f"p{i % 3}", f"v{i}", i) for i in range(500)] + [("cold", "p0", "x", 1)]
    df = spark.createDataFrame(rows, "repo string, path string, val string, seq long")
    salted = salted_lww(df, ["repo", "path"], ["val"], "seq", salt=8)
    plain = (
        df.groupBy("repo", "path")
        .agg(F.max_by("val", "seq").alias("val"), F.max("seq").alias("seq"))
    )
    a = sorted(tuple(r) for r in salted.collect())
    b = sorted(tuple(r) for r in plain.collect())
    assert a == b


def test_salted_repartition_spreads_hot_key(spark):
    df = spark.createDataFrame([("hot", i) for i in range(1000)], "k string, v int")
    parted = salted_repartition(df, ["k"], num_partitions=8, salt=8)
    dist = parted.groupBy(F.spark_partition_id().alias("p")).count().collect()
    assert len(dist) > 1  # one hot key no longer collapses into one partition
    assert parted.count() == 1000


def test_salted_collect_list_ordered(spark):
    rows = [("k", i, f"v{i}") for i in range(100)]
    df = spark.createDataFrame(rows, "k string, o int, v string")
    out = salted_collect_list(df, ["k"], "v", "o", salt=4).collect()[0]
    assert out["v_list"] == [f"v{i}" for i in range(100)]


def test_zeromean_and_minmax(spark):
    df = spark.createDataFrame([(1.0, 10, "a"), (2.0, 20, "b"), (3.0, 30, "c")],
                               "x double, y int, s string")
    z = zeromean_unit_variance(df)
    got = sorted(round(r["x"], 6) for r in z.collect())
    assert got == [-1.0, 0.0, 1.0]
    m = min_max_scale(df, 0.0, 1.0, exclude=["y"])
    assert sorted(r["x"] for r in m.collect()) == [0.0, 0.5, 1.0]
    assert sorted(r["y"] for r in m.collect()) == [10, 20, 30]  # excluded


def test_streaming_transform_chain_in_apply_stage(spark, tmp_path):
    """North-star graft: DataVec-style transform chain (vectorized, zero
    per-row Python) applied inside the CDC merge-apply stage. The chain
    runs before the merge, so lineage counts the events that reach it: a
    `filter` op's dropped events are not in lineage's event counts."""
    from datavec_spark.operators.transforms import TransformProcess
    from datavec_spark.streaming.datagen import generate_base_rows, generate_events, events_to_table
    from datavec_spark.streaming.replay import EVENT_SPARK_SCHEMA, CdcEngine

    base = generate_base_rows(50, 10, 10)
    events = generate_events(300, n_repos=10, paths_per_repo=10, with_schema_events=False)
    tp = (TransformProcess()
          .add("filter", condition={"op": "==", "column": "lang", "value": "txt"})
          .add("change_case", column="lang", mode="upper"))
    eng = CdcEngine(str(tmp_path / "repos"), num_buckets=4)
    eng.bootstrap(spark, spark.createDataFrame(
        [(r["repo"], r["path"], r["commit"], r["lang"].upper(), r["content"]) for r in base],
        "repo string, path string, commit string, lang string, content string"))
    import pandas as pd  # noqa: F401

    pdf = events_to_table(events).to_pandas()
    eng.apply_batch(spark, spark.createDataFrame(pdf, EVENT_SPARK_SCHEMA), epoch=0,
                    transform_chain=tp)
    langs = {r["lang"] for r in eng.read_current(spark).select("lang").distinct().collect()}
    assert langs and all(v == v.upper() for v in langs)
    kept = [e for e in events if e["lang"] != "txt"]
    assert len(kept) < len(events)
    lin = eng.read_lineage(spark).agg(F.sum("event_count"), F.min("min_seq"),
                                      F.max("max_seq")).collect()[0]
    assert tuple(lin) == (len(kept), min(e["seq"] for e in kept), max(e["seq"] for e in kept))
    assert eng.table().current_snapshot()["summary"]["events-in"] == len(kept)
