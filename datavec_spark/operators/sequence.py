"""Sequence (time-series) ops: DataVec sequences as windowed DataFrames.

A DataVec sequence (grouped rows ordered in-group,
transform/sequence/ConvertToSequence.java:41) is here simply a DataFrame
plus (key columns, order column) — per-sequence ops are window functions
over Window.partitionBy(keys).orderBy(order), with none of the reference's
groupByKey whole-group materialization (SparkTransformExecutor.java:216-236)
or __SEQ_UUID bookkeeping (DataFrames.java:44-45). Group state never has to
fit in memory; skewed keys stay a shuffle-partition problem AQE can split.

Ops mirror SURVEY.md §2.7: moving-window reduce, sequence difference,
offset (lag/lead), trim, split by time gap (sessionization), split by max
length, tumbling/sliding time windows, reduce-by-window.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from datavec_spark.cache import track

from datavec_spark.operators.transforms import op

_WINDOW_AGGS = {"Mean": F.avg, "Min": F.min, "Max": F.max, "Sum": F.sum,
                "Count": F.count, "Stdev": F.stddev_samp}


def _w(keys: list[str], order):
    """order: a column name or list of names (tie-breakers keep per-row
    outputs deterministic when the primary order column has duplicates)."""
    cols = [order] if isinstance(order, str) else list(order)
    return Window.partitionBy(*keys).orderBy(*cols)


@op("moving_window_reduce")  # SequenceMovingWindowReduceTransform.java:54
def _moving_window_reduce(df, keys, order, column, window_size, reduce_op, out=None,
                          edge_mode="Default", edge_value=None):
    w = _w(keys, order).rowsBetween(-(window_size - 1), 0)
    e = _WINDOW_AGGS[reduce_op](F.col(column)).over(w)
    out = out or f"{reduce_op.lower()}({window_size})({column})"
    if edge_mode == "SpecifiedValue":
        rn = F.row_number().over(_w(keys, order))
        e = F.when(rn < window_size, F.lit(edge_value)).otherwise(e)
    return df.withColumn(out, e)


@op("sequence_difference")  # SequenceDifferenceTransform.java:50
def _sequence_difference(df, keys, order, column, lookback=1, out=None,
                         first_step_mode="Default", first_step_value=None):
    lagged = F.lag(F.col(column), lookback).over(_w(keys, order))
    diff = F.col(column) - lagged
    if first_step_mode == "SpecifiedValue":
        e = F.coalesce(diff, F.lit(first_step_value))
    else:  # Default: first `lookback` steps → 0 (x(t) - x(t) semantics)
        e = F.coalesce(diff, F.col(column) - F.col(column))
    return df.withColumn(out or column, e)


@op("sequence_offset")  # SequenceOffsetTransform.java:57 (lead/lag shift)
def _sequence_offset(df, keys, order, columns, offset, mode="InPlace",
                     edge_mode="TrimSequence", edge_value=None):
    w = _w(keys, order)
    shift = (lambda c: F.lag(c, offset).over(w)) if offset > 0 else (lambda c: F.lead(c, -offset).over(w))
    new = {}
    for c in columns:
        e = shift(F.col(c))
        if edge_mode == "SpecifiedValue":
            e = F.coalesce(e, F.lit(edge_value))
        new[c if mode == "InPlace" else f"{c}_offset"] = e
    out = df.withColumns(new)
    if edge_mode == "TrimSequence":
        marker = next(iter(new))
        out = out.where(F.col(marker).isNotNull())
    return out


@op("sequence_trim")  # SequenceTrimTransform.java:38
def _sequence_trim(df, keys, order, n, from_start=True):
    w = _w(keys, order)
    if from_start:
        rn = F.row_number().over(w)
        return df.withColumn("_rn", rn).where(F.col("_rn") > n).drop("_rn")
    ocols = [order] if isinstance(order, str) else list(order)
    rn = F.row_number().over(Window.partitionBy(*keys).orderBy(*[F.col(c).desc() for c in ocols]))
    return df.withColumn("_rn", rn).where(F.col("_rn") > n).drop("_rn")


@op("sessionize")  # SequenceSplitTimeSeparation.java:43 → session ids
def _sessionize(df, keys, ts_col, gap_seconds, out="session_id", order=None):
    """Split sequences where the time gap exceeds the threshold: a new
    sub-sequence (session) starts at every gap > threshold. Batch form of
    F.session_window, expressed with cumulative window sums so it stays
    incremental-friendly and codegen'd. `order` (default ts_col) may add
    tie-breakers for deterministic per-row session ids."""
    w = _w(keys, order or ts_col)
    prev = F.lag(F.col(ts_col)).over(w)
    # cast through timestamp so TIMESTAMP_NTZ sources work identically
    secs = F.col(ts_col).cast("timestamp").cast("double")
    prev_secs = prev.cast("timestamp").cast("double")
    is_new = (prev.isNull() | (secs - prev_secs > F.lit(gap_seconds))).cast("long")
    return df.withColumn(out, F.sum(is_new).over(w.rowsBetween(Window.unboundedPreceding, 0)) - 1)


@op("split_max_length")  # SplitMaxLengthSequence.java:38
def _split_max_length(df, keys, order, max_length, out="chunk_id"):
    rn = F.row_number().over(_w(keys, order))
    return df.withColumn(out, ((rn - 1) / max_length).cast("long"))


@op("time_window")  # TimeWindowFunction.java:44 (tumbling) / OverlappingTimeWindowFunction.java:56 (sliding)
def _time_window(df, ts_col, window_duration, slide_duration=None, offset=None,
                 out="window"):
    wcol = F.window(F.col(ts_col), window_duration, slide_duration, offset)
    return df.withColumn(out, wcol)


@op("reduce_sequence_by_window")  # ReduceSequenceByWindowTransform.java:42
def _reduce_sequence_by_window(df, keys, ts_col, window_duration, ops,
                               slide_duration=None, aliases=None):
    from datavec_spark.operators.reducers import _agg_expr

    aliases = aliases or {}
    aggs = []
    for column, col_ops in ops.items():
        for r in [col_ops] if isinstance(col_ops, str) else col_ops:
            name = aliases.get(f"{r}({column})", f"{r.lower()}({column})")
            aggs.append(_agg_expr(r, column, None, None, 0.05).alias(name))
    return df.groupBy(*keys, F.window(F.col(ts_col), window_duration, slide_duration)).agg(*aggs)


@op("sorted_rank")  # CalculateSortedRank.java:53 — 0-based global rank
def _sorted_rank(df, column, out="rank", ascending=True):
    order = F.col(column).asc() if ascending else F.col(column).desc()
    # NOTE scale: a single global window is a 1-partition sort. For large
    # tables prefer rank_scalable() below.
    return df.withColumn(out, F.row_number().over(Window.orderBy(order)) - 1)


def _running_total(df: DataFrame, order: Column, weight: Column, out: str) -> DataFrame:
    """Global running sum of `weight` in `order` order, INCLUSIVE of the
    current row, without a single-partition window: range-partition + sort
    within partitions, per-partition totals (a tiny driver collect, one row
    per partition) become literal offsets, and the global sum is the local
    window sum plus its partition's offset (the zipWithIndex pattern,
    SparkTransformExecutor.java:292-311, restated on DataFrames)."""
    parted = df.repartitionByRange(df.sparkSession.sparkContext.defaultParallelism, order) \
               .sortWithinPartitions(order)
    # persist is REQUIRED for correctness, not just cost: repartitionByRange
    # samples its range boundaries per job, so without materialization the
    # offsets job and the output job can land rows in different partitions
    # (observed: nondeterministic global ranks on 5k rows)
    with_pid = track(parted.withColumn("_pid", F.spark_partition_id()).persist())
    totals = with_pid.groupBy("_pid").agg(F.sum(weight).alias("t")) \
                     .orderBy("_pid").collect()
    offsets = {}
    acc = 0
    for r in totals:
        offsets[r["_pid"]] = acc
        acc += r["t"] or 0
    omap = F.create_map(*[F.lit(x) for kv in offsets.items() for x in kv])
    w = Window.partitionBy("_pid").orderBy(order) \
              .rowsBetween(Window.unboundedPreceding, 0)
    local = F.sum(weight).over(w)
    return with_pid.withColumn(out, local + F.element_at(omap, F.col("_pid"))).drop("_pid")


def rank_scalable(df: DataFrame, column: str, out: str = "rank", ascending: bool = True) -> DataFrame:
    """Global 0-based rank without a single-partition window: the running
    count of rows in `column` order, minus 1."""
    order = F.col(column).asc() if ascending else F.col(column).desc()
    return _running_total(df, order, F.lit(1), out).withColumn(out, F.col(out) - 1)


def cumsum_scalable(df: DataFrame, order_col: str, weight_col: str,
                    out: str = "cumsum") -> DataFrame:
    """Global running sum of `weight_col` in `order_col` order, INCLUSIVE
    of the current row, by the same two phases as rank_scalable."""
    return _running_total(df, F.col(order_col).asc(), F.col(weight_col), out)


def pack_sequences(df: DataFrame, order_col: str, weight_col: str,
                   budget: int, out: str = "bin_id") -> DataFrame:
    """Contiguous sequence packing for training pipelines: assign each
    record (document) to a token-budget bin by its cumulative starting
    offset in `order_col` order — bin_id = floor(start_offset / budget),
    start_offset = cumsum(weight) − weight. Deterministic (no greedy
    order-dependence beyond the declared order), exactly SQL-mirrorable,
    and scalable via the two-phase cumsum (no single-partition window). A
    record longer than the budget still gets the bin its start falls in —
    the downstream splitter's concern, not the packer's."""
    c = cumsum_scalable(df, order_col, weight_col, out="_cum")
    return c.withColumn(
        out, F.floor((F.col("_cum") - F.col(weight_col)) / F.lit(budget))
    ).drop("_cum")


def sequence_merge(dfs: list[DataFrame]) -> DataFrame:
    """SequenceMerge parity (transform/sequence/merge/SequenceMerge.java:34):
    merge several sequence sources that share (keys, order) into one —
    sequences with the same key interleave by the order column. With the
    (keys, order)-window representation no explicit re-sort is needed:
    downstream per-sequence ops re-establish order via their own windows."""
    out = dfs[0]
    for d in dfs[1:]:
        out = out.unionByName(d, allowMissingColumns=True)
    return out


@op("sequence_merge")
def _sequence_merge(df, others):
    """Chain form: `others` is a list of DataFrames (programmatic specs
    only — a JSON spec cannot carry a DataFrame; use the function form)."""
    return sequence_merge([df] + list(others))


@op("sequence_length_filter")  # condition/sequence/SequenceLengthCondition.java:39
def _sequence_length_filter(df, keys, op, value):
    """Keep only sequences whose LENGTH satisfies (op, value) — e.g.
    ('>=', 5) keeps sequences of 5+ steps. One window count, no shuffle
    beyond the hash-partition on keys; filter applies row-wise so whole
    sequences survive or drop together."""
    from datavec_spark.operators.conditions import _CMP

    n = F.count(F.lit(1)).over(Window.partitionBy(*keys))
    if op == "in":
        keep = n.isin(*value)
    elif op == "notin":
        keep = ~n.isin(*value)
    else:
        keep = _CMP[op](n, F.lit(value))
    # window exprs are not allowed in WHERE: materialize as a column first
    return df.withColumn("_keep", keep).where(F.col("_keep")).drop("_keep")


def analyze_sequence(df: DataFrame, keys: list[str]) -> dict:
    """AnalyzeSpark.analyzeSequence parity (datavec-spark/.../AnalyzeSpark.java:69-117):
    sequence-length statistics (count of sequences, min/max/mean/stdev
    length) + a length histogram, all from ONE groupBy(keys).count() pass
    + one driver-side agg over the tiny per-sequence lengths aggregate."""
    lengths = df.groupBy(*keys).agg(F.count(F.lit(1)).alias("length"))
    row = lengths.agg(
        F.count(F.lit(1)).alias("n_sequences"),
        F.min("length").alias("min_length"),
        F.max("length").alias("max_length"),
        F.mean("length").alias("mean_length"),
        F.stddev_samp("length").alias("stdev_length"),
        F.sum("length").alias("total_steps"),
    ).collect()[0].asDict()
    lo, hi = row["min_length"], row["max_length"]
    buckets = max(min(int(hi - lo) + 1, 20), 1)
    width = max((hi - lo) / buckets, 1)
    hist = (
        lengths.groupBy(
            F.least(F.floor((F.col("length") - lo) / width), F.lit(buckets - 1)).alias("bucket")
        )
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("bucket")
        .collect()
    )
    row["length_histogram"] = [
        {"lo": lo + r["bucket"] * width, "hi": lo + (r["bucket"] + 1) * width, "n": r["n"]}
        for r in hist
    ]
    return row
