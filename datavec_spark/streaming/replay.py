"""CDC replay engine: binlog/WAL tail → key-partitioned LWW merge upserts
into an icelite (Iceberg-semantics) table, batch and Structured Streaming.

Semantics (BASELINE.json north_star):
- events are full-row images keyed on (repo, path) with a globally unique,
  strictly increasing `seq` (commit order);
- per-key resolution is last-writer-wins by `seq` — DataVec's
  ConvertToSequence(key) + Reducer(TakeLast) (AggregatorImpls.java:41
  `AggregableLast`), resolved inside icelite's merge: the epoch's events
  are shuffled by bucket and one Arrow task per bucket resolves them
  together with that bucket's stored file, with no in-batch collapse
  before it;
- every data event becomes one change row for icelite's merge: a full-row
  image in the current table schema whose `_seq` is the event's seq and
  whose `_deleted` is true for a delete. Deletes are therefore tombstones
  carrying their seq, never removals, so a re-delivered or late older
  event can never resurrect a deleted row;
- merges are idempotent: a change applies only if `change.seq > stored.seq`
  — duplicate deliveries (identical seq) and retried batches are no-ops;
- exactly-once: foreachBatch epochs are fenced via the table property
  `cdc.last-epoch`, advanced atomically with the snapshot commit;
- the stream is stateless; its watermark is the `cdc.max-ts-us` fence
  (max event time of prior epochs): events older than it minus the delay
  are dropped and counted per bucket in lineage;
- schema-evolution events (add/rename/widen) are applied serially on the
  driver in `seq` order before the batch's data merge, fenced by
  `cdc.schema-seq`; event payload columns are bound to table columns by
  immutable field id (property `cdc.field-map`), so renames never detach
  the stream from its columns;
- per-batch lineage rows (epoch, partition=bucket — the table's one
  partition unit — event_count,
  min/max seq, late_count, snapshot_id) land in a lineage table,
  idempotently (re-running an epoch overwrites the same keys).
"""

from __future__ import annotations

import json
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from datavec_spark.sources.icelite import IceliteTable, bucket_expr, is_live, type_to_spark

EVENT_SPARK_SCHEMA = T.StructType(
    [
        T.StructField("seq", T.LongType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("op", T.StringType()),
        T.StructField("repo", T.StringType()),
        T.StructField("path", T.StringType()),
        T.StructField("commit", T.StringType()),
        T.StructField("lang", T.StringType()),
        T.StructField("content", T.StringType()),
        T.StructField(
            "schema_change",
            T.StructType(
                [
                    T.StructField("col_name", T.StringType()),
                    T.StructField("new_name", T.StringType()),
                    T.StructField("new_type", T.StringType()),
                ]
            ),
        ),
    ]
)

SCHEMA_OPS = ("add_column", "rename_column", "widen_column")
# immutable binding: event payload field -> icelite field id (set at bootstrap)
EVENT_FIELDS = ["repo", "path", "commit", "lang", "content"]

LINEAGE_SCHEMA = T.StructType(
    [
        T.StructField("epoch", T.LongType()),
        T.StructField("partition", T.IntegerType()),
        T.StructField("event_count", T.LongType()),
        T.StructField("min_seq", T.LongType()),
        T.StructField("max_seq", T.LongType()),
        T.StructField("late_count", T.LongType()),
        T.StructField("dropped_late", T.LongType()),
        T.StructField("snapshot_id", T.LongType()),
    ]
)


def content_expr(repo: F.Column, path: F.Column, seq: F.Column) -> F.Column:
    """Spark-side mirror of datagen.content_for — lets bench-scale jobs
    generate/verify content entirely in the JVM (no driver collect)."""
    h = F.sha2(F.concat_ws("|", repo, path, seq.cast("string")), 256)
    k = (F.conv(F.substring(h, 1, 4), 16, 10).cast("int") % 8) + 1
    return F.repeat(h, k)


class CdcEngine:
    def __init__(self, table_location: str, num_buckets: int = 16):
        self.table_location = table_location
        self.lineage_location = table_location.rstrip("/") + "_lineage"
        # the merge's rewrite unit and its task count (capped by the
        # default parallelism): smaller rewrite files need more buckets
        self.num_buckets = num_buckets

    # -- bootstrap -------------------------------------------------------------

    def bootstrap(self, spark: SparkSession, base_df: DataFrame | None = None) -> IceliteTable:
        """Create the target + lineage tables; load the initial snapshot
        (seq=0 rows). base_df has the input_hint shape."""
        schema = T.StructType(
            [T.StructField(n, T.StringType()) for n in EVENT_FIELDS]
            + [T.StructField("_seq", T.LongType()), T.StructField("_deleted", T.BooleanType())]
        )
        table = IceliteTable.create(
            self.table_location,
            schema,
            key_cols=["repo", "path"],
            num_buckets=self.num_buckets,
            properties={
                "cdc.field-map": json.dumps({n: i + 1 for i, n in enumerate(EVENT_FIELDS)}),
                "cdc.schema-seq": "-1",
                "cdc.last-epoch": "-1",
            },
        )
        IceliteTable.create(
            self.lineage_location,
            LINEAGE_SCHEMA,
            key_cols=["epoch", "partition"],
            num_buckets=1,
            properties={"lineage.last-epoch": "-1"},
        )
        if base_df is not None:
            table.overwrite(
                base_df.withColumn("_seq", F.lit(0).cast("long")).withColumn("_deleted", F.lit(False)),
                summary={"bootstrap": True},
            )
        return table

    def table(self) -> IceliteTable:
        return IceliteTable.load(self.table_location)

    def lineage_table(self) -> IceliteTable:
        return IceliteTable.load(self.lineage_location)

    # -- reads -----------------------------------------------------------------

    def read_current(self, spark: SparkSession) -> DataFrame:
        """User-facing view of the table: live rows, no bookkeeping columns."""
        t = self.table()
        return t.read(spark).where(is_live()).drop("_seq", "_deleted")

    def read_lineage(self, spark: SparkSession) -> DataFrame:
        lin = self.lineage_table()
        df = lin.read(spark)
        # upgrade path (r6 advice #4): a lineage table created before a
        # LINEAGE_SCHEMA column existed (e.g. dropped_late) stores the old
        # schema; null-fill the missing columns so readers written against
        # the current schema keep resolving (matches the field-id
        # projection contract data tables already have)
        for f in LINEAGE_SCHEMA.fields:
            if f.name not in df.columns:
                df = df.withColumn(f.name, F.lit(None).cast(f.dataType))
        return df

    # -- the apply stage (shared by batch replay and foreachBatch) --------------

    def apply_batch(
        self,
        spark: SparkSession,
        batch_df: DataFrame,
        epoch: int,
        late_delay_seconds: int = 600,
        transform_chain=None,
        drop_late: bool = False,
    ) -> dict:
        """Apply one epoch of the change stream. Idempotent per epoch.

        Serial-path shape (this is the per-trigger driver cost a stream
        pays once per micro-batch, so it is kept to TWO Spark queries and
        ONE metadata load):
          1. the fused stats pass — per-bucket lineage metrics for data
             events AND the (tiny, ~1%) schema-op set gathered via
             collect_list into a sentinel partition, in one aggregation;
          2. merge_cdc over the bound events themselves, one full-row
             image per event (payload columns under their current names,
             `_seq` = seq, `_deleted` = op is delete): they are shuffled
             by bucket and one Arrow task per bucket resolves
             last-writer-wins against that bucket's stored file and writes
             its replacement. The stored table is never shuffled.
        All table properties (epoch fence, schema fence, field map,
        watermark) come from one metadata read; it is re-read only if this
        batch actually applied schema ops (which commit new metadata).

        batch_df is consumed twice (stats pass, merge) and never cached:
        caching would materialize every column — content included — before
        the stats pass, which otherwise reads only (seq, ts, op, keys)
        thanks to parquet column pruning.

        The merge snapshot's summary records the epoch's metrics: events-in
        (arriving data events), late-dropped, stats-ms, and merge_cdc's own
        added-records, added-files-size and merge-ms.

        Lineage accounts ARRIVING change events (pre-transform-chain): it is
        ingest/resume bookkeeping, not post-filter output accounting — and a
        transform chain must never rewrite key columns (it would re-bucket
        rows out from under the merge), which keeps the fused pre-binding
        bucket hash exact.

        drop_late=True enforces the lateness SLA in the apply stage itself:
        events older than (max event time of all prior epochs −
        late_delay_seconds) are dropped before the merge, counted per
        bucket, and recorded in lineage's `dropped_late` column. The fence
        `cdc.max-ts-us` advances like Spark's global watermark (max event
        time of prior triggers), so this is the stream's watermark, with
        exact per-bucket drop accounting. Batch backfills keep
        drop_late=False: unbounded lateness tolerance."""
        table = IceliteTable(self.table_location)
        meta0 = table.metadata()  # the ONE per-epoch metadata load
        props0 = meta0["properties"]
        # fast path: a fenced epoch (foreachBatch redelivery after restart)
        # has fully committed — skip all computation, not just the commit.
        # If the crash hit between the merge commit and the lineage write,
        # lineage lags the fence: fall through so it gets recomputed (the
        # merge itself stays a no-op via its own fence).
        if epoch is not None and epoch <= int(props0.get("cdc.last-epoch", "-1")):
            lin_epoch = int(self.lineage_table().properties().get("lineage.last-epoch", "-1"))
            if lin_epoch >= epoch:
                return {"applied": False, "snapshot_id": None, "reason": "epoch-fenced"}
        fmap = json.loads(props0["cdc.field-map"])
        by_id0 = {f["id"]: f for f in table._fields(meta0)}
        # the bucket hash over the RAW event key fields (resolved through
        # the immutable field map) — the same bucket_expr the
        # table's writers apply to the bound/current-schema columns, so the
        # stats pass below can run BEFORE binding/schema ops and its lineage
        # partitions are the merge's data buckets. (Key columns are strings per
        # the CDC contract; schema widens are numeric-only, renames don't
        # change values — a schema op in this very batch cannot change the
        # hash.) The bucket count comes from the STORED partition spec, not
        # the engine-constructor default — a reload with a different
        # num_buckets must not mislabel lineage partitions vs data buckets.
        orig_by_id = {fid: orig for orig, fid in fmap.items()}
        key_hash_cols = [
            F.col(orig_by_id[i]).cast(type_to_spark(by_id0[i]["type"]))
            for i in meta0["partition_spec"]["key_field_ids"]
        ]
        bucket = bucket_expr(key_hash_cols, meta0["partition_spec"]["num_buckets"])

        # 1. FUSED stats job: late-event cut relative to the stream
        #    watermark carried in cdc.max-ts-us (max event time of all
        #    prior batches, advanced atomically with each merge commit)
        #    minus the allowed delay — an event is late relative to
        #    stream progress *before* its batch, the watermark semantics.
        prev_max_us = props0.get("cdc.max-ts-us")
        if prev_max_us is not None:
            late_cut = F.timestamp_micros(
                F.lit(int(prev_max_us) - late_delay_seconds * 1_000_000)
            )
            late_expr = F.count_if(F.col("ts") < late_cut)
        else:
            late_expr = F.lit(0).cast("long")
        is_schema = F.col("op").isin(*SCHEMA_OPS)
        t_stats = time.perf_counter()
        stats_rows = (
            batch_df.groupBy(
                F.when(is_schema, F.lit(-1)).otherwise(bucket).alias("partition"))
            .agg(
                F.count(F.lit(1)).alias("event_count"),
                F.min("seq").alias("min_seq"),
                F.max("seq").alias("max_seq"),
                late_expr.alias("late_count"),
                F.max(F.unix_micros(F.col("ts").cast("timestamp"))).alias("_max_ts_us"),
                F.collect_list(
                    F.when(is_schema, F.struct("seq", "op", "schema_change"))
                ).alias("_schema_ops"),
            )
            .collect()
        )
        stats_ms = int((time.perf_counter() - t_stats) * 1000)

        # 2. schema-evolution ops: driver-serialized in seq order, fenced
        #    by cdc.schema-seq so retries are no-ops
        schema_ops = [
            op for r in stats_rows if r["partition"] == -1 for op in r["_schema_ops"]
        ]
        schema_fence = int(props0.get("cdc.schema-seq", "-1"))
        applied_schema = False
        for r in sorted(schema_ops, key=lambda r: r["seq"]):
            if r["seq"] <= schema_fence:
                continue
            sc = r["schema_change"]
            fence = {"cdc.schema-seq": str(r["seq"])}
            if r["op"] == "add_column":
                table.add_column(sc["col_name"], sc["new_type"], properties_update=fence)
            elif r["op"] == "rename_column":
                table.rename_column(sc["col_name"], sc["new_name"], properties_update=fence)
            else:
                table.widen_column(sc["col_name"], sc["new_type"], properties_update=fence)
            schema_fence = r["seq"]
            applied_schema = True

        lineage_rows = sorted((r for r in stats_rows if r["partition"] >= 0),
                              key=lambda r: r["partition"])
        if not lineage_rows:  # empty trigger (no data events this epoch)
            return {"applied": False, "snapshot_id": None, "reason": "empty-batch"}
        batch_max_us = max(r["_max_ts_us"] for r in lineage_rows)
        new_max_us = max(batch_max_us, int(prev_max_us)) if prev_max_us else batch_max_us

        # 3. bind event payload columns to current table columns by field
        #    id (re-read metadata only if a schema op just committed)
        meta = table.metadata() if applied_schema else meta0
        by_id = {f["id"]: f for f in table._fields(meta)}
        cur_name = {orig: by_id[fid]["name"] for orig, fid in fmap.items()}

        data = batch_df.where(~is_schema)
        dropping = drop_late and prev_max_us is not None
        if dropping:
            # the watermark: enforce the lateness SLA here (late rows were
            # already counted per bucket by the fused stats pass —
            # late_count IS the dropped count)
            data = data.where(F.col("ts") >= late_cut)
        if transform_chain is not None:
            # DataVec TransformProcess parity: vectorized transform chain
            # applied inside the merge-apply stage (SURVEY.md §0 graft)
            data = transform_chain(data)

        # 4. epoch-fenced merge (watermark advances with it) of the bound
        #    events themselves; deletes are tombstones, not removals.
        changes = data.select(
            *[F.col(orig).cast(type_to_spark(by_id[fmap[orig]]["type"])).alias(cur_name[orig])
              for orig in EVENT_FIELDS],
            F.col("seq").alias("_seq"),
            (F.col("op") == F.lit("delete")).alias("_deleted"),
        )
        events_in = sum(r["event_count"] for r in lineage_rows)
        late = sum(r["late_count"] for r in lineage_rows)
        if not dropping or events_in > late:
            result = table.merge_cdc(
                spark,
                changes,
                epoch=epoch,
                extra_summary={"epoch": epoch, "events-in": events_in,
                               "late-dropped": late if dropping else 0,
                               "stats-ms": stats_ms},
                extra_properties={"cdc.max-ts-us": str(new_max_us)},
            )
        else:
            # every arriving event was dropped as late: nothing to merge
            # or fence (idempotent on redelivery — the drop recomputes),
            # but the drops still land in lineage below
            result = {"applied": False, "snapshot_id": None,
                      "reason": "all-late-dropped"}

        # 5. lineage upsert — idempotent by (epoch, partition) key
        snap_id = result["snapshot_id"] if result["applied"] else (
            self.table().current_snapshot() or {}
        ).get("snapshot_id")
        lin = IceliteTable(self.lineage_location)  # defer metadata read
        if lineage_rows and int(lin.properties().get("lineage.last-epoch", "-1")) < epoch:
            rows = [
                {"epoch": epoch, "partition": r["partition"],
                 "event_count": r["event_count"], "min_seq": r["min_seq"],
                 "max_seq": r["max_seq"], "late_count": r["late_count"],
                 "dropped_late": r["late_count"] if dropping else 0,
                 "snapshot_id": snap_id}
                for r in lineage_rows
            ]
            # ≤num_buckets rows: driver-side pyarrow append — saves a full
            # Spark job + commit per epoch (the lineage is tiny by design)
            lin.append_rows_local(
                rows,
                summary={"epoch": epoch},
                properties_update={"lineage.last-epoch": str(epoch)},
            )
        return result

    # -- streaming replay ----------------------------------------------------------

    def run_stream(
        self,
        spark: SparkSession,
        events_dir: str,
        checkpoint_dir: str,
        late_delay_seconds: int = 7200,
        max_files_per_trigger: int | None = None,
        available_now: bool = True,
        transform_chain=None,
        dedup: bool = False,
    ):
        """Structured Streaming tail of the event-file directory.

        The stream is stateless: no dedup stage, no state store. Each
        micro-batch goes to apply_batch(drop_late=True) in foreachBatch.

        CONTRACT — `late_delay_seconds` is the stream's lateness SLA, and the
        `cdc.max-ts-us` fence is the watermark: an event older than (max
        event time of all prior epochs − delay) is DROPPED and counted per
        bucket in lineage's `dropped_late` (lineage_drop_totals). Size the
        delay to the source's out-of-order bound (tested: delay ≥ bound ⇒
        final state equals the oracle with zero drops). Re-deliveries need
        no dedup state: the merge is idempotent by `seq` (a change applies
        only if change.seq > stored.seq), so a duplicate is a no-op, and a
        delete is a tombstone that keeps its seq, so a late older event
        cannot resurrect the key. For backfills that must tolerate
        unbounded lateness call apply_batch() with its default
        drop_late=False, which has no watermark. Exactly-once = checkpoint
        (epoch replay) + cdc.last-epoch fence inside the commit.
        """
        # dedup only still exists for callers passing dedup=False; the
        # next benchmark change deletes the parameter
        if dedup:
            raise ValueError(
                "run_stream(dedup=True): the stateful dedup "
                "stage was removed; the stream is stateless (the cdc.max-ts-us "
                "fence is its watermark, re-deliveries are no-ops by seq)")
        reader = spark.readStream.schema(EVENT_SPARK_SCHEMA)
        if max_files_per_trigger:
            reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
        return self.run_stream_df(
            spark, reader.parquet(events_dir), checkpoint_dir,
            late_delay_seconds=late_delay_seconds, available_now=available_now,
            transform_chain=transform_chain,
        )

    def run_stream_df(
        self,
        spark: SparkSession,
        events_stream: DataFrame,
        checkpoint_dir: str,
        late_delay_seconds: int = 7200,
        available_now: bool = True,
        transform_chain=None,
    ):
        """Source-agnostic streaming entry: any streaming DataFrame with the
        EVENT_SPARK_SCHEMA columns (file tail, Kafka value-parsed stream,
        rate-source adapter, socket...) gets the same stateless,
        watermark-fenced, epoch-fenced merge pipeline (see run_stream). The
        file form (run_stream) is sugar over this."""

        def process(df: DataFrame, batch_id: int):
            self.apply_batch(spark, df, epoch=batch_id,
                             transform_chain=transform_chain,
                             late_delay_seconds=late_delay_seconds,
                             drop_late=True)

        writer = (
            events_stream.writeStream.foreachBatch(process)
            .option("checkpointLocation", checkpoint_dir)
        )
        if available_now:
            writer = writer.trigger(availableNow=True)
        return writer.start()

    def lineage_drop_totals(self, spark: SparkSession) -> dict:
        """Drop accounting for the stream's lateness SLA, which the apply
        stage enforces: totals over the lineage table's exact per-(epoch,
        bucket) columns. Durable — survives restarts with the table."""
        row = (
            self.read_lineage(spark)
            .agg(
                F.sum("dropped_late").alias("dropped"),
                F.sum("late_count").alias("late"),
                F.sum("event_count").alias("events"),
            )
            .collect()[0]
        )
        return {
            "rows_dropped_late": int(row["dropped"] or 0),
            "rows_late": int(row["late"] or 0),
            "rows_arrived": int(row["events"] or 0),
        }

    # -- verification ----------------------------------------------------------------

    def final_state_hashes(self, spark: SparkSession) -> DataFrame:
        """(key cols..., sha256(content)) of the live table — the replay-
        equality invariant. All JVM-side; safe at any scale."""
        t = self.table()
        keys = t.key_cols()
        df = self.read_current(spark)
        fmap = json.loads(t.properties()["cdc.field-map"])
        by_id = {f["id"]: f["name"] for f in t._fields(t.metadata())}
        content_name = by_id[fmap["content"]]
        return df.select(*keys, F.sha2(F.col(content_name), 256).alias("content_sha"))
