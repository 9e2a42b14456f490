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
  driver in `seq` order before the batch's data merge commits, fenced by
  `cdc.schema-seq`; event payload columns are bound to table columns by
  immutable field id (property `cdc.field-map`), so renames never detach
  the stream from its columns;
- per-batch lineage rows (epoch, partition=bucket — the table's one
  partition unit — event_count, min/max seq, late_count, dropped_late,
  snapshot_id) are counted by the merge's own tasks and ride in the merge
  snapshot that commits the epoch, so one metadata commit carries data,
  fences and lineage. Lineage is a view over those snapshots and has
  their retention (icelite.HISTORY); the late-drop totals are running
  table properties the same commit advances, so they cover all time.
"""

from __future__ import annotations

import json

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from datavec_spark.sources.icelite import EVENT_US, TALLY_COLS, IceliteTable, is_live, type_to_spark

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


class _SchemaOpsPending(Exception):
    """Raised before a merge commits when its batch holds schema ops above
    the `cdc.schema-seq` fence: the merge's files are discarded."""

    def __init__(self, fence: int, has_data: bool):
        super().__init__(f"schema ops above cdc.schema-seq {fence}")
        self.fence, self.has_data = fence, has_data


def content_expr(repo: F.Column, path: F.Column, seq: F.Column) -> F.Column:
    """Spark-side mirror of datagen.content_for — lets bench-scale jobs
    generate/verify content entirely in the JVM (no driver collect)."""
    h = F.sha2(F.concat_ws("|", repo, path, seq.cast("string")), 256)
    k = (F.conv(F.substring(h, 1, 4), 16, 10).cast("int") % 8) + 1
    return F.repeat(h, k)


class CdcEngine:
    def __init__(self, table_location: str, num_buckets: int = 16):
        self.table_location = table_location
        # the merge's rewrite unit and its task count (capped by the
        # default parallelism): smaller rewrite files need more buckets
        self.num_buckets = num_buckets

    # -- bootstrap -------------------------------------------------------------

    def bootstrap(self, spark: SparkSession, base_df: DataFrame | None = None) -> IceliteTable:
        """Create the target table and load its initial snapshot (seq=0
        rows); base_df has the input_hint shape. Lineage needs no table of
        its own: it rides in the merge snapshots."""
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
        if base_df is not None:
            table.overwrite(
                base_df.withColumn("_seq", F.lit(0).cast("long")).withColumn("_deleted", F.lit(False)),
                summary={"bootstrap": True},
            )
        return table

    def table(self) -> IceliteTable:
        return IceliteTable.load(self.table_location)

    def lineage_table(self) -> IceliteTable:
        """The table whose snapshots carry the lineage: the data table.
        Kept for the benchmark's commit_times, which reads epochs from it;
        read_lineage is the way to read lineage."""
        return self.table()

    # -- reads -----------------------------------------------------------------

    def read_current(self, spark: SparkSession) -> DataFrame:
        """User-facing view of the table: live rows, no bookkeeping columns."""
        t = self.table()
        return t.read(spark).where(is_live()).drop("_seq", "_deleted")

    def read_lineage(self, spark: SparkSession) -> DataFrame:
        """Per-(epoch, bucket) lineage, built on the driver from the bucket
        tallies of every retained snapshot that committed an epoch: the
        last icelite.HISTORY snapshots' epochs (lineage_drop_totals is
        all-time)."""
        names = LINEAGE_SCHEMA.fieldNames()
        return spark.createDataFrame(
            [dict(zip(names, (s["summary"]["epoch"], *row, s["snapshot_id"])))
             for s in IceliteTable(self.table_location).snapshots()
             if s["summary"].get("epoch") is not None
             for row in zip(*(s["summary"]["bucket-tallies"][c] for c in TALLY_COLS))],
            LINEAGE_SCHEMA)

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
        """Apply one epoch of the change stream. Idempotent per epoch: an
        epoch at or below the `cdc.last-epoch` fence (a foreachBatch
        redelivery after restart) has fully committed and returns at once,
        with no Spark job.

        Serial-path shape (this is the per-trigger driver cost a stream
        pays once per micro-batch): ONE Spark query for an epoch without
        schema ops, 2 jobs under AQE, and ONE metadata commit. Every data
        event is bound to the current table columns by field id — a
        full-row image (payload columns under their current names, `_seq` =
        seq, `_deleted` = op is delete) plus its event time in micros
        (icelite.EVENT_US) — and handed to merge_cdc: the events are
        shuffled by bucket, and one Arrow task per bucket resolves
        last-writer-wins against that bucket's stored file, writes its
        replacement and returns the bucket's tallies (event count, min/max
        seq, late count, newest event time). The same query observes the
        newest schema-op seq. The tallies decide, before the commit, the
        watermark `cdc.max-ts-us`, the epoch's summary and whether to
        commit at all; the merge snapshot records them per bucket, and they
        are the epoch's lineage (read_lineage). The late cut is a Python int
        in the tasks' plan, so the query's generated code is the same every
        epoch.

        Schema ops (~1% of events) never enter the merge. If the batch
        holds one above the `cdc.schema-seq` fence, the merge's files are
        discarded uncommitted; the ops are collected (one small query) and
        applied on the driver in seq order, each fenced by
        `cdc.schema-seq`; and the same merge runs again with the new
        binding.

        batch_df is consumed once per merge (twice more on the schema-op
        path) and never cached: caching would materialize every column
        before the merge, which reads each once.

        The merge snapshot's summary records the epoch's metrics: events-in
        (data events that reached the merge), late-dropped, the late cut
        it used (late-cut-us), and merge_cdc's own winners, tombstones,
        added-records, added-files-size, merge-ms and bucket-tallies.

        Lineage counts the events that reach the merge: the transform
        chain runs first, so events it filters out are not counted. Its
        partitions are the merge's buckets by construction. A transform
        chain must never rewrite key columns.

        drop_late=True enforces the lateness SLA in the apply stage itself:
        events older than (max event time of all prior epochs −
        late_delay_seconds) are dropped by the merge tasks, counted per
        bucket, and recorded in lineage's `dropped_late` column. The fence
        `cdc.max-ts-us` advances like Spark's global watermark (max event
        time of prior triggers), so this is the stream's watermark, with
        exact per-bucket drop accounting. An epoch whose every event is
        late commits a snapshot with its parent's file list, which records
        its drops and advances `cdc.last-epoch`; an epoch with no data
        event commits nothing. Batch backfills keep drop_late=False:
        unbounded lateness tolerance (late events are still counted)."""
        table = IceliteTable(self.table_location)
        meta = table.metadata()  # the ONE per-epoch metadata load
        props = meta["properties"]
        if epoch is not None and epoch <= int(props.get("cdc.last-epoch", "-1")):
            return {"applied": False, "snapshot_id": None, "reason": "epoch-fenced"}
        fmap = json.loads(props["cdc.field-map"])
        # the late cut relative to the stream watermark carried in
        # cdc.max-ts-us (max event time of all prior batches, advanced
        # atomically with each merge commit) minus the allowed delay — an
        # event is late relative to stream progress *before* its batch
        prev_max_us = props.get("cdc.max-ts-us")
        late_cut_us = None if prev_max_us is None else (
            int(prev_max_us) - late_delay_seconds * 1_000_000)
        is_schema = F.col("op").isin(*SCHEMA_OPS)

        def merge(meta: dict) -> dict:
            by_id = {f["id"]: f for f in table._fields(meta)}
            schema_fence = int(meta["properties"].get("cdc.schema-seq", "-1"))
            ops = Observation()
            data = batch_df.observe(
                ops, F.max(F.when(is_schema, F.col("seq"))).alias("seq")).where(~is_schema)
            if transform_chain is not None:
                # DataVec TransformProcess parity: vectorized transform chain
                # applied inside the merge-apply stage (SURVEY.md §0 graft)
                data = transform_chain(data)
            # deletes are tombstones, not removals
            changes = data.select(
                *[F.col(orig).cast(type_to_spark(by_id[fmap[orig]]["type"]))
                  .alias(by_id[fmap[orig]]["name"]) for orig in EVENT_FIELDS],
                F.col("seq").alias("_seq"),
                (F.col("op") == F.lit("delete")).alias("_deleted"),
                F.unix_micros(F.col("ts").cast("timestamp")).alias(EVENT_US),
            )

            def before_commit(buckets: list[dict]) -> dict | None:
                newest_op = ops.get["seq"]
                if newest_op is not None and newest_op > schema_fence:
                    raise _SchemaOpsPending(schema_fence, bool(buckets))
                if not buckets:  # no data event: nothing to merge or fence
                    return None
                maxes = [b["max_event_us"] for b in buckets if b["max_event_us"] is not None]
                if prev_max_us is not None:
                    maxes.append(int(prev_max_us))
                return {"summary": {"epoch": epoch,
                                    "events-in": sum(b["changes"] for b in buckets),
                                    "late-dropped": sum(b["dropped"] for b in buckets),
                                    "late-cut-us": late_cut_us},
                        "properties": {"cdc.max-ts-us": str(max(maxes))} if maxes else {}}

            return table.merge_cdc(spark, changes, epoch=epoch, late_cut_us=late_cut_us,
                                   drop_late=drop_late, before_commit=before_commit)

        try:
            result = merge(meta)
        except _SchemaOpsPending as pending:
            self._apply_schema_ops(table, batch_df.where(is_schema), pending.fence)
            result = merge(table.metadata()) if pending.has_data else {"buckets": []}
        if result.get("buckets") == []:  # empty trigger (no data events this epoch)
            return {"applied": False, "snapshot_id": None, "reason": "empty-batch"}
        return result

    @staticmethod
    def _apply_schema_ops(table: IceliteTable, ops_df: DataFrame, fence: int) -> None:
        """Schema-evolution ops above the fence, driver-serialized in seq
        order, each committed with its seq as the new `cdc.schema-seq`
        fence so a retry skips it."""
        ops = ops_df.where(F.col("seq") > fence).select("seq", "op", "schema_change").collect()
        for r in sorted(ops, key=lambda r: r["seq"]):
            sc = r["schema_change"]
            fence_update = {"cdc.schema-seq": str(r["seq"])}
            if r["op"] == "add_column":
                table.add_column(sc["col_name"], sc["new_type"], properties_update=fence_update)
            elif r["op"] == "rename_column":
                table.rename_column(sc["col_name"], sc["new_name"],
                                    properties_update=fence_update)
            else:
                table.widen_column(sc["col_name"], sc["new_type"],
                                   properties_update=fence_update)

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
        stage enforces: the all-time running totals every merge commit
        advances in the table's properties, read with no Spark job. A table
        written before the totals existed reads 0 for them."""
        props = IceliteTable(self.table_location).properties()
        return {name: int(props.get(prop, "0")) for name, prop in (
            ("rows_dropped_late", "cdc.rows-dropped-late"), ("rows_late", "cdc.rows-late"),
            ("rows_arrived", "cdc.rows-arrived"))}

    # -- verification ----------------------------------------------------------------

    def final_state_hashes(self, spark: SparkSession) -> DataFrame:
        """(key cols..., sha256(content)) of the live table — the replay-
        equality invariant. All JVM-side; safe at any scale. One metadata
        load pairs the field map with the files it reads."""
        t = IceliteTable(self.table_location)
        meta = t.metadata()
        snap = t._current(meta)
        df = t._read_entries(spark, meta, snap["files"] if snap else []).where(is_live())
        fmap = json.loads(meta["properties"]["cdc.field-map"])
        content_name = {f["id"]: f["name"] for f in t._fields(meta)}[fmap["content"]]
        return df.select(*t.key_cols(meta), F.sha2(F.col(content_name), 256).alias("content_sha"))
