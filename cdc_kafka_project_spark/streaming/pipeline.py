"""Streaming CDC pipeline (SURVEY.md §2 #8-#10, #15-#19, #26).

The reference runs two short-burst processes — a producer polling the
change-log table (producer.py:17-44) and a consumer applying messages
row-by-row (consumer.py:40-102). Here both collapse into one streaming
program:

    readStream (file/kafka source)
      -> from_json / typed columns
      -> foreachBatch:
           validate_split  -> DLQ sink (append)
                           -> curated change-log sink (append)
      -> replica = apply_changes(curated log)   # "the replica is a view"

Watermark/offset state (producer.py:15,74's hand-rolled high-water
mark) is the stream checkpoint — exactly-once effective semantics vs
the reference's at-most-once auto-commit (consumer.py:16).

``trigger(availableNow=True)`` reproduces the reference's bounded
"short burst" runs (consumer.py:21-37: max_messages + poll timeout)
while remaining restartable from the checkpoint.

The replica is maintained as an append-only *curated* change-log plus
a latest-state view — at 100 TB you never rewrite the replica per
micro-batch; you append deltas and resolve last-writer-wins at read
(or compact periodically). ``snapshot()`` materializes the view.
"""

from __future__ import annotations

import os
from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery
from pyspark.sql.types import StructType

from cdc_kafka_project_spark.operators import cdc


class CdcFileStreamPipeline:
    """File-source CDC stream -> DLQ + curated log -> replica view.

    Kafka wiring is identical apart from the source/sink factories
    (see kafka_io.py); tests drive this with parquet drops, which is
    also how backfills run in production.
    """

    def __init__(
        self,
        spark: SparkSession,
        source_dir: str,
        work_dir: str,
        schema: StructType,
        invalid: Column,
        key_cols: Sequence[str] = ("emp_id",),
        order_cols: Sequence[str] = ("last_updated_at", "seq"),
        action_col: str = "action",
        delete_action: str = cdc.DELETE,
    ) -> None:
        self.spark = spark
        self.source_dir = source_dir
        self.schema = schema
        self.invalid = invalid
        self.key_cols = list(key_cols)
        self.order_cols = list(order_cols)
        self.action_col = action_col
        self.delete_action = delete_action
        self.checkpoint_dir = os.path.join(work_dir, "checkpoint")
        self.curated_dir = os.path.join(work_dir, "curated")
        self.dlq_dir = os.path.join(work_dir, "dlq")

    # -- micro-batch body ---------------------------------------------------
    def _process_batch(self, batch_df: DataFrame, epoch_id: int) -> None:
        valid, dlq = cdc.validate_split(batch_df, self.invalid)
        # Two sinks off one micro-batch (consumer.py:50-58's DLQ route).
        # foreachBatch may re-run a batch on failure, and both parquet
        # appends are then at-least-once. For the curated log that is
        # harmless: dedup on (key, order) at read keeps the replica view
        # idempotent. The DLQ has no such dedup, so a retried batch
        # leaves its DLQ rows in it twice.
        dlq.write.mode("append").parquet(self.dlq_dir)
        valid.write.mode("append").parquet(self.curated_dir)

    # -- run ----------------------------------------------------------------
    def run_available_now(self) -> StreamingQuery:
        """Bounded run over everything currently in the source — the
        reference's short-burst consumer (consumer.py:105-107)."""
        stream = self.spark.readStream.schema(self.schema).parquet(self.source_dir)
        q = (
            stream.writeStream.foreachBatch(self._process_batch)
            .option("checkpointLocation", self.checkpoint_dir)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        return q

    # -- views --------------------------------------------------------------
    def curated_log(self) -> DataFrame:
        return self.spark.read.schema(self.schema).parquet(self.curated_dir)

    def dlq(self) -> DataFrame:
        if not os.path.isdir(self.dlq_dir):
            return self.spark.createDataFrame([], self.schema)
        return self.spark.read.schema(self.schema).parquet(self.dlq_dir)

    def snapshot(self) -> DataFrame:
        """The replica: latest-state view over the curated log."""
        return cdc.apply_changes(
            self.curated_log(),
            self.key_cols,
            self.order_cols,
            self.action_col,
            self.delete_action,
        )

    def scd2_view(self, ts_col: str = "last_updated_at") -> DataFrame:
        """SCD Type-2 history as a VIEW over the same append-only
        curated log the replica reads — no second materialization, no
        per-batch history table rewrite. Because the log is append-only
        and ``scd2_history`` is deterministic over it, the view after N
        streaming bursts is identical to the batch operator over the
        full log (pinned in tests/test_streaming.py), which is the
        unified-batch/stream guarantee the engine's design stance
        ("the change-log is a DataFrame; the replica is a view")
        promises."""
        return cdc.scd2_history(
            self.curated_log(), self.key_cols, self.order_cols, ts_col
        )


def streaming_windowed_counts(
    spark: SparkSession,
    source_dir: str,
    schema: StructType,
    checkpoint_dir: str,
    ts_col: str = "last_updated_at",
    window: str = "1 hour",
    watermark: str = "2 hours",
    query_name: str = "windowed_counts",
) -> StreamingQuery:
    """Event-time tumbling-window counts with a real watermark — the
    late-data policy the reference lacks (SURVEY §2: late rows are
    silently dropped by its monotone scan; here they count until the
    watermark closes the window, then state is evicted).

    Update (not append) output mode: append only emits a window once
    the watermark passes its end, so a bounded availableNow run would
    emit nothing for in-progress windows; update surfaces the current
    count per micro-batch while the watermark still bounds state."""
    stream = spark.readStream.schema(schema).parquet(source_dir)
    agg = (
        stream.withWatermark(ts_col, watermark)
        .groupBy(F.window(F.col(ts_col), window).alias("win"))
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("win.start").alias("win_start"), "n")
    )
    return (
        agg.writeStream.outputMode("update")
        .format("memory")
        .queryName(query_name)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
