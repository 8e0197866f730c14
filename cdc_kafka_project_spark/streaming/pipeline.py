"""Streaming CDC pipeline (SURVEY.md §2 #8-#10, #15-#19, #26).

The reference runs two short-burst processes — a producer polling the
change-log table (producer.py:17-44) and a consumer applying messages
row-by-row (consumer.py:40-102). Here both collapse into one streaming
program:

    readStream (file/kafka source)
      -> route = 'dlq' where the validation predicate holds or is NULL,
                 else 'valid'                          (cdc.routes_to_dlq)
      -> parquet file sink, partitionBy(route):  log/route=valid  curated change-log
                                                 log/route=dlq    DLQ
    replica = apply_changes(base ∪ curated files not folded into it)

One write job per micro-batch and no Python callback. The file sink
records each batch's files in ``log/_spark_metadata`` and skips a batch
id it has already recorded, so a micro-batch replayed after a crash
(sink written, checkpoint commit lost) appends nothing: the curated log
and the DLQ are exactly-once (the idempotent-sink contract of
Structured Streaming). Every read goes through that metadata log, so it
sees committed files only. Source offsets (producer.py:15,74's
hand-rolled high-water mark) live in the stream checkpoint, vs the
reference's at-most-once auto-commit (consumer.py:16).

``trigger(availableNow=True)`` reproduces the reference's bounded
"short burst" runs (consumer.py:21-37: max_messages + poll timeout)
while remaining restartable from the checkpoint.

The replica is merge-on-read. At 100 TB you never rewrite the replica
per micro-batch: the curated log only grows, and the latest state is
resolved at read over a compacted *base* (``cdc.compact_log``: one row
per key, delete tombstones kept) plus the curated files appended since
that base was written. A bounded run folds those files into a new base
once they hold as many rows as the base, so a read scans about twice
the base at most, never the whole history. ``snapshot()`` materializes
the view.
"""

from __future__ import annotations

import json
import os
import shutil
from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery
from pyspark.sql.types import StringType, StructField, StructType

from cdc_kafka_project_spark.operators import cdc

#: the sink's partition column and its two values
ROUTE, VALID, DLQ = "route", "valid", "dlq"


class CdcFileStreamPipeline:
    """File-source CDC stream -> one partitioned file sink (curated log
    + DLQ) -> merge-on-read replica.

    Layout under ``work_dir``: ``checkpoint/`` (stream offsets);
    ``log/``, the sink, whose ``route=valid`` and ``route=dlq``
    directories are ``curated_dir`` and ``dlq_dir``; and ``base/``, one
    directory per base version next to the ``CURRENT`` pointer (live
    version, its row count, the curated files folded into it). The
    pointer is replaced last, by an atomic rename, so a crash during a
    compaction leaves the previous base and every unfolded file
    readable, and the replica unchanged.

    Kafka wiring is identical apart from the source factory
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
        self._log_dir = os.path.join(work_dir, "log")
        self.curated_dir = os.path.join(self._log_dir, f"{ROUTE}={VALID}")
        self.dlq_dir = os.path.join(self._log_dir, f"{ROUTE}={DLQ}")
        self._base_dir = os.path.join(work_dir, "base")
        if os.path.isdir(os.path.join(work_dir, "curated")) and not os.path.isdir(
            self._log_dir
        ):
            raise ValueError(
                f"{work_dir} holds a CDC pipeline in the old layout "
                "(curated/ and dlq/ appended by foreachBatch), which cannot "
                "be resumed: this pipeline writes one file sink under log/. "
                "Replay the source into a fresh work dir."
            )
        #: rows the sink appended since the current base, from query
        #: progress. A new object counts from zero, so a restart can
        #: delay the next compaction but never change an answer.
        self._appended = 0

    # -- run ----------------------------------------------------------------
    def run_available_now(self) -> StreamingQuery:
        """Bounded run over everything currently in the source — the
        reference's short-burst consumer (consumer.py:105-107) — then a
        compaction if the unfolded files have caught up with the base."""
        stream = self.spark.readStream.schema(self.schema).parquet(self.source_dir)
        route = F.when(cdc.routes_to_dlq(self.invalid), F.lit(DLQ)).otherwise(
            F.lit(VALID)
        )
        q = (
            stream.withColumn(ROUTE, route)
            .writeStream.format("parquet")
            .partitionBy(ROUTE)
            .option("checkpointLocation", self.checkpoint_dir)
            .trigger(availableNow=True)
            .start(self._log_dir)
        )
        q.awaitTermination()
        self._appended += sum(p["numInputRows"] for p in q.recentProgress)
        base = self._pointer()
        # Fold once the delta holds as many rows as the base. A read then
        # scans at most about twice the base, and a compaction reads
        # base + delta <= 2 x delta rows, so all compactions together
        # read at most twice the rows ever appended, however long the
        # log grows.
        if self._appended and self._appended >= base["rows"]:
            self._compact(base)
        return q

    # -- merge-on-read --------------------------------------------------------
    def _log(self) -> DataFrame:
        """Committed sink output (schema + route), listed from the sink's
        ``_spark_metadata`` log: uncommitted files are never read."""
        log_schema = StructType([*self.schema.fields, StructField(ROUTE, StringType())])
        if not os.path.isdir(os.path.join(self._log_dir, "_spark_metadata")):
            return self.spark.createDataFrame([], log_schema)
        return self.spark.read.schema(log_schema).parquet(self._log_dir)

    def _routed(self, route: str) -> DataFrame:
        return self._log().filter(F.col(ROUTE) == route).drop(ROUTE)

    def _pointer(self) -> dict:
        """The live base: version (0 = none yet), row count, folded files."""
        try:
            with open(os.path.join(self._base_dir, "CURRENT")) as f:
                return json.load(f)
        except FileNotFoundError:
            return {"version": 0, "rows": 0, "folded": []}

    def _merge_input(self, base: dict) -> tuple[DataFrame, list[str]]:
        """(base ∪ delta as one scan, delta): the delta is every
        committed curated file the base has not folded, taken from the
        sink's committed-file list."""
        folded = set(base["folded"])
        delta = [
            f
            for f in self._log().inputFiles()
            if f"/{ROUTE}={VALID}/" in f and f not in folded
        ]
        paths = [self._version_dir(base["version"])] if base["version"] else []
        paths += delta
        if not paths:
            return self.spark.createDataFrame([], self.schema), delta
        return self.spark.read.schema(self.schema).parquet(*paths), delta

    def _version_dir(self, version: int) -> str:
        return os.path.join(self._base_dir, str(version))

    def _compact(self, base: dict) -> None:
        """Fold the delta into base version n+1, publish it, then delete
        the superseded versions."""
        merged, delta = self._merge_input(base)
        self._appended = 0
        if not delta:  # only DLQ rows arrived
            return
        version = base["version"] + 1
        rows = Observation("base_rows")
        (
            cdc.compact_log(
                merged,
                self.key_cols,
                self.order_cols,
                self.action_col,
                self.delete_action,
            )
            .observe(rows, F.count(F.lit(1)).alias("n"))
            .write.mode("overwrite")
            .parquet(self._version_dir(version))
        )
        folded = base["folded"] + delta
        self._publish({"version": version, "rows": rows.get["n"], "folded": folded})
        for name in os.listdir(self._base_dir):
            if name.isdigit() and name != str(version):
                shutil.rmtree(os.path.join(self._base_dir, name))

    def _publish(self, pointer: dict) -> None:
        """Swap the ``CURRENT`` pointer: write aside, flush, rename over."""
        tmp = os.path.join(self._base_dir, "CURRENT.tmp")
        with open(tmp, "w") as f:
            json.dump(pointer, f)
            f.flush()
            os.fsync(f.fileno())
        os.replace(tmp, os.path.join(self._base_dir, "CURRENT"))

    # -- views --------------------------------------------------------------
    def curated_log(self) -> DataFrame:
        return self._routed(VALID)

    def dlq(self) -> DataFrame:
        return self._routed(DLQ)

    def snapshot(self) -> DataFrame:
        """The replica: latest-state view over the base plus the curated
        files appended since it was written."""
        merged, _ = self._merge_input(self._pointer())
        return cdc.apply_changes(
            merged,
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
        promises. It reads the full curated log, not the base: the base
        keeps only each key's latest version."""
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
