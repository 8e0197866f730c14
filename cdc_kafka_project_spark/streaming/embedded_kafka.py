"""Embedded broker-substitute transport + topic admin analog.

No Kafka broker (or spark-sql-kafka jar) ships in this environment, so
``format("kafka")`` cannot start. This module provides a file-backed
transport with Kafka's *observable* semantics, so the keyed-sink /
bounded-source round trip (SURVEY.md §2 #8, #10) and the topic-admin
surface (#27, reference ``admin.py:12-48``) are exercised end-to-end
through the real envelope path (``kafka_io.encode_envelope`` /
``decode_envelope``) rather than only up to plan construction:

* **topics** — directories with metadata (partition count), created /
  listed / deleted via the admin calls (``admin.py:12-48``'s
  create_topic / topic_exists / delete_topic / list_topics);
* **keyed publish** — records route to ``pmod(xxhash64(key), n)``
  partitions; each partition is an append-only log with contiguous
  monotone offsets, so per-key ordering holds exactly as Kafka's
  partition-by-key guarantees (``producer.py:67-71``);
* **bounded consume** — ``poll`` reads at most ``max_messages`` records
  past a consumer group's committed offsets, then ``commit`` advances
  them (``consumer.py:21-37``'s short-burst run_once + auto-commit,
  made explicit);
* **streaming source/sink** — ``raw_stream`` exposes a topic as a
  Structured Streaming source (file source + checkpoint = offset
  tracking) and ``write_stream`` appends micro-batches through the
  same publish path, so ``trigger(availableNow=True)`` runs bound the
  burst exactly like ``maxOffsetsPerTrigger`` would against a broker.

Record schema mirrors Kafka's: (key binary, value binary, partition
int, offset long, timestamp). Offset assignment assumes a single
writer per topic (the reference runs exactly one producer); the meta
file is the write-side control plane, a few bytes of JSON.

This is a test/dev transport: the data plane is real Spark (scales),
the control plane (offset metadata) is driver-side JSON (does not need
to). Against a real broker the same pipelines run unchanged via
``kafka_io.read_cdc_stream`` / ``write_keyed_stream`` with
``transport=None``.
"""

from __future__ import annotations

import json
import os
import shutil

from cdc_kafka_project_spark import cache
from pyspark.sql import DataFrame, Observation, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

#: Kafka source-compatible record shape (key/value binary, like the
#: real connector's output columns).
RECORD_SCHEMA = T.StructType(
    [
        T.StructField("key", T.BinaryType(), True),
        T.StructField("value", T.BinaryType(), True),
        T.StructField("partition", T.IntegerType(), False),
        T.StructField("offset", T.LongType(), False),
        T.StructField("timestamp", T.TimestampType(), True),
    ]
)


class EmbeddedLog:
    """File-backed topic transport (see module docstring)."""

    def __init__(self, root: str) -> None:
        self.root = root
        os.makedirs(root, exist_ok=True)
        #: last pinned poll batch per (group, topic) as
        #: (frame, {partition -> max offset}) — the offsets captured
        #: EAGERLY at poll time so commit never re-reads the frame.
        #: Freed by the same consumer's next poll or by commit; owned
        #: by the consumer, NOT the query-scoped cache registry, so a
        #: registered-query invocation between poll and commit cannot
        #: sweep the batch's blocks (kafka's poll/process/commit
        #: contract allows arbitrary work in the processing gap).
        self._last_poll: dict[tuple[str, str], tuple[object, dict[int, int]]] = {}

    # -- paths --------------------------------------------------------------
    def _topic_dir(self, topic: str) -> str:
        return os.path.join(self.root, "topics", topic)

    def _data_dir(self, topic: str) -> str:
        return os.path.join(self._topic_dir(topic), "data")

    def _meta_path(self, topic: str) -> str:
        return os.path.join(self._topic_dir(topic), "meta.json")

    def _group_path(self, group: str) -> str:
        return os.path.join(self.root, "groups", f"{group}.json")

    def _read_meta(self, topic: str) -> dict:
        with open(self._meta_path(topic)) as f:
            return json.load(f)

    def _write_meta(self, topic: str, meta: dict) -> None:
        with open(self._meta_path(topic), "w") as f:
            json.dump(meta, f)

    # -- admin surface (reference admin.py:12-48) ---------------------------
    def create_topic(self, topic: str, num_partitions: int = 3) -> bool:
        """admin.py:12-24's create_topic. Returns False if it exists
        already (the reference logs and moves on)."""
        if self.topic_exists(topic):
            return False
        os.makedirs(self._data_dir(topic), exist_ok=True)
        self._write_meta(
            topic,
            {"num_partitions": num_partitions,
             "next_offsets": [0] * num_partitions},
        )
        return True

    def topic_exists(self, topic: str) -> bool:
        """admin.py:27-29."""
        return os.path.exists(self._meta_path(topic))

    def delete_topic(self, topic: str) -> bool:
        """admin.py:32-38."""
        if not self.topic_exists(topic):
            return False
        shutil.rmtree(self._topic_dir(topic))
        return True

    def list_topics(self) -> list[str]:
        """admin.py:41-44."""
        base = os.path.join(self.root, "topics")
        if not os.path.isdir(base):
            return []
        return sorted(
            t for t in os.listdir(base) if self.topic_exists(t)
        )

    def num_partitions(self, topic: str) -> int:
        return int(self._read_meta(topic)["num_partitions"])

    def get_consumer_group_size(self, group: str) -> int:
        """admin.py:47-48's member count. Members register on their
        first poll; a short-burst consumer counts while its committed
        state exists."""
        path = self._group_path(group)
        if not os.path.exists(path):
            return 0
        with open(path) as f:
            return len(json.load(f).get("members", []))

    # -- produce ------------------------------------------------------------
    def publish(
        self, records: DataFrame, topic: str, order_col: str | None = None
    ) -> int:
        """Keyed append: route each (key string/binary, value string)
        row to pmod(xxhash64(key), n_partitions), assign contiguous
        per-partition offsets continuing from the topic's high-water
        mark, append as parquet. ``order_col`` fixes intra-partition
        order (the reference producer sends in commit order —
        producer.py:34; an explicit column replaces arrival order).

        Returns the number of records appended. Single writer per
        topic assumed (as in the reference).
        """
        meta = self._read_meta(topic)
        n = meta["num_partitions"]
        base = meta["next_offsets"]
        order = F.col(order_col) if order_col else F.col("key")
        w = Window.partitionBy("partition").orderBy(order)
        base_expr = F.element_at(
            F.array(*[F.lit(int(b)) for b in base]), F.col("partition") + 1
        )
        out = (
            records.withColumn(
                "partition",
                F.pmod(F.xxhash64(F.col("key").cast("string")), F.lit(n)).cast(
                    "int"
                ),
            )
            .withColumn("offset", base_expr + F.row_number().over(w) - 1)
            .select(
                F.col("key").cast("binary").alias("key"),
                F.col("value").cast("binary").alias("value"),
                "partition",
                "offset",
                F.current_timestamp().alias("timestamp"),
            )
        )
        # per-partition counts come from the write itself, so offsets
        # and counts are one execution of the routing/offset plan
        obs = Observation()
        out.observe(
            obs,
            *[F.count_if(F.col("partition") == p).alias(str(p)) for p in range(n)],
        ).write.mode("append").parquet(self._data_dir(topic))
        counts = obs.get
        for p in range(n):
            meta["next_offsets"][p] += int(counts[str(p)])
        self._write_meta(topic, meta)
        return int(sum(counts.values()))

    # -- consume ------------------------------------------------------------
    def raw_batch(self, spark: SparkSession, topic: str) -> DataFrame:
        """The whole topic as a batch DataFrame (offset order is the
        log order per partition)."""
        d = self._data_dir(topic)
        if not any(f.endswith(".parquet") for f in os.listdir(d)):
            return spark.createDataFrame([], RECORD_SCHEMA)
        return spark.read.schema(RECORD_SCHEMA).parquet(d)

    def raw_stream(
        self,
        spark: SparkSession,
        topic: str,
        max_files_per_trigger: int | None = None,
    ) -> DataFrame:
        """The topic as a Structured Streaming source. File-source
        checkpointing tracks consumed files — the offset/commit story
        ``consumer.py:16``'s auto-commit approximated, made exactly-once
        by the checkpoint. ``max_files_per_trigger`` bounds each
        micro-batch (maxOffsetsPerTrigger's file-source analog) so an
        availableNow replay of a long log runs as many bounded batches
        instead of one giant one — the knob that keeps per-batch state
        updates and sink commits executor-memory-sized at scale."""
        reader = spark.readStream.schema(RECORD_SCHEMA)
        if max_files_per_trigger is not None:
            reader = reader.option(
                "maxFilesPerTrigger", str(max_files_per_trigger)
            )
        return reader.parquet(self._data_dir(topic))

    def write_stream(
        self,
        records: DataFrame,
        topic: str,
        checkpoint_dir: str,
        order_col: str | None = None,
    ):
        """Streaming sink: each micro-batch appends through ``publish``
        (offsets continue across batches). Returns a DataStreamWriter —
        caller picks the trigger, same contract as the Kafka writer."""

        def _sink(batch_df: DataFrame, epoch_id: int) -> None:
            self.publish(batch_df, topic, order_col=order_col)

        return records.writeStream.foreachBatch(_sink).option(
            "checkpointLocation", checkpoint_dir
        )

    def poll(
        self,
        spark: SparkSession,
        topic: str,
        group: str,
        max_messages: int = 100,
        member: str = "consumer-1",
    ) -> DataFrame:
        """Bounded poll past the group's committed offsets
        (consumer.py:21-37's run_once): at most ``max_messages``
        records in (partition, offset) order. Registers the member in
        the group (admin.py:47-48's group-size introspection sees it).
        Call ``commit`` after processing."""
        committed = self._committed(group, topic)
        n = self.num_partitions(topic)
        commit_expr = F.element_at(
            F.array(*[F.lit(int(committed.get(str(p), 0))) for p in range(n)]),
            F.col("partition") + 1,
        )
        batch = (
            self.raw_batch(spark, topic)
            .filter(F.col("offset") >= commit_expr)
            .orderBy("partition", "offset")
            .limit(max_messages)
        )
        # Pin the delivered set NOW: the poll window must not shift if
        # a producer appends between poll and commit (re-scanning the
        # log would advance offsets past records the consumer never
        # received). CONSUMER-OWNED, not query-scoped: kafka's
        # poll/process/commit contract allows arbitrary work in the
        # processing gap — including registered-query invocations whose
        # begin_query sweeps the scoped registry — so the batch must
        # survive that sweep. Freed by this consumer's next poll of the
        # same (group, topic) or by commit(), whichever comes first; an
        # unbounded poll/commit loop therefore holds at most one
        # batch's blocks per consumer.
        batch = cache.owned_localcheckpoint(batch)
        # Capture the per-partition high offsets EAGERLY, while the
        # checkpoint is certainly alive — commit() then never needs to
        # re-read the frame. Bounded: <= max_messages rows.
        hi = _high_offsets(batch)
        prev = self._last_poll.pop((group, topic), None)
        if prev is not None:
            cache.free_owned_checkpoint(prev[0])
        self._last_poll[(group, topic)] = (batch, hi)
        self._register(group, member)
        return batch

    def commit(self, group: str, topic: str, batch: DataFrame) -> None:
        """Advance the group's offsets past everything in ``batch``.

        For the pinned batch of the consumer's own last poll the high
        offsets were captured eagerly at poll time, so no Spark job
        runs here and the call is safe even after the batch's blocks
        were freed; committing any OTHER frame aggregates it live.
        Releases the pinned batch: after commit it is dead weight
        (kafka semantics — a committed batch is never re-delivered)."""
        entry = self._last_poll.get((group, topic))
        if entry is not None and entry[0] is batch:
            hi = entry[1]
        else:
            hi = _high_offsets(batch)
        state = self._group_state(group)
        offsets = state.setdefault("topics", {}).setdefault(topic, {})
        for part, h in hi.items():
            offsets[str(part)] = max(int(offsets.get(str(part), 0)), h + 1)
        self._write_group(group, state)
        if entry is not None and entry[0] is batch:
            del self._last_poll[(group, topic)]
            cache.free_owned_checkpoint(batch)

    def close(self) -> None:
        """Consumer teardown: free every still-pinned poll batch (the
        explicit release point for consumers that polled but never
        committed — owned checkpoints are invisible to the scoped
        cache registry, so without this they pin blocks for the
        session). Committed offsets are durable on disk and survive;
        un-committed delivered frames become invalid."""
        while self._last_poll:
            _, (frame, _) = self._last_poll.popitem()
            cache.free_owned_checkpoint(frame)

    # -- group state --------------------------------------------------------
    def _group_state(self, group: str) -> dict:
        path = self._group_path(group)
        if not os.path.exists(path):
            return {"members": [], "topics": {}}
        with open(path) as f:
            return json.load(f)

    def _write_group(self, group: str, state: dict) -> None:
        os.makedirs(os.path.dirname(self._group_path(group)), exist_ok=True)
        with open(self._group_path(group), "w") as f:
            json.dump(state, f)

    def _register(self, group: str, member: str) -> None:
        state = self._group_state(group)
        if member not in state["members"]:
            state["members"].append(member)
            self._write_group(group, state)

    def _committed(self, group: str, topic: str) -> dict:
        return self._group_state(group).get("topics", {}).get(topic, {})


def _high_offsets(batch: DataFrame) -> dict[int, int]:
    """partition -> highest offset in ``batch`` (one aggregate job)."""
    return {
        int(r.partition): int(r.hi)
        for r in batch.groupBy("partition").agg(F.max("offset").alias("hi")).collect()
    }
