"""Embedded broker-substitute transport + the end-to-end pipeline.

Closes SURVEY.md §2 #8/#10/#27 beyond plan construction: the keyed
sink and bounded source actually run (golden 7-event workload through
the real envelope path), and the topic-admin surface is exercised.
"""

import pytest

from cdc_kafka_project_spark.schemas import KAFKA_ENVELOPE_SCHEMA
from cdc_kafka_project_spark.streaming import kafka_io
from cdc_kafka_project_spark.streaming.embedded_kafka import EmbeddedLog
from cdc_kafka_project_spark.streaming.full_pipeline import (
    CDC_TOPIC,
    DLQ_TOPIC,
    golden_workload,
    run_consumer,
    run_full_pipeline,
)


@pytest.fixture()
def log(tmp_path):
    broker = EmbeddedLog(str(tmp_path / "broker"))
    yield broker
    broker.close()  # free pinned batches of polls never committed


def test_topic_admin_surface(log):
    """create/exists/delete/list (reference admin.py:12-48)."""
    assert log.list_topics() == []
    assert log.create_topic("t1", num_partitions=3) is True
    assert log.create_topic("t1") is False  # already exists
    assert log.create_topic("t2", num_partitions=1) is True
    assert log.topic_exists("t1") and not log.topic_exists("nope")
    assert log.list_topics() == ["t1", "t2"]
    assert log.num_partitions("t1") == 3
    assert log.delete_topic("t1") is True
    assert log.delete_topic("t1") is False
    assert log.list_topics() == ["t2"]


def test_consumer_group_size_after_membership(spark, log):
    """admin.py:47-48's group-size introspection: 0 before any poll,
    counts registered members after."""
    log.create_topic("t", num_partitions=1)
    assert log.get_consumer_group_size("cdc-group") == 0
    log.publish(
        spark.createDataFrame([("1", "v")], "key string, value string"), "t"
    )
    log.poll(spark, "t", "cdc-group", member="c-1")
    log.poll(spark, "t", "cdc-group", member="c-2")
    assert log.get_consumer_group_size("cdc-group") == 2


def test_publish_routes_by_key_with_contiguous_offsets(spark, log):
    """Same key -> same partition (per-key ordering domain); offsets
    are contiguous and continue across publishes (the producer's
    append contract), an empty publish included."""
    log.create_topic("t", num_partitions=3)
    df1 = spark.createDataFrame(
        [("a", "v1"), ("a", "v2"), ("b", "w1")], "key string, value string"
    )
    assert log.publish(df1, "t", order_col="value") == 3
    empty = spark.createDataFrame([], "key string, value string")
    assert log.publish(empty, "t", order_col="value") == 0
    df2 = spark.createDataFrame([("a", "v3")], "key string, value string")
    assert log.publish(df2, "t", order_col="value") == 1

    rows = log.raw_batch(spark, "t").collect()
    by_key = {}
    for r in rows:
        by_key.setdefault(bytes(r.key).decode(), []).append(r)
    a_parts = {r.partition for r in by_key["a"]}
    assert len(a_parts) == 1  # key routes one partition
    a_offsets = sorted(int(r.offset) for r in by_key["a"])
    vals = [
        bytes(r.value).decode()
        for r in sorted(by_key["a"], key=lambda r: r.offset)
    ]
    assert vals == ["v1", "v2", "v3"]  # send order preserved
    # contiguous per partition (b may share a's partition or not)
    for recs in by_key.values():
        offs = sorted(int(r.offset) for r in recs)
        if len(recs) == len(rows):  # all on one partition
            assert offs == list(range(len(rows)))
    assert a_offsets == sorted(a_offsets)


def test_bounded_poll_and_commit(spark, log):
    """consumer.py:21-37's short-burst semantics: max_messages bounds
    the batch; commit advances; a second poll sees only the rest."""
    log.create_topic("t", num_partitions=2)
    df = spark.createDataFrame(
        [(str(i), f"v{i}") for i in range(10)], "key string, value string"
    )
    log.publish(df, "t", order_col="value")
    b1 = log.poll(spark, "t", "g", max_messages=6)
    got1 = b1.collect()
    assert len(got1) == 6
    log.commit("g", "t", b1)
    b2 = log.poll(spark, "t", "g", max_messages=100)
    got2 = b2.collect()
    assert len(got2) == 4
    seen = {bytes(r.value).decode() for r in got1} | {
        bytes(r.value).decode() for r in got2
    }
    assert seen == {f"v{i}" for i in range(10)}  # no loss, no dup


def test_keyed_sink_bounded_source_roundtrip(spark, log, tmp_path):
    """write_keyed_stream -> read_cdc_stream over the transport: the
    golden workload's change rows survive the full envelope round trip
    (keyed produce, partitioned log, streaming decode)."""
    from cdc_kafka_project_spark.schemas import EMP_CDC_SCHEMA
    from cdc_kafka_project_spark.streaming.full_pipeline import to_wire

    log.create_topic(CDC_TOPIC, num_partitions=3)
    src = tmp_path / "src"
    src.mkdir()
    spark.createDataFrame(golden_workload(), EMP_CDC_SCHEMA).coalesce(
        1
    ).write.mode("append").parquet(str(src))

    stream = spark.readStream.schema(EMP_CDC_SCHEMA).parquet(str(src))
    (
        kafka_io.write_keyed_stream(
            to_wire(stream),
            "embedded",
            CDC_TOPIC,
            key_col="emp_id",
            checkpoint_dir=str(tmp_path / "cp_p"),
            transport=log,
            order_col="last_updated_at",
        )
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )

    decoded = kafka_io.read_cdc_stream(
        spark, "embedded", CDC_TOPIC, KAFKA_ENVELOPE_SCHEMA, transport=log
    )
    out = str(tmp_path / "decoded")
    (
        decoded.select("key", "payload.*", "partition", "offset")
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", str(tmp_path / "cp_c"))
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )
    got = spark.read.parquet(out).collect()
    assert len(got) == 7
    assert {r.emp_FN for r in got} >= {"Alice", "Emma"}
    # per-key order: Alice's insert < update < delete by offset
    alice = sorted(
        (r for r in got if r.key == "1"), key=lambda r: r.offset
    )
    assert [r.action for r in alice] == ["insert", "update", "delete"]
    assert len({r.partition for r in alice}) == 1


def test_full_pipeline_golden_workload(spark, tmp_path):
    """The DAG end to end (project2_dag.py:159): final replica is
    exactly Emma; the 3 invalid inserts land on the DLQ topic."""
    summary = run_full_pipeline(spark, str(tmp_path / "wk"))
    assert sorted(summary["topics"]) == sorted([CDC_TOPIC, DLQ_TOPIC])
    assert summary["produced"] == 7
    assert summary["replica"] == [(2, "Emma", 72000)]
    assert summary["dlq_keys"] == [-100, 3, 4]


def test_full_pipeline_corrupt_payload_routes_to_dlq(spark, tmp_path, log):
    """A poison message (malformed JSON) must land on the DLQ with its
    original bytes — never crash, never vanish (SURVEY §2 #28's
    deliberate divergence from the reference's silent swallow) — while
    the valid message beside it reaches the curated log. Drives the
    pipeline's own consumer."""
    log.create_topic(CDC_TOPIC, num_partitions=1)
    log.create_topic(DLQ_TOPIC, num_partitions=1)
    ok = '{"emp_id": 9, "emp_FN": "Ok", "emp_dob": "2010-01-01", "emp_salary": 5000, "action": "insert", "last_updated_at": "2024-01-01 00:00:00"}'
    log.publish(
        spark.createDataFrame(
            [("9", ok), ("13", "{not json")], "key string, value string"
        ),
        CDC_TOPIC,
        order_col="key",
    )
    run_consumer(spark, log, str(tmp_path))
    dlq = log.raw_batch(spark, DLQ_TOPIC).collect()
    assert len(dlq) == 1
    assert bytes(dlq[0].key).decode() == "13"
    assert bytes(dlq[0].value).decode() == "{not json"  # original payload
    curated = spark.read.parquet(str(tmp_path / "curated")).collect()
    assert [(r.emp_id, r.first_name, r.salary) for r in curated] == [
        (9, "Ok", 5000)
    ]


def test_commit_pinned_to_delivered_batch_despite_interleaved_publish(
    spark, log
):
    """A publish between poll and commit must not shift the committed
    window: commit advances only past records the consumer actually
    received (the old lazy re-scan re-evaluated orderBy+limit over the
    grown log and skipped undelivered records)."""
    log.create_topic("t", num_partitions=1)
    df = spark.createDataFrame(
        [("k", f"v{i}") for i in range(4)], "key string, value string"
    )
    log.publish(df, "t", order_col="value")
    batch = log.poll(spark, "t", "g", max_messages=4)
    delivered = {bytes(r.value).decode() for r in batch.collect()}
    assert delivered == {"v0", "v1", "v2", "v3"}
    # producer appends AFTER the poll but BEFORE the commit
    more = spark.createDataFrame(
        [("k", f"v{i}") for i in range(4, 8)], "key string, value string"
    )
    log.publish(more, "t", order_col="value")
    log.commit("g", "t", batch)
    rest = {
        bytes(r.value).decode()
        for r in log.poll(spark, "t", "g", max_messages=100).collect()
    }
    assert rest == {"v4", "v5", "v6", "v7"}  # nothing lost, nothing re-read


def test_poll_loop_bounds_pinned_batches(spark, tmp_path):
    """A long-lived poll/commit loop must not accumulate pinned batch
    checkpoints: each poll supersedes the same consumer's previous
    batch (processed + committed by contract), so N cycles hold at
    most one batch's blocks per (group, topic)."""
    from cdc_kafka_project_spark import cache
    from cdc_kafka_project_spark.streaming.embedded_kafka import EmbeddedLog

    cache.release_caches()
    log = EmbeddedLog(str(tmp_path / "log"))
    log.create_topic("t", num_partitions=2)
    rows = spark.range(60).selectExpr(
        "CAST(id AS STRING) AS key", "CAST(id * 2 AS STRING) AS value"
    )
    log.publish(rows, "t")
    baseline = int(spark.sparkContext._jsc.getPersistentRDDs().size())
    for _ in range(6):
        batch = log.poll(spark, "t", group="g", max_messages=10)
        batch.count()
        log.commit("g", "t", batch)
        n = int(spark.sparkContext._jsc.getPersistentRDDs().size())
        assert n <= baseline + 1, f"poll loop accumulated blocks: {n}"
    log.close()
    cache.release_caches()
    assert int(spark.sparkContext._jsc.getPersistentRDDs().size()) == baseline


def test_poll_batch_survives_registry_query_before_commit(spark, log):
    """Kafka's poll/process/commit contract allows ARBITRARY work in
    the processing gap — including registered-query invocations whose
    begin_query sweeps the scoped cache registry. The pinned poll
    batch is consumer-owned, so that sweep must not free its blocks:
    collect() and commit() after an interleaved registry query must
    still see the delivered records (previously raised
    CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND)."""
    from cdc_kafka_project_spark import cache

    cache.release_caches()
    log.create_topic("t", num_partitions=1)
    df = spark.createDataFrame(
        [("k", f"v{i}") for i in range(5)], "key string, value string"
    )
    log.publish(df, "t", order_col="value")
    batch = log.poll(spark, "t", "g", max_messages=3)
    # an unrelated registered query runs mid-processing: its
    # begin_query -> release_caches sweeps the SCOPED registry
    cache.begin_query("interleaved_query", "/root/testdata/sf0.001")
    delivered = {bytes(r.value).decode() for r in batch.collect()}
    assert delivered == {"v0", "v1", "v2"}
    log.commit("g", "t", batch)  # offsets from poll-time capture
    rest = {
        bytes(r.value).decode()
        for r in log.poll(spark, "t", "g", max_messages=100).collect()
    }
    assert rest == {"v3", "v4"}
    cache.release_caches()


def test_commit_frees_pinned_batch_and_drops_entry(spark, log):
    """commit() is the contract point where the pinned batch becomes
    dead weight (a committed batch is never re-delivered): it must
    free the batch's blocks AND drop the (group, topic) entry, so a
    session serving many distinct groups/topics does not accumulate
    dead driver-side plan objects."""
    from cdc_kafka_project_spark import cache

    cache.release_caches()
    log.create_topic("t", num_partitions=1)
    rows = spark.range(20).selectExpr(
        "CAST(id AS STRING) AS key", "CAST(id AS STRING) AS value"
    )
    log.publish(rows, "t")
    for group in ("g1", "g2", "g3"):
        batch = log.poll(spark, "t", group, max_messages=5)
        batch.count()
        log.commit(group, "t", batch)
        assert (group, "t") not in log._last_poll
    assert log._last_poll == {}
    # owned checkpoints all freed on commit: nothing pinned
    assert int(spark.sparkContext._jsc.getPersistentRDDs().size()) == 0
