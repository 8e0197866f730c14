"""Kafka source/sink wrappers (SURVEY.md §2 #8, #10, #27).

This container has no Kafka broker or spark-sql-kafka jar, so the
broker-backed branches are exercised only up to plan construction in
tests. With an ``embedded_kafka.EmbeddedLog`` as ``transport``,
``read_cdc_stream`` and ``write_keyed_stream`` run end to end
(tests/test_embedded_kafka.py); the envelope encode/decode they wrap is
the same on both branches.

Wire format per the reference (producer.py:51-71): JSON value, string
key = primary key. Partition-by-key gives per-key ordering — the only
ordering the apply step needs (cdc.latest_per_key handles the rest).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StringType, StructField, StructType


def decode_envelope(raw: DataFrame, value_schema: StructType) -> DataFrame:
    """Kafka record -> typed columns (consumer.py:42-43's json.loads +
    Employee(**kwargs), minus the crash-on-corrupt).

    Corrupt payloads decode to a NULL ``payload``; callers route
    ``payload IS NULL`` to the DLQ instead of swallowing (the
    reference's broad except at consumer.py:95-102 silently drops
    them — deliberate divergence, documented in SURVEY §7).

    ``raw_value`` (the original payload string, for DLQ re-publish —
    consumer.py:50-58 forwards the *original* bytes) and source
    metadata columns (partition, offset), when present on the raw
    frame, pass through — offset is the per-key tiebreaker the apply
    step uses for equal timestamps (the reference breaks ties by log
    position; SURVEY §7 risk a)."""
    return _decode_json(
        raw,
        value_schema,
        payload=F.struct(
            *[F.col(f"__p.{f.name}").alias(f.name) for f in value_schema.fields]
        ),
    )


def _decode_json(raw: DataFrame, schema: StructType, **outputs) -> DataFrame:
    """The one PERMISSIVE JSON decode behind every wire format: parse
    ``value`` with ``schema`` into ``__p``, then emit each of
    ``outputs`` (Columns over ``__p``) only when the value parsed.
    ``key``, ``raw_value`` and any source metadata (partition, offset)
    pass through.

    PERMISSIVE from_json returns an all-NULL *struct* (not NULL) for
    unparseable input, indistinguishable from valid JSON with absent
    keys — so corruption is detected via columnNameOfCorruptRecord and
    folded into output nullability here: corrupt or NULL input yields
    NULL outputs, keeping the caller contract a single null check."""
    corrupt = StructType(schema.fields + [StructField("_corrupt", StringType())])
    meta = [c for c in ("partition", "offset") if c in raw.columns]
    parsed = raw.select(
        F.col("key").cast("string").alias("key"),
        F.from_json(
            F.col("value").cast("string"),
            corrupt,
            {"mode": "PERMISSIVE", "columnNameOfCorruptRecord": "_corrupt"},
        ).alias("__p"),
        F.col("value").cast("string").alias("raw_value"),
        *meta,
    )
    ok = F.col("__p").isNotNull() & F.col("__p._corrupt").isNull()
    return parsed.select(
        "key",
        *[F.when(ok, c).alias(name) for name, c in outputs.items()],
        "raw_value",
        *meta,
    )


def encode_envelope(df: DataFrame, key_col: str, passthrough=()) -> DataFrame:
    """Typed columns -> Kafka record (producer.py:62-71): JSON value,
    stringified primary key. ``passthrough``: extra Columns carried
    alongside the envelope (e.g. a transport ordering column) — this is
    the single definition of the wire format; every write path must go
    through it."""
    return df.select(
        F.col(key_col).cast("string").alias("key"),
        F.to_json(F.struct(*df.columns)).alias("value"),
        *passthrough,
    )


def broker_source_options(
    bootstrap_servers: str,
    topic: str,
    starting_offsets: str = "earliest",
    max_offsets_per_trigger: int | None = None,
) -> dict[str, str]:
    """The exact option set the broker-backed source emits — split out
    so the mapping to the reference consumer's config (consumer.py:11-37)
    is pinnable without a broker or kafka jar in the environment:

    * ``kafka.bootstrap.servers``  <- conf 'bootstrap.servers'
    * ``subscribe``                <- consumer.subscribe([topic])
    * ``startingOffsets=earliest`` <- 'auto.offset.reset': 'earliest'
    * ``maxOffsetsPerTrigger``     <- run_once(max_messages=...) bound
    * (no group.id / auto-commit: Spark's checkpoint owns offsets —
      strictly stronger than the reference's at-most-once auto-commit)
    """
    opts = {
        "kafka.bootstrap.servers": bootstrap_servers,
        "subscribe": topic,
        "startingOffsets": starting_offsets,
    }
    if max_offsets_per_trigger is not None:
        opts["maxOffsetsPerTrigger"] = str(max_offsets_per_trigger)
    return opts


def broker_sink_options(
    bootstrap_servers: str, topic: str, checkpoint_dir: str
) -> dict[str, str]:
    """Sink-side option set (producer.py:10-13 + durable offsets):
    topic routing + checkpoint wiring; broker-side acks default to all
    on the Spark Kafka sink, matching producer.py:12."""
    return {
        "kafka.bootstrap.servers": bootstrap_servers,
        "topic": topic,
        "checkpointLocation": checkpoint_dir,
    }


def read_cdc_stream(
    spark: SparkSession,
    bootstrap_servers: str,
    topic: str,
    value_schema: StructType,
    starting_offsets: str = "earliest",
    max_offsets_per_trigger: int | None = None,
    transport=None,
):
    """Streaming Kafka source -> decoded envelope.

    maxOffsetsPerTrigger bounds micro-batches (the reference's
    max_messages, consumer.py:21); offsets checkpoint replaces its
    auto-commit (at-least-once + idempotent apply => effective
    exactly-once).

    ``transport``: an ``embedded_kafka.EmbeddedLog`` substitutes for a
    broker (this environment ships neither broker nor kafka jar) — the
    raw record frame comes from the file-backed topic instead, and the
    envelope decode path is byte-for-byte the same."""
    if transport is not None:
        return decode_envelope(transport.raw_stream(spark, topic), value_schema)
    reader = spark.readStream.format("kafka").options(
        **broker_source_options(
            bootstrap_servers, topic, starting_offsets, max_offsets_per_trigger
        )
    )
    return decode_envelope(reader.load(), value_schema)


def write_keyed_stream(
    df: DataFrame,
    bootstrap_servers: str,
    topic: str,
    key_col: str,
    checkpoint_dir: str,
    transport=None,
    order_col: str | None = None,
):
    """Keyed Kafka sink (producer.py:67-71): key routes the partition,
    giving per-key ordering; acks=all durability is the sink default.

    Returns a DataStreamWriter — the caller picks the trigger and
    starts it. With ``transport`` (an ``embedded_kafka.EmbeddedLog``)
    each micro-batch appends through the keyed publish path instead of
    a broker; the envelope encode is identical. ``order_col`` (transport
    path only) fixes intra-partition send order — the reference
    producer's ORDER BY last_updated_at (producer.py:34); a real
    broker gets this from single-producer send order."""
    if transport is not None:
        encoded = encode_envelope(
            df,
            key_col,
            passthrough=()
            if order_col is None
            else (F.col(order_col).alias("__order"),),
        )
        return transport.write_stream(
            encoded,
            topic,
            checkpoint_dir,
            order_col="__order" if order_col is not None else None,
        )
    return (
        encode_envelope(df, key_col)
        .writeStream.format("kafka")
        .options(**broker_sink_options(bootstrap_servers, topic, checkpoint_dir))
    )


# ---------------------------------------------------------------------------
# Debezium envelope (industry-standard CDC wire format)
# ---------------------------------------------------------------------------


def debezium_envelope_schema(row_schema: StructType) -> StructType:
    """``{before, after, op, ts_ms, source{table, seq}}`` around a row
    image — the Debezium/Kafka-Connect change-event shape. The
    reference ships an ad-hoc flat JSON (employee.py:19-20); accepting
    the standard envelope means any Debezium-fed topic can drive this
    engine's apply path unchanged."""
    from pyspark.sql.types import LongType

    return StructType(
        [
            StructField("before", row_schema),
            StructField("after", row_schema),
            StructField("op", StringType()),
            StructField("ts_ms", LongType()),
            StructField(
                "source",
                StructType(
                    [
                        StructField("table", StringType()),
                        StructField("seq", LongType()),
                    ]
                ),
            ),
        ]
    )


def decode_debezium(raw: DataFrame, row_schema: StructType) -> DataFrame:
    """Kafka record -> typed Debezium change event.

    Same corrupt-payload contract as :func:`decode_envelope`: a
    malformed value yields NULL ``op`` (and NULL row images), which
    callers route to the DLQ via ``op IS NULL`` — never swallowed.
    ``row`` is the effective image (after, else before — i.e. the
    deleted row's last state), so downstream apply code reads one
    struct regardless of op. Source metadata (partition, offset) and
    ``raw_value`` pass through for tiebreaks and DLQ re-publish.
    """
    return _decode_json(
        raw,
        debezium_envelope_schema(row_schema),
        op=F.lower("__p.op"),
        before=F.col("__p.before"),
        after=F.col("__p.after"),
        row=F.coalesce("__p.after", "__p.before"),
        ts_ms=F.col("__p.ts_ms"),
        seq=F.col("__p.source.seq"),
    )


def encode_debezium(
    df: DataFrame,
    key_col: str,
    op_col: str = "op",
    before_col: str = "before",
    after_col: str = "after",
    ts_ms_col: str = "ts_ms",
    table: str = "unknown",
    seq_col: str | None = None,
) -> DataFrame:
    """Typed change columns -> Debezium-enveloped Kafka record (the
    synthesis side, used by tests and by re-publishing pipelines)."""
    seq = F.col(seq_col) if seq_col else F.lit(None).cast("long")
    return df.select(
        F.col(key_col).cast("string").alias("key"),
        F.to_json(
            F.struct(
                F.col(before_col).alias("before"),
                F.col(after_col).alias("after"),
                F.col(op_col).alias("op"),
                F.col(ts_ms_col).alias("ts_ms"),
                F.struct(
                    F.lit(table).alias("table"), seq.alias("seq")
                ).alias("source"),
            )
        ).alias("value"),
    )
