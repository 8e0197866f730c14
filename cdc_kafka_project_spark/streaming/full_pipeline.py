"""The full CDC pipeline, end to end — the reference DAG as one call.

Mirrors ``airflow_dags/project2_dag.py:159``'s task graph
(``[create_source_tables, create_dest_table] >> insert_test_data >>
run_producer >> run_consumer >> check_destination``) on the Spark
engine:

1. **setup** — topic DDL-analog: create the CDC topic (3 partitions,
   ``admin.py:53``) and its DLQ (``consumer.py:8-9``) on the embedded
   transport; the "destination table" is a curated-log directory (the
   replica is a view over it).
2. **workload** — the DAG's embedded 7-event test mutation workload
   (``project2_dag.py:95-137``: 2 valid inserts, 3 DLQ-bound inserts,
   1 update, 1 delete) written to the change-log source directory
   (the plpgsql trigger #21 is out-of-engine; this synthesizes its
   output, as SURVEY §2 scopes).
3. **producer** — a bounded streaming run: change-log files -> wire
   reshape (``producer.py:51-60``'s Employee mapping) -> keyed
   envelope -> partitioned topic (``kafka_io.write_keyed_stream``).
4. **consumer** — a bounded streaming run: topic ->
   ``kafka_io.read_cdc_stream`` (envelope decode, corrupt -> NULL) ->
   foreachBatch { corrupt + invalid -> DLQ topic (original payload,
   ``consumer.py:50-58``); valid -> curated log }.
5. **verify** — replica snapshot (latest-per-key apply over the
   curated log; ties broken by topic offset = log position, exactly
   the reference's implicit order) + DLQ count, returned as a summary
   dict (``project2_dag.py:152-156``'s check, assertable instead of
   eyeballed).

Runnable: ``python -m cdc_kafka_project_spark.streaming.full_pipeline``.
"""

from __future__ import annotations

import datetime as dt
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cdc_kafka_project_spark.functions import local_rows_df
from cdc_kafka_project_spark.operators import cdc
from cdc_kafka_project_spark.schemas import (
    EMP_CDC_SCHEMA,
    KAFKA_ENVELOPE_SCHEMA,
)
from cdc_kafka_project_spark.streaming import kafka_io
from cdc_kafka_project_spark.streaming.embedded_kafka import EmbeddedLog

CDC_TOPIC = "bf_employee_cdc"  # producer.py:6
DLQ_TOPIC = "bf_employee_cdc_dlq"  # consumer.py:8-9
CONSUMER_GROUP = "cdc-group"  # consumer.py:12


def golden_workload() -> list[tuple]:
    """project2_dag.py:95-137's test data: the DAG inserts Alice and
    Emma (valid), three validation failures (salary 50, dob 1900,
    emp_id -100), then updates and deletes Alice."""
    d = dt.date

    def ts(i: int) -> dt.datetime:
        return dt.datetime(2024, 1, 1, 12, 0, i)

    return [
        (1, "Alice", "Johnson", d(2012, 4, 10), "San Francisco", 80000, "insert", ts(1), 1),
        (2, "Emma", "Wood", d(2015, 7, 1), "Boston", 72000, "insert", ts(2), 2),
        (3, "Too", "Low", d(2000, 1, 1), "LA", 50, "insert", ts(3), 3),
        (4, "Too", "Old", d(1900, 1, 1), "San Jose", 50000, "insert", ts(4), 4),
        (-100, "Wrong", "ID", d(2000, 1, 1), "Chicago", 45000, "insert", ts(5), 5),
        (1, "Alice", "Johnson", d(2012, 4, 10), "San Francisco", 75000, "update", ts(6), 6),
        (1, "Alice", "Johnson", d(2012, 4, 10), "San Francisco", 75000, "delete", ts(7), 7),
    ]


def to_wire(changelog: DataFrame) -> DataFrame:
    """Change-log row -> wire shape (op #5/#6: producer.py:51-60's
    positional Employee mapping + stringified date/timestamp)."""
    return changelog.select(
        F.lit(0).alias("action_id"),
        "emp_id",
        F.col("first_name").alias("emp_FN"),
        F.col("last_name").alias("emp_LN"),
        F.col("dob").cast("string").alias("emp_dob"),
        F.col("city").alias("emp_city"),
        F.col("salary").alias("emp_salary"),
        "action",
        F.col("last_updated_at").cast("string").alias("last_updated_at"),
    )


def from_wire(decoded: DataFrame) -> DataFrame:
    """Decoded envelope payload -> typed change row (consumer side of
    op #11), carrying the topic offset as the per-key tiebreaker."""
    p = "payload"
    return decoded.select(
        F.col(f"{p}.emp_id").alias("emp_id"),
        F.col(f"{p}.emp_FN").alias("first_name"),
        F.col(f"{p}.emp_LN").alias("last_name"),
        F.to_date(f"{p}.emp_dob").alias("dob"),
        F.col(f"{p}.emp_city").alias("city"),
        F.col(f"{p}.emp_salary").alias("salary"),
        F.col(f"{p}.action").alias("action"),
        F.to_timestamp(f"{p}.last_updated_at").alias("last_updated_at"),
        F.col("offset").alias("seq"),
    )


def wire_invalid_predicate():
    """consumer.py:47-48 evaluated on the wire shape: dob year from the
    stringified date (int(str(dob)[:4]), null -> 0)."""
    dob_year = F.coalesce(
        F.substring("payload.emp_dob", 1, 4).cast("int"), F.lit(0)
    )
    return (
        (dob_year <= F.lit(2007))
        | (F.col("payload.emp_salary") <= F.lit(100))
        | (F.col("payload.emp_id") < F.lit(0))
    )


def run_consumer(spark: SparkSession, log: EmbeddedLog, work_dir: str) -> None:
    """Step 4 (module docstring): one bounded run of the CDC consumer
    over ``CDC_TOPIC``. Each micro-batch is split by
    ``cdc.validate_split``: corrupt payloads (NULL after decode) and
    rows failing ``wire_invalid_predicate`` go to ``DLQ_TOPIC`` with
    their original bytes (consumer.py:50-58); valid rows append to the
    curated log under ``work_dir``. The offsets checkpoint lives under
    ``work_dir`` too, so a rerun consumes only new messages. The DLQ
    publish and the curated append are two separate writes: a retried
    micro-batch publishes its DLQ rows again (at-least-once)."""
    decoded = kafka_io.read_cdc_stream(
        spark,
        bootstrap_servers="embedded",
        topic=CDC_TOPIC,
        value_schema=KAFKA_ENVELOPE_SCHEMA,
        transport=log,
    )
    invalid = F.col("payload").isNull() | wire_invalid_predicate()
    curated_dir = os.path.join(work_dir, "curated")

    def _consume(batch: DataFrame, epoch_id: int) -> None:
        valid, dlq = cdc.validate_split(batch, invalid)
        log.publish(dlq.select("key", F.col("raw_value").alias("value")), DLQ_TOPIC)
        from_wire(valid).write.mode("append").parquet(curated_dir)

    (
        decoded.writeStream.foreachBatch(_consume)
        .option(
            "checkpointLocation", os.path.join(work_dir, "cp_consumer")
        )
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )


def run_full_pipeline(
    spark: SparkSession,
    work_dir: str,
    events: list[tuple] | None = None,
) -> dict:
    """Run steps 1-5 (module docstring); returns the verification
    summary the DAG's check_destination eyeballs."""
    log = EmbeddedLog(os.path.join(work_dir, "broker"))
    source_dir = os.path.join(work_dir, "emp_cdc")
    curated_dir = os.path.join(work_dir, "curated")
    os.makedirs(source_dir, exist_ok=True)

    # 1. setup (DDL-analog)
    log.create_topic(CDC_TOPIC, num_partitions=3)  # admin.py:53
    log.create_topic(DLQ_TOPIC, num_partitions=1)

    # 2. workload (project2_dag.py:95-137). local_rows_df: the plain
    # createDataFrame slices 7 rows into defaultParallelism pickled
    # partitions and the coalesce(1) then paid ~32 SEQUENTIAL Python
    # worker round trips in one write task — measured 6–10 s for this
    # one statement, dominating the whole pipeline wall (r16).
    rows = events if events is not None else golden_workload()
    local_rows_df(spark, rows, EMP_CDC_SCHEMA).coalesce(1).write.mode(
        "append"
    ).parquet(source_dir)

    # 3. producer: change-log stream -> wire -> keyed topic
    changes = spark.readStream.schema(EMP_CDC_SCHEMA).parquet(source_dir)
    producer = kafka_io.write_keyed_stream(
        to_wire(changes),
        bootstrap_servers="embedded",
        topic=CDC_TOPIC,
        key_col="emp_id",
        checkpoint_dir=os.path.join(work_dir, "cp_producer"),
        transport=log,
        order_col="last_updated_at",
    )
    producer.trigger(availableNow=True).start().awaitTermination()

    # 4. consumer: topic -> decode -> split -> DLQ topic + curated log
    run_consumer(spark, log, work_dir)

    # 5. verify (project2_dag.py:152-156, assertable)
    replica = cdc.apply_changes(
        spark.read.schema(EMP_CDC_SCHEMA).parquet(curated_dir),
        key_cols=("emp_id",),
        order_cols=("last_updated_at", "seq"),
    )
    replica_rows = sorted(
        (r.emp_id, r.first_name, r.salary) for r in replica.collect()
    )
    dlq_keys = sorted(
        int(bytes(r.key).decode())
        for r in log.raw_batch(spark, DLQ_TOPIC).collect()
    )
    return {
        "topics": log.list_topics(),
        "produced": int(
            log.raw_batch(spark, CDC_TOPIC).count()
        ),
        "replica": replica_rows,
        "dlq_keys": dlq_keys,
    }


if __name__ == "__main__":
    import sys
    import tempfile

    from cdc_kafka_project_spark.session import get_spark

    work = sys.argv[1] if len(sys.argv) > 1 else tempfile.mkdtemp(
        prefix="cdc_pipeline_"
    )
    summary = run_full_pipeline(get_spark("full-pipeline"), work)
    print(summary)
