"""Streaming soak at non-toy scale (round-8 verdict item 5).

Every other streaming test pins semantics on fixture-sized inputs
(tens of rows). This module replays the full events table — 100k rows
at the default sf0.1, 1M at the 10x replica via
``SPARK_GRAFT_SOAK_DIR`` — through the embedded-log source in bounded
availableNow micro-batches and asserts the TWO properties a
production restart cares about:

* **batch parity**: the stateful streaming result over the whole log
  equals the one-shot batch aggregate over the same rows (Structured
  Streaming's unified-model promise, checked end-to-end through the
  JSON envelope encode -> log -> decode path);
* **checkpoint resume mid-replay**: stop after half the log, publish
  the rest, restart from the SAME checkpoint — the resumed run
  processes only the new files (epoch ids advance, no re-emission of
  a stale total) and converges to the same final state.

The replay is deliberately multi-batch (maxFilesPerTrigger) so state
round-trips through the store between micro-batches instead of being
computed in one pass.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from cdc_kafka_project_spark import cache
from cdc_kafka_project_spark.catalog import load_table
from cdc_kafka_project_spark.schemas import TESTDATA_SCHEMAS
from cdc_kafka_project_spark.streaming.embedded_kafka import EmbeddedLog
from cdc_kafka_project_spark.streaming.kafka_io import (
    decode_envelope,
    encode_envelope,
)
from cdc_kafka_project_spark.streaming.stateful import (
    latest_totals,
    run_stateful_totals,
)

#: sf0.1 = 100k events (the bench scale); point SPARK_GRAFT_SOAK_DIR at
#: spark-warehouse/scale/sf1.0 for the 1M-row 10x-replica soak (the
#: recorded round-10 run)
SOAK_DIR = os.environ.get("SPARK_GRAFT_SOAK_DIR", "/root/testdata/sf0.1")

pytestmark = pytest.mark.skipif(
    not os.path.isdir(os.path.join(SOAK_DIR, "events.parquet"))
    and not os.path.isfile(os.path.join(SOAK_DIR, "events.parquet")),
    reason=f"soak dataset absent: {SOAK_DIR}",
)


def _run_totals(spark, log, topic, ckpt, out_dir):
    """One bounded availableNow replay of the topic through
    envelope-decode -> stateful per-type totals -> parquet sink;
    returns the epoch ids the run committed."""
    raw = log.raw_stream(spark, topic, max_files_per_trigger=1)
    decoded = decode_envelope(raw, TESTDATA_SCHEMAS["events"])
    typed = decoded.filter(F.col("payload").isNotNull()).select(
        F.col("payload.event_type").alias("event_type"),
        F.col("payload.value").alias("value"),
    )
    q = run_stateful_totals(
        typed, ckpt, out_dir, group_col="event_type", amount_col="value"
    )
    q.awaitTermination()
    return [int(p["batchId"]) for p in q.recentProgress]


def _batch_twin(events):
    """The one-shot batch answer the stream must converge to."""
    return events.groupBy("event_type").agg(
        F.sum(F.floor(F.col("value")).cast("long")).alias("total_salary")
    )


def test_soak_replay_resume_matches_batch(spark, tmp_path):
    events = load_table(spark, SOAK_DIR, "events")
    n = events.count()
    assert n >= 100_000, f"soak input unexpectedly small: {n} rows"

    log = EmbeddedLog(str(tmp_path / "log"))
    topic = "events-soak"
    log.create_topic(topic, num_partitions=4)
    ckpt, totals_dir = str(tmp_path / "ckpt"), str(tmp_path / "totals")

    enc = encode_envelope(events, "event_id", passthrough=(F.col("event_id"),))
    # 8 chunked appends (4 per phase): each append lands as its own
    # file set, so the bounded trigger replays each phase as SEVERAL
    # micro-batches and offsets continue across appends
    chunks = [
        enc.filter(F.col("event_id") % 8 == i).drop("event_id")
        for i in range(8)
    ]

    # ---- phase A: half the log, replayed in bounded micro-batches ----
    published_a = sum(log.publish(c, topic) for c in chunks[:4])
    assert published_a == events.filter(F.col("event_id") % 8 < 4).count()
    epochs_a = _run_totals(spark, log, topic, ckpt, totals_dir)
    assert len(epochs_a) >= 2, "replay must be multi-batch to soak state"
    mid = {
        r.event_type: r.total_salary
        for r in latest_totals(spark, totals_dir, "event_type").collect()
    }
    expect_mid = {
        r.event_type: r.total_salary
        for r in _batch_twin(
            events.filter(F.col("event_id") % 8 < 4)
        ).collect()
    }
    assert mid == expect_mid, "mid-replay state diverged from batch"

    # ---- phase B: publish the rest, RESUME from the same checkpoint ----
    for c in chunks[4:]:
        log.publish(c, topic)
    epochs_b = _run_totals(spark, log, topic, ckpt, totals_dir)
    # the resumed run continues the epoch sequence (processes only the
    # new files) instead of restarting from batch 0
    assert min(epochs_b) > max(epochs_a), (epochs_a, epochs_b)

    final = {
        r.event_type: r.total_salary
        for r in latest_totals(spark, totals_dir, "event_type").collect()
    }
    expect = {
        r.event_type: r.total_salary for r in _batch_twin(events).collect()
    }
    assert final == expect, "final streaming state diverged from batch"
    cache.release_caches()
