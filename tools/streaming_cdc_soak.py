#!/usr/bin/env python
"""Streaming CDC soak at replica scale (round-13 verdict item 6).

tests/test_streaming_soak.py pins stream/batch parity for the stateful
totals path at sf0.1; THIS tool soaks the full file-stream CDC pipeline
(streaming/pipeline.CdcFileStreamPipeline — one file sink routing the
curated append-only log and the DLQ -> last-writer-wins replica view,
merge-on-read over a compacted base) over a
replica-scale change-log in bounded availableNow bursts, with one
process-restart simulation (a fresh pipeline object over the same
checkpoint) halfway through, then asserts against the one-shot batch
apply over the same rows:

* replica ROW COUNT == batch row count,
* replica CONTENT == batch content (exceptAll both directions empty),
* an order-independent xor-of-row-hash digest, printed for the log,
* DLQ row count == batch invalid count.

    python tools/streaming_cdc_soak.py [SF_DIR] [N_BURSTS]

Default SF_DIR is the 100x replica (spark-warehouse/scale/sf10.0,
10M-row change-log); default bursts 20. The change-log semantics are
the flagship cdc_replica mapping (key=user_id, order=(ts, event_id),
'error' plays delete) with the consumer.py:47-48 validation analog
(year(ts) <= 2023 OR value <= 5.0 OR user_id < 0 -> DLQ).
"""

from __future__ import annotations

import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, ".")

INVALID_SQL = "(year(ts) <= 2023 OR value <= 5.0 OR user_id < 0)"


def main() -> int:
    from pyspark.sql import functions as F

    from cdc_kafka_project_spark.catalog import load_table
    from cdc_kafka_project_spark.operators import cdc
    from cdc_kafka_project_spark.schemas import TESTDATA_SCHEMAS
    from cdc_kafka_project_spark.session import get_spark
    from cdc_kafka_project_spark.streaming.pipeline import (
        CdcFileStreamPipeline,
    )

    sf_dir = sys.argv[1] if len(sys.argv) > 1 else (
        "spark-warehouse/scale/sf10.0"
    )
    n_bursts = int(sys.argv[2]) if len(sys.argv) > 2 else 20

    spark = get_spark("streaming-cdc-soak")
    spark.sparkContext.setLogLevel("ERROR")

    changelog = load_table(spark, sf_dir, "events")
    n_log = changelog.count()
    schema = TESTDATA_SCHEMAS["events"]
    key_cols, order_cols = ["user_id"], ["ts", "event_id"]

    work = tempfile.mkdtemp(prefix="cdc-soak-")
    src = os.path.join(work, "src")
    os.makedirs(src)

    def make_pipeline() -> CdcFileStreamPipeline:
        return CdcFileStreamPipeline(
            spark, src, work, schema, F.expr(INVALID_SQL),
            key_cols=key_cols, order_cols=order_cols,
            action_col="event_type", delete_action="error",
        )

    t0 = time.time()
    pipe = make_pipeline()
    burst_rows = 0
    try:
        for b in range(n_bursts):
            burst = changelog.filter(
                F.col("event_id") % n_bursts == b
            )
            burst.write.mode("append").parquet(src)
            if b == n_bursts // 2:
                # process-restart simulation: a FRESH pipeline object
                # over the same checkpoint/log/base dirs — all state
                # must live in the checkpoint and the parquet files, not
                # the Python object
                pipe = make_pipeline()
            tb = time.time()
            pipe.run_available_now()
            print(
                f"burst {b + 1}/{n_bursts}: applied in "
                f"{time.time() - tb:.1f} s",
                flush=True,
            )
            burst_rows += 1

        replica = pipe.snapshot()
        cols = replica.columns

        # one-shot batch twin over the SAME change-log
        valid, invalid = cdc.validate_split(changelog, F.expr(INVALID_SQL))
        batch = cdc.apply_changes(
            valid, key_cols, order_cols,
            action_col="event_type", delete_action="error",
        ).select(cols)

        def digest(df):
            # order-independent content digest: xor of per-row
            # xxhash64 over the stringified sorted columns
            h_expr = "bit_xor(xxhash64(" + ", ".join(
                f"cast(`{c}` as string)" for c in sorted(df.columns)
            ) + "))"
            agg = df.agg(
                F.count(F.lit(1)).alias("n"), F.expr(h_expr).alias("h")
            ).first()
            return agg["n"], agg["h"]

        n_stream, h_stream = digest(replica)
        n_batch, h_batch = digest(batch)
        extra = replica.exceptAll(batch).count()
        missing = batch.exceptAll(replica).count()
        n_dlq = pipe.dlq().count()
        n_invalid = invalid.count()

        print(
            f"SOAK change-log rows: {n_log}; bursts: {n_bursts} "
            f"(restart after {n_bursts // 2}); wall {time.time() - t0:.1f} s"
        )
        print(f"SOAK replica rows: stream={n_stream} batch={n_batch}")
        print(f"SOAK replica digest: stream={h_stream} batch={h_batch}")
        print(f"SOAK exceptAll: stream-batch={extra} batch-stream={missing}")
        print(f"SOAK dlq rows: stream={n_dlq} batch_invalid={n_invalid}")

        ok = (
            n_stream == n_batch
            and h_stream == h_batch
            and extra == 0
            and missing == 0
            and n_dlq == n_invalid
        )
        print("SOAK VERDICT: " + ("PASS" if ok else "FAIL"))
        return 0 if ok else 1
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    raise SystemExit(main())
