#!/usr/bin/env python
"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR (default
sf0.1) on local[$SPARK_GRAFT_CPUS].

Prints ONE COMPACT JSON line (round-5 verdict: the driver tail-captures
stdout, and a 96-entry per-query map outgrew the window, leaving
BENCH_r05 unparsed):
    {"metric": "headline_queries_total", "value": N, "unit": "sec",
     "value_min": N, "index_build_sec": N, "sf": ...,
     "n_queries": ..., "runs_per_query": 3, "aggregation": "median",
     "cdc_apply_latency_sec": ..., "cdc_apply_latency_min_sec": ...,
     "pipeline_golden_wall_sec": ..., "streaming_throughput_rows_per_sec": ...,
     "calib": {"pre": {"single_sec": N, "mt_sec": N}, "post": {...}}}
The full per-query median AND min maps go to stderr and
BENCH_HISTORY.jsonl. Median is the headline throughput number; the min
is the steal-robust signal on this virtualized host — regression
tooling (tools/bench_diff.py) calls "code regression" only when BOTH
move (round-6 verdict item 2; the r4 and r6 driver records were both
distorted by host steal-time).

Each query executes end-to-end into the no-op sink (format("noop")) so
timing covers scan -> compute -> materialization without driver
collection skew. One untimed warmup action absorbs JVM/codegen startup.
"""

from __future__ import annotations

import json
import os
import re
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from cdc_kafka_project_spark.registry import all_queries  # noqa: E402
from cdc_kafka_project_spark.session import get_spark  # noqa: E402

#: Headline set: one per operator family (CDC apply, scan, agg, join,
#: window, sessionize, dedup exact/LSH, text, similarity exact/ANN).
HEADLINE = [
    "cdc_incremental_scan",
    "cdc_replica",
    "cdc_running_totals",
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_region_revenue",
    "q6_revenue_delta",
    "q18_large_orders",
    "range_join_price_bands",
    "window_topn_per_group",
    "sessionize",
    "tumbling_hourly_agg",
    "dedup_exact_groups",
    "dedup_minhash_lsh",
    "text_stats",
    "lang_id",
    "doc_quality_filter",
    "doc_winnow_fingerprints",
    "similarity_topk",
    "similarity_ann_lsh",
    "similarity_ann_ivf",
    "media_decode_features",
    "media_frame_sample",
    # round-2 additions: SCD2 history, incremental agg maintenance,
    # decontamination, tf-idf
    "cdc_scd2_history",
    "cdc_incremental_agg",
    "doc_decontaminate",
    "text_tfidf_top_terms",
    # round-2 additions: PII scrub, compressed-domain ANN
    "doc_pii_redact",
    "similarity_ann_pq",
    # round-4 additions (r2 advice #8): the formerly-ungated round-3
    # set + the new column profile, so every registered family has a
    # regression base from here on
    "doc_host_stats",
    "doc_split_assign",
    "histogram_prices",
    "embedding_label_centroids",
    "group_minmax_norm",
    "sketch_distinct_users",
    "sketch_percentiles",
    "cdc_snapshot_diff",
    "cdc_time_travel",
    "column_profile",
    # round-4 new operators
    "asof_join_purchases",
    "doc_unigram_logprob",
    "doc_source_quality_gate",
    "similarity_semdedup_keep",
    "doc_uniform_sample",
    "source_weighted_sample",
    "asof_join_next_purchase",
    "corr_lineitem_measures",
    "funnel_view_click_purchase",
    "weekly_retention_cohorts",
    "session_stats",
    "weekly_revenue_wow",
    "salted_join_segment_revenue",
    "heavy_hitter_tokens",
    "dedup_normalized_groups",
    "doc_url_canonical",
    "embedding_pca_project",
    "curation_pipeline",
    "event_value_anomalies",
    "dedup_levenshtein_verify",
    "dedup_keep_longest",
    "doc_ngram_novelty",
    # round-5 new operators
    "bm25_topk",
    "text_index_topk",
    "hard_negative_mining",
    "dedup_incremental_new_docs",
    "rolling_7d_user_spend",
    "lang_temperature_sample",
    "doc_span_dedup",
    "doc_stratified_split",
    "media_phash_dup_pairs",
    "embedding_matryoshka_fidelity",
    "similarity_ann_recall",
    "interval_incident_event_stats",
    "interval_incident_overlap_pairs",
    "gapfill_daily_revenue",
    "split_leakage_audit",
    "lang_source_pmi",
    "winsorized_price_stats",
    "shard_assignment_by_bytes",
    "corpus_source_report",
    "embedding_index_pipeline",
    "denormalized_order_lines",
    "feature_quantile_buckets",
    "feature_label_index",
    "doc_bigram_logprob",
    "fk_integrity_audit",
    "event_value_drift_kl",
    "event_props_variant",
    "session_window_native",
    "unpivot_lineitem_measures",
    # round-5 statistics batch
    "price_qty_regression",
    "customer_rfm_segments",
    "event_transition_matrix",
    "hopping_event_counts",
    "bloom_semi_join_revenue",
    "pagerank_brand_copurchase",
    # round-7: salted join under the adversarial hot-key fixture
    "skewed_salted_segment_revenue",
]


def _tail_promotion(
    tail_names: list[str], sf: float | None, k: int = 20
) -> list[str]:
    """r15 verdict item 4: the ~122-name tail tier ran 1 run/query, so
    its round-over-round deltas could never be adjudicated (single-run
    pairs on a steal-prone host). Each bench run PROMOTES the k tail
    names least recently promoted (never-promoted first, alphabetical
    tiebreak — the same staleness-fronted discipline as the driver
    gate rotation, tools/plan_gate_rotation.py) to the full 3-run
    median+min treatment, so every tail name gets a median-quality
    bench row every ~ceil(|tail|/k) rounds (~6 at k=20).

    The promotion history is read from BENCH_HISTORY.jsonl's
    ``rotated_tail`` field, same-sf entries only — local sf0.01 runs
    must not advance the sf0.1 rotation the driver records."""
    last = {n: -1 for n in tail_names}
    if os.path.exists(HISTORY):
        with open(HISTORY) as f:
            idx = 0
            for line in f:
                try:
                    e = json.loads(line)
                except ValueError:
                    continue
                if e.get("sf") != sf:
                    continue
                idx += 1
                for n in e.get("rotated_tail") or []:
                    if n in last:
                        last[n] = idx
    order = sorted(tail_names, key=lambda n: (last[n], n))
    return order[:k]


def _calibration(spark) -> dict[str, float]:
    """Fixed deterministic probe of the host's CURRENT speed (round-11
    verdict item 3: the external-load band on this virtualized host
    spans ~1.7x between quiet and loaded windows, so every cross-round
    bench comparison was degenerating into a forensic A/B).

    Two pinned-size workloads, zero I/O, no data dependence:

    * ``single_sec`` — NumPy sort/scale loop on a fixed PRNG array
      (one core; tracks the steal/clock state Python driver work sees);
    * ``mt_sec`` — a JVM codegen xxhash64-sum over ``spark.range`` on
      32 in-memory partitions (all cores; tracks what the timed query
      loop actually competes against).

    The probe runs BEFORE and AFTER the timed region; both pairs land
    in the bench JSON as ``calib`` so tools/bench_diff.py can annotate
    raw deltas with the measured host factor instead of guessing."""
    import numpy as np
    from pyspark.sql import functions as F

    def mt_run(n_rows: int) -> None:
        # h % 1e6 keeps the ANSI-mode sum far from long overflow
        # (|sum| <= n_rows * 1e6 << 2^63) while the per-row xxhash64
        # stays the dominant cost
        spark.range(0, n_rows, 1, 32).select(
            (F.xxhash64("id") % F.lit(1_000_000)).alias("h")
        ).groupBy().sum("h").collect()

    # untimed warm: codegen compile for the probe plan shape + numpy
    # allocator touch (the probe measures the host, not JIT startup)
    mt_run(1_000_000)
    a = np.random.default_rng(7).random(2_000_000)
    np.sort(a)

    def median3(fn) -> float:
        # same median-of-3 policy as the query timings: one stalled
        # run must not define the host reading it exists to explain
        runs = []
        for _ in range(3):
            t0 = time.time()
            fn()
            runs.append(time.time() - t0)
        return round(sorted(runs)[1], 3)

    def single_run() -> None:
        nonlocal a
        for _ in range(5):
            np.sort(a)
            a = (a * 1.0000001) % 1.0

    single = median3(single_run)
    mt = median3(lambda: mt_run(3_000_000_000))
    return {"single_sec": single, "mt_sec": mt}


def _cdc_latency_sec(spark) -> tuple[float, float]:
    """BASELINE.md's one latency SLO: source commit -> replica visible
    in < 1 s (pdf p.9, single-host 7-event scale). Measured here as:
    change-file landed (commit) -> bounded micro-batch run -> replica
    snapshot forced. Cold start (checkpoint/JVM init) is excluded —
    the SLO describes a running pipeline. Returns ``(median, min)`` of
    3 warm rounds — same median-headline / steal-robust-min policy as
    the query timings (round-6 verdict item 5)."""
    import datetime as dt
    import shutil
    import tempfile

    from cdc_kafka_project_spark.operators import cdc as cdc_ops
    from cdc_kafka_project_spark.schemas import EMP_CDC_SCHEMA
    from cdc_kafka_project_spark.streaming.pipeline import CdcFileStreamPipeline

    work = tempfile.mkdtemp(prefix="cdc-latency-")
    src = os.path.join(work, "src")
    os.makedirs(src)
    pipe = CdcFileStreamPipeline(
        spark, src, work, EMP_CDC_SCHEMA, cdc_ops.employee_invalid_predicate()
    )

    def drop(i: int, n: int = 10) -> None:
        base = dt.datetime(2024, 1, 1, 12, 0, 0)
        rows = [
            (
                i * 1000 + j, f"F{j}", f"L{j}", dt.date(2012, 1, 1), "City",
                50_000 + j, "insert",
                base + dt.timedelta(seconds=i * 100 + j), i * 1000 + j,
            )
            for j in range(n)
        ]
        spark.createDataFrame(rows, EMP_CDC_SCHEMA).coalesce(1).write.mode(
            "append"
        ).parquet(src)

    try:
        drop(0)
        pipe.run_available_now()
        pipe.snapshot().count()  # cold path excluded
        rounds = []
        for i in (1, 2, 3):
            drop(i)
            t0 = time.time()
            pipe.run_available_now()
            n = pipe.snapshot().count()
            dt_s = time.time() - t0
            assert n == (i + 1) * 10, f"replica row count {n} at round {i}"
            rounds.append(dt_s)
        # (median, min): the min is the steal-robust signal on this
        # virtualized host (round-6 verdict item 5) — one stalled
        # micro-batch must not move the SLO record by itself
        return round(sorted(rounds)[1], 3), round(min(rounds), 3)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def _streaming_metrics(spark, sf_dir: str) -> dict:
    """Streaming-path bench block (r12 verdict item 5: the reference's
    one SLO is END-TO-END STREAMING latency, but the bench measured
    only the warm micro-batch apply). Two additions, both keyed to
    BASELINE.md rows:

    * ``pipeline_golden_wall_sec`` — wall time of the full 5-step CDC
      pipeline (topic DDL-analog -> 7-event golden workload ->
      producer stream -> consumer stream with DLQ split -> replica
      verify; BASELINE.md "E2E correctness workload" row,
      project2_dag.py:95-137). Median/min of 3 runs, each in a FRESH
      work dir (own broker, own checkpoints) — cold starts included,
      because the DAG the reference times re-creates its world per
      run. The replica/DLQ counts are asserted each run so the number
      can never be a fast-but-wrong pipeline.
    * ``streaming_throughput_rows_per_sec`` — sustained consumer-side
      throughput: the bench-scale events table (100k rows at sf0.1)
      JSON-envelope-encoded and published once to an embedded topic,
      then replayed through decode -> stateful per-type running
      totals -> parquet sink in ~10 bounded availableNow micro-batches
      (the tests/test_streaming_soak.py shape). rows / replay-wall,
      median/min of 3 replays each from a fresh checkpoint over the
      SAME published log — publish cost excluded because producer and
      consumer are separate processes in the reference; this tracks
      the consumer DAG the < 1 s SLO bounds. The first replay's final
      totals are asserted equal to the one-shot batch aggregate.
    """
    import shutil
    import tempfile

    from cdc_kafka_project_spark.catalog import load_table
    from cdc_kafka_project_spark.schemas import TESTDATA_SCHEMAS
    from cdc_kafka_project_spark.streaming.embedded_kafka import EmbeddedLog
    from cdc_kafka_project_spark.streaming.full_pipeline import (
        run_full_pipeline,
    )
    from cdc_kafka_project_spark.streaming.kafka_io import (
        decode_envelope,
        encode_envelope,
    )
    from cdc_kafka_project_spark.streaming.stateful import (
        latest_totals,
        run_stateful_totals,
        sized_state_session,
    )
    from pyspark.sql import functions as F

    # -- golden-workload pipeline wall time --------------------------
    golden_runs = []
    for _ in range(3):
        work = tempfile.mkdtemp(prefix="bench-fullpipe-")
        try:
            t0 = time.time()
            summary = run_full_pipeline(spark, work)
            golden_runs.append(time.time() - t0)
            # the DAG's check_destination expectation: Emma is the one
            # surviving replica row; the 3 invalid inserts hit the DLQ
            assert [r[1] for r in summary["replica"]] == ["Emma"], summary
            assert len(summary["dlq_keys"]) == 3, summary
        finally:
            shutil.rmtree(work, ignore_errors=True)

    # -- sustained consumer throughput over the events table ---------
    work = tempfile.mkdtemp(prefix="bench-stream-tp-")
    try:
        events = load_table(spark, sf_dir, "events")
        log = EmbeddedLog(os.path.join(work, "log"))
        topic = "events-bench"
        log.create_topic(topic, num_partitions=4)
        enc = encode_envelope(
            events, "event_id", passthrough=(F.col("event_id"),)
        )
        # 8 chunked appends so the bounded trigger has file-set
        # boundaries to batch on (one append = one offset epoch)
        n_rows = 0
        for i in range(8):
            n_rows += log.publish(
                enc.filter(F.col("event_id") % 8 == i).drop("event_id"),
                topic,
            )
        data_dir = log._data_dir(topic)
        n_files = sum(
            1 for f in os.listdir(data_dir) if f.endswith(".parquet")
        )
        # ~10 micro-batches: sustained multi-batch behavior (state
        # round-trips through the store) without per-file overhead
        # dominating the measurement
        mfpt = max(1, n_files // 10)

        # r16 (guide §2): size the stream's STATE partitioning to the
        # grouping key's domain instead of the session's core-count
        # shuffle width — a per-group stateful operator can never use
        # more parallelism than groups, and every empty state partition
        # still pays its store lifecycle each micro-batch (measured
        # 3.5x throughput, 32 -> key-domain partitions). The domain
        # count is read from the published events OUTSIDE the timed
        # replays; the consumer DAG, batching, sink, assertions and
        # timer placement are unchanged.
        n_groups = int(events.select("event_type").distinct().count())
        sess = sized_state_session(spark, n_groups)

        tp_runs = []
        for r in range(3):
            ckpt = os.path.join(work, f"ckpt_{r}")
            out_dir = os.path.join(work, f"totals_{r}")
            raw = log.raw_stream(sess, topic, max_files_per_trigger=mfpt)
            decoded = decode_envelope(raw, TESTDATA_SCHEMAS["events"])
            typed = decoded.filter(F.col("payload").isNotNull()).select(
                F.col("payload.event_type").alias("event_type"),
                F.col("payload.value").alias("value"),
            )
            t0 = time.time()
            run_stateful_totals(
                typed, ckpt, out_dir, group_col="event_type", amount_col="value"
            ).awaitTermination()
            tp_runs.append(time.time() - t0)
            if r == 0:
                # correctness guard: the throughput number is only
                # meaningful if the stream converged to the batch twin
                got = {
                    (x.event_type, x.total_salary)
                    for x in latest_totals(spark, out_dir, "event_type").collect()
                }
                want = {
                    (x.event_type, x.total_salary)
                    for x in events.groupBy("event_type")
                    .agg(
                        F.sum(
                            F.floor(F.col("value")).cast("long")
                        ).alias("total_salary")
                    )
                    .collect()
                }
                assert got == want, "stream totals diverged from batch"
    finally:
        shutil.rmtree(work, ignore_errors=True)

    g_med, g_min = sorted(golden_runs)[1], min(golden_runs)
    t_med, t_min = sorted(tp_runs)[1], min(tp_runs)
    return {
        "pipeline_golden_wall_sec": round(g_med, 3),
        "pipeline_golden_wall_min_sec": round(g_min, 3),
        # median wall -> median throughput; MIN wall -> MAX (steal-
        # robust) throughput
        "streaming_throughput_rows_per_sec": round(n_rows / t_med, 1),
        "streaming_throughput_max_rows_per_sec": round(n_rows / t_min, 1),
        "streaming_rows": n_rows,
    }


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1)) if m else None

    spark = get_spark("bench")
    queries = all_queries()

    # untimed warmup: JVM codegen + parquet footers, then the Python
    # worker pool (pandas/numpy imports) for Arrow-batched stages —
    # steady-state throughput is the metric, not interpreter spawn time
    queries["q1_pricing_summary"](spark, sf_dir).write.format("noop").mode(
        "overwrite"
    ).save()
    queries["media_decode_features"](spark, sf_dir).write.format("noop").mode(
        "overwrite"
    ).save()
    # Cold-index warmup (round-6 verdict item 3): on a fresh testdata
    # generation the first run of an index-probing query pays its
    # fingerprint-checked `ensure_*` builds (LSH/IVF/PQ, PCA-IVF,
    # k-means centroids, BM25 token index) — judge-observed 4.5 s cold
    # vs 2.3 s warm for similarity_ann_recall. Running the ensure-heavy
    # queries once HERE makes every build a warm no-op inside the timed
    # region, so the medians measure steady-state probes; the build
    # cost is reported separately as index_build_sec.
    t_idx0 = time.time()
    for warm in (
        "similarity_ann_recall",      # ensures lsh_p8 + ivf_k16 + pq_m8k32
        "embedding_index_pipeline",   # ensures ivf_pca8_k16
        "similarity_semdedup_keep",   # ensures the k-means model
        "text_index_topk",            # ensures the token index
    ):
        queries[warm](spark, sf_dir).write.format("noop").mode(
            "overwrite"
        ).save()
    index_build_sec = round(time.time() - t_idx0, 3)

    # host-speed probe immediately before the timed region (see
    # _calibration) — after warmups so JIT startup can't pollute it
    calib_pre = _calibration(spark)

    # Median of 3 runs per query (round-4 verdict): this host shows
    # multi-second kernel-time stalls (virtualized CPU steal) that land
    # on random queries — the r4 driver run came out ~40% above an
    # identical-code run minutes earlier. The median discards a single
    # stalled run without the optimism of a pure minimum; wall_sec
    # keeps the raw all-runs wall clock for capacity planning.
    t_wall0 = time.time()
    timings: dict[str, float] = {}
    timings_min: dict[str, float] = {}
    import gc

    for name in HEADLINE:
        runs = []
        for _ in range(3):
            t0 = time.time()
            queries[name](spark, sf_dir).write.format("noop").mode(
                "overwrite"
            ).save()
            runs.append(time.time() - t0)
        timings[name] = round(sorted(runs)[1], 3)
        # per-query MIN rides along (round-6 verdict item 2): this
        # host's steal-time band can stall 2 of 3 runs, defeating the
        # median; the min is the steal-robust signal, so regression
        # tooling flags only when BOTH median and min regress. Median
        # stays the honest headline throughput number.
        timings_min[name] = round(min(runs), 3)
        # Release query-scoped state between queries: persisted model
        # tables and localCheckpoint blocks otherwise accumulate across
        # ~90 queries x 3 runs in the shared session, and LATE queries
        # pay the eviction/GC pressure (observed: doc_bigram_logprob
        # 7.7 s in a full bench vs 1.3 s warm in isolation). clearCache
        # drops CacheManager entries; gc.collect() lets the
        # ContextCleaner reap checkpoint RDDs whose Python refs died.
        spark.catalog.clearCache()
        gc.collect()

    total = round(sum(timings.values()), 3)
    total_min = round(sum(timings_min.values()), 3)
    # wall clock of the QUERY LOOP only — captured before the CDC
    # latency measurement below so the two metrics stay independent
    # (folding the CDC pipeline's several seconds into wall_sec would
    # fake a round-over-round wall regression)
    wall_sec = round(time.time() - t_wall0, 3)
    # Full-registry tail (r13 verdict item 2): every registered name
    # NOT in the headline set, ONE run each — bench_diff.py was blind
    # to regressions in the other ~122 names. Single-run timings are
    # noisier than the 3-run medians, so they live in a SEPARATE map
    # (queries_tail) and never fold into the headline total; the diff
    # tool labels tail verdicts as 1-run evidence.
    tail_names = sorted(n for n in queries if n not in HEADLINE)
    # r15: ~20 tail names per run get the full 3-run median+min
    # treatment (staleness-fronted rotation — see _tail_promotion);
    # the rest stay 1-run visibility probes. Promoted medians land in
    # the same queries_tail map (directly comparable round-over-round);
    # their mins go to queries_tail_min so bench_diff can apply the
    # headline-grade median+min regression predicate to them.
    promoted = set(_tail_promotion(tail_names, sf))
    timings_tail: dict[str, float] = {}
    timings_tail_min: dict[str, float] = {}
    t_tail0 = time.time()
    for name in tail_names:
        runs = []
        for _ in range(3 if name in promoted else 1):
            t0 = time.time()
            queries[name](spark, sf_dir).write.format("noop").mode(
                "overwrite"
            ).save()
            runs.append(time.time() - t0)
        timings_tail[name] = round(sorted(runs)[len(runs) // 2], 3)
        if name in promoted:
            timings_tail_min[name] = round(min(runs), 3)
        spark.catalog.clearCache()
        gc.collect()
    tail_total = round(sum(timings_tail.values()), 3)
    tail_wall = round(time.time() - t_tail0, 3)
    # reference SLO counterpart (BASELINE.md row 1): warm micro-batch
    # change->replica latency through the streaming CDC pipeline;
    # median of 3 with the min alongside (same steal-robustness policy
    # as the per-query timings — round-6 verdict item 5)
    cdc_med, cdc_min = _cdc_latency_sec(spark)
    # streaming-path block (r12 verdict item 5): golden-workload
    # pipeline wall + sustained consumer throughput — see
    # _streaming_metrics for the BASELINE.md cross-references
    streaming = _streaming_metrics(spark, sf_dir)
    # host-speed probe again after the timed region: a pre/post spread
    # says the load band MOVED during this run (per-query medians from
    # different minutes are then not comparable even within the run)
    calib_post = _calibration(spark)
    record = {
        "metric": "headline_queries_total",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "queries_min": timings_min,
        "queries_tail": timings_tail,
        "queries_tail_min": timings_tail_min,
        "rotated_tail": sorted(promoted),
        "tail_total_sec": tail_total,
        "tail_wall_sec": tail_wall,
        "runs_per_tail_query": 1,
        "runs_per_rotated_tail_query": 3,
        "value_min": total_min,
        "index_build_sec": index_build_sec,
        "wall_sec": wall_sec,
        "runs_per_query": 3,
        "aggregation": "median",
        "sf": sf,
        "cdc_apply_latency_sec": cdc_med,
        "cdc_apply_latency_min_sec": cdc_min,
        **streaming,
        "calib": {"pre": calib_pre, "post": calib_post},
    }
    _record_history(record)
    # Per-query detail to stderr; the one stdout line stays compact so
    # the driver's tail capture always sees the full JSON record
    # (round-5 verdict item 1 — BENCH_r05 was unparseable because the
    # per-query map pushed the line past the capture window).
    print("# per-query medians: " + json.dumps(timings), file=sys.stderr)
    print("# per-query mins: " + json.dumps(timings_min), file=sys.stderr)
    print("# tail (1 run each; rotated names 3-run median): "
          + json.dumps(timings_tail), file=sys.stderr)
    print("# tail rotated mins: " + json.dumps(timings_tail_min),
          file=sys.stderr)
    compact = {
        k: v for k, v in record.items()
        if k not in ("queries", "queries_min", "queries_tail",
                     "queries_tail_min", "rotated_tail")
    }
    compact["n_queries"] = len(timings)
    compact["n_queries_tail"] = len(timings_tail)
    compact["n_tail_rotated"] = len(timings_tail_min)
    print(json.dumps(compact))


HISTORY = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                       "BENCH_HISTORY.jsonl")


def _record_history(record: dict) -> None:
    """Append this run to BENCH_HISTORY.jsonl and print a per-query
    regression diff vs the previous run at the same sf (stderr, so the
    stdout contract stays one JSON line)."""
    prev = None
    if os.path.exists(HISTORY):
        with open(HISTORY) as f:
            for line in f:
                try:
                    e = json.loads(line)
                except ValueError:
                    continue
                if e.get("sf") == record["sf"]:
                    prev = e
    with open(HISTORY, "a") as f:
        f.write(json.dumps({"ts": time.time(), **record}) + "\n")
    if prev is None:
        return
    # the ONE regression predicate, shared with tools/bench_diff.py so
    # the stderr diff and BENCH_DIFF.md can never disagree
    import importlib.util as _ilu

    _spec = _ilu.spec_from_file_location(
        "bench_common",
        os.path.join(os.path.dirname(os.path.abspath(__file__)),
                     "tools", "bench_common.py"),
    )
    _bc = _ilu.module_from_spec(_spec)
    _spec.loader.exec_module(_bc)

    rows = []
    cur_mins = record.get("queries_min") or {}
    prev_mins = prev.get("queries_min") or {}
    for name, cur in record["queries"].items():
        old = prev["queries"].get(name)
        if old is None:
            rows.append((name, None, cur, "new"))
        else:
            flag = "REGRESSED" if _bc.regressed(old, cur) else ""
            # host-steal filter (round-6 verdict item 2): a median
            # regression whose MIN verifiably did not also regress is
            # the host's steal-time band, not code. Missing min data
            # keeps the alarm (same default as bench_diff.py).
            if flag and name in cur_mins and name in prev_mins:
                if not _bc.regressed(prev_mins[name], cur_mins[name]):
                    flag = "host-band?"
            rows.append((name, old, cur, flag))
    print(
        f"# bench diff vs previous sf={record['sf']} run "
        f"(total {prev['value']}s -> {record['value']}s)",
        file=sys.stderr,
    )
    for name, old, cur, flag in rows:
        old_s = f"{old:.3f}" if old is not None else "  -  "
        print(f"#   {name:32s} {old_s} -> {cur:.3f}  {flag}", file=sys.stderr)


if __name__ == "__main__":
    main()
