"""The two closed-loop workloads (one client, one session each).

A workload has ``setup()`` (inputs and warm-up, up to the first timed
operation), ``run(seconds)`` (repeat the unit operations until the time
is spent), ``end_to_end()``, ``report()`` and ``layers(tracer)``.
Reference checks run outside the timers; a mismatch or an exception
counts as one failed operation and is never retried.

* ``streaming`` interleaves two paths on one session:
  - the CDC path — op = one change round: commit a file of change
    events, apply it with ``CdcFileStreamPipeline.run_available_now``,
    read the replica (``snapshot()`` plus one aggregate action);
  - the topic path — op = one publish/consume cycle: publish a chunk of
    salary messages with ``EmbeddedLog.publish``, then drain it through
    decode -> stateful running totals -> ``foreachBatch`` sink.
* ``batch_queries`` — op = one warm pass over the 11 registered queries
  in a seed-shuffled order, each collected to Arrow; set-up runs one
  untimed pass first.
"""

from __future__ import annotations

import os
import random
import statistics
import time
import traceback

import pyarrow.parquet as pq

import gen

P = time.perf_counter


def median(xs):
    return statistics.median(xs) if xs else 0.0


def tail(xs: list[float]) -> tuple[float, float]:
    """Highest percentile with at least ten samples beyond it, as
    ``(value, percentile)``; ``(max, 100)`` when there are fewer than
    eleven samples."""
    n = len(xs)
    if n < 11:
        return (max(xs) if xs else 0.0), 100.0
    s = sorted(xs)
    k = n - 11  # index with exactly ten samples above it
    return s[k], round(100.0 * (k + 1) / n, 1)


def digest(df, cols) -> tuple[int, int]:
    """(row count, sum of crc32 over the ``|``-joined columns) — the
    Spark side of ``gen.row_crc``; one aggregate job."""
    from pyspark.sql import functions as F

    row = df.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.crc32(F.concat_ws("|", *[F.col(c).cast("string") for c in cols]))).alias("s"),
    ).first()
    return int(row["n"]), int(row["s"] or 0)


def _parquet_files(d: str) -> int:
    if not os.path.isdir(d):
        return 0
    return sum(1 for f in os.listdir(d) if f.endswith(".parquet"))


class Tally:
    """Attempted and failed operations of one run, with the first
    failure tracebacks."""

    def __init__(self) -> None:
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []

    def fail(self, what: str) -> None:
        self.failed += 1
        if len(self.errors) < 20:
            self.errors.append(what)

    def guarded(self, fn, *args) -> None:
        """Run one operation; an exception counts as one failure."""
        self.attempted += 1
        try:
            fn(*args)
        except Exception:
            self.fail(traceback.format_exc(limit=4))


class Part:
    """A workload or one path of it: inputs, timed ops, shared tally."""

    def __init__(self, ctx, sizes: dict, tally: Tally) -> None:
        self.ctx = ctx
        self.spark = ctx.spark
        self.sizes = sizes
        self.seed = ctx.seed
        self.tally = tally
        self.op_s: list[float] = []
        self.op_rows = 0
        #: time set-up spent on reference checks, not counted in setup_s
        self.check_s = 0.0


# ---------------------------------------------------------------------------
# streaming: the CDC path and the topic path
# ---------------------------------------------------------------------------


class CdcPath(Part):
    def setup(self) -> None:
        """Backfill the change history through one pipeline run."""
        from cdc_kafka_project_spark.operators import cdc
        from cdc_kafka_project_spark.schemas import EMP_CDC_SCHEMA
        from cdc_kafka_project_spark.streaming.pipeline import CdcFileStreamPipeline

        sz = self.sizes
        self.gen = gen.CdcGenerator(self.seed, sz["keys"])
        work = os.path.join(self.ctx.tmp, "cdc")
        self.source = os.path.join(work, "source")
        self.staging = os.path.join(work, "staging")
        os.makedirs(self.source)
        os.makedirs(self.staging)
        per_file = sz["backfill_rows"] // sz["backfill_files"]
        for i in range(sz["backfill_files"]):
            self._commit(self.gen.batch(per_file), f"backfill-{i:03d}")
        self.pipe = CdcFileStreamPipeline(
            self.spark, self.source, os.path.join(work, "pipe"), EMP_CDC_SCHEMA,
            invalid=cdc.employee_invalid_predicate(),
        )
        self.pipe.run_available_now()
        self._check(digest(self.pipe.snapshot(), gen.CDC_DIGEST_COLS))
        self.round_no = 0

    def _commit(self, table, name: str) -> None:
        path = os.path.join(self.staging, name + ".parquet")
        pq.write_table(table, path)
        os.rename(path, os.path.join(self.source, name + ".parquet"))

    def _check(self, replica: tuple[int, int]) -> None:
        if replica != self.gen.replica_digest():
            raise AssertionError(f"replica {replica} != model {self.gen.replica_digest()}")
        dlq = digest(self.pipe.dlq(), gen.CDC_DIGEST_COLS)
        if dlq != self.gen.dlq_digest():
            raise AssertionError(f"dlq {dlq} != model {self.gen.dlq_digest()}")

    def step(self, tracer, timed: bool = True) -> None:
        """One change round."""
        n = self.sizes["round_rows"]
        name = f"round-{self.round_no:05d}"
        trace_id = f"cdc/{self.round_no}"
        self.round_no += 1
        table = self.gen.batch(n)
        path = os.path.join(self.staging, name + ".parquet")
        pq.write_table(table, path)
        files_before = _parquet_files(self.pipe.curated_dir) + _parquet_files(self.pipe.dlq_dir)
        with tracer.span("round", trace_id) as rnd:
            t0 = P()
            os.rename(path, os.path.join(self.source, name + ".parquet"))  # commit
            with tracer.span("pipeline.apply", trace_id, counters=True) as ap:
                q = self.pipe.run_available_now()
            with tracer.span("pipeline.read", trace_id, counters=True):
                replica = digest(self.pipe.snapshot(), gen.CDC_DIGEST_COLS)
            visible = P() - t0
        if tracer.enabled:
            prog = q.recentProgress
            ap["batches"] = len(prog)
            ap["addBatch_ms"] = sum(p["durationMs"].get("addBatch", 0) for p in prog)
            ap["trigger_ms"] = sum(p["durationMs"].get("triggerExecution", 0) for p in prog)
            rnd["files"] = (_parquet_files(self.pipe.curated_dir)
                            + _parquet_files(self.pipe.dlq_dir) - files_before)
            rnd["visible_s"] = visible
        self._check(replica)  # outside the timer
        if timed:
            self.op_s.append(visible)
            self.op_rows += n

    def report(self) -> dict:
        t, pct = tail(self.op_s)
        total = sum(self.op_s)
        return {
            "cdc_visible_p50_s": median(self.op_s),
            "cdc_visible_tail_s": t,
            "cdc_visible_tail_pct": pct,
            "cdc_rounds": len(self.op_s),
            "cdc_changes_per_s": self.op_rows / total if total else 0.0,
            "cdc_round_s": [round(x, 4) for x in self.op_s],
        }

    def layers(self, tr) -> dict:
        ap, rd, rnd = tr.find("pipeline.apply"), tr.find("pipeline.read"), tr.find("round")
        t, pct = tail([r["visible_s"] for r in rnd])
        return {
            "pipeline.apply_s": median(tr.durations("pipeline.apply")),
            "pipeline.read_s": median(tr.durations("pipeline.read")),
            "pipeline.apply.addBatch_ms": median([s["addBatch_ms"] for s in ap]),
            "pipeline.apply.fixed_ms": median([s["trigger_ms"] - s["addBatch_ms"] for s in ap]),
            "pipeline.apply.batches_per_round": median([s["batches"] for s in ap]),
            "pipeline.files_per_round": median([r["files"] for r in rnd]),
            "cdc.log_rows": self.gen.events - self.gen.dlq_rows,
            "cdc.read_shuffle_bytes": median([s["shuffle_bytes"] for s in rd]),
            "cdc.visible_tail_s": t,
            "cdc.visible_tail_pct": pct,
            "spark.jobs_per_round": median([a["jobs"] + r["jobs"] for a, r in zip(ap, rd)]),
            "spark.tasks_per_round": median([a["tasks"] + r["tasks"] for a, r in zip(ap, rd)]),
        }


class TopicPath(Part):
    topic = "salaries"

    def setup(self) -> None:
        """Create the topic and the state-sized session, then run one
        untimed cycle (it starts the Python workers and the state
        store)."""
        from cdc_kafka_project_spark.streaming.embedded_kafka import EmbeddedLog
        from cdc_kafka_project_spark.streaming.stateful import sized_state_session

        sz = self.sizes
        self.gen = gen.SalaryGenerator(self.seed, sz["departments"])
        work = os.path.join(self.ctx.tmp, "topic")
        self.log = EmbeddedLog(os.path.join(work, "log"))
        self.log.create_topic(self.topic, num_partitions=sz["partitions"])
        self.sess = sized_state_session(self.spark, sz["departments"])
        self.ckpt = os.path.join(work, "checkpoint")
        self.out_dir = os.path.join(work, "totals")
        self.null_rows = 0
        self.cycle_no = 0
        self.publish_s: list[float] = []
        self.consume_s: list[float] = []
        self.step(self.ctx.untraced, timed=False)

    def _records(self, table):
        """Arrow chunk -> (key, value) records: intact messages go
        through ``encode_envelope``; corrupt ones get a truncated
        JSON payload."""
        from pyspark.sql import functions as F

        from cdc_kafka_project_spark.streaming.kafka_io import encode_envelope

        df = self.spark.createDataFrame(table.to_pandas()).select(
            "msg_id", "department", "department_division", "position_title",
            "hire_date",
            (F.col("salary_cents").cast("decimal(14,0)") / 100).cast("decimal(12,2)")
            .alias("salary"),
            "corrupt",
        )
        intact = encode_envelope(df.filter(~F.col("corrupt")).drop("corrupt"), "msg_id")
        bad = encode_envelope(df.filter(F.col("corrupt")).drop("corrupt"), "msg_id")
        bad = bad.withColumn("value", F.substring("value", 1, 24))
        return intact.unionByName(bad)

    def _consumer(self):
        from pyspark.sql import functions as F

        from cdc_kafka_project_spark.schemas import EMPLOYEE_SALARIES_SCHEMA
        from cdc_kafka_project_spark.streaming.kafka_io import decode_envelope
        from cdc_kafka_project_spark.streaming.stateful import running_totals_stateful

        decoded = decode_envelope(
            self.log.raw_stream(self.sess, self.topic), EMPLOYEE_SALARIES_SCHEMA
        ).observe(
            "decode",
            F.count(F.lit(1)).alias("rows"),
            F.count(F.when(F.col("payload").isNull(), 1)).alias("null_rows"),
        )
        typed = decoded.filter(F.col("payload").isNotNull()).select(
            F.col("payload.department").alias("department"),
            F.col("payload.salary").alias("salary"),
        )
        out_dir = self.out_dir

        def sink(batch_df, epoch_id):
            batch_df.withColumn("__epoch", F.lit(epoch_id)).write.mode("append").parquet(out_dir)

        return (
            running_totals_stateful(typed, "department", "salary")
            .writeStream.outputMode("update")
            .foreachBatch(sink)
            .option("checkpointLocation", self.ckpt)
            .trigger(availableNow=True)
        )

    def step(self, tracer, timed: bool = True) -> None:
        """One publish/consume cycle."""
        n = self.sizes["chunk_rows"]
        trace_id = f"topic/{self.cycle_no}"
        self.cycle_no += 1
        records = self._records(self.gen.chunk(n))
        with tracer.span("cycle", trace_id):
            t0 = P()
            with tracer.span("embedded_kafka.publish", trace_id, counters=True):
                published = self.log.publish(records, self.topic)
            t1 = P()
            with tracer.span("consumer.run", trace_id, counters=True) as cs:
                q = self._consumer().start()
                q.awaitTermination()
            t2 = P()
        prog = q.recentProgress
        if tracer.enabled:
            cs["progress"] = prog
        for p in prog:
            m = p.get("observedMetrics", {}).get("decode")
            if m:
                self.null_rows += int(m["null_rows"])
        if published != n:
            raise AssertionError(f"published {published} of {n} messages")
        if not timed:
            return
        self.publish_s.append(t1 - t0)
        self.consume_s.append(t2 - t1)
        self.op_s.append(t2 - t0)

    def final_check(self) -> None:
        from cdc_kafka_project_spark.streaming.stateful import latest_totals

        got = {r["department"]: int(r["total_salary"])
               for r in latest_totals(self.sess, self.out_dir).collect()}
        if got != self.gen.totals:
            diff = sorted(set(got.items()) ^ set(self.gen.totals.items()))[:4]
            raise AssertionError(f"department totals differ from the model: {diff}")
        if self.null_rows != self.gen.corrupt:
            raise AssertionError(f"decoded {self.null_rows} corrupt rows, model {self.gen.corrupt}")

    def report(self) -> dict:
        n = self.sizes["chunk_rows"] * len(self.publish_s)
        return {
            "publish_rows_per_s": n / sum(self.publish_s) if self.publish_s else 0.0,
            "consume_rows_per_s": n / sum(self.consume_s) if self.consume_s else 0.0,
            "topic_cycles": len(self.op_s),
            "topic_cycle_s": [round(x, 4) for x in self.op_s],
        }

    def layers(self, tr) -> dict:
        pub = tr.find("embedded_kafka.publish")
        runs = tr.find("consumer.run")
        prog = [p for r in runs for p in r["progress"]]
        state = [p["stateOperators"][0] for p in prog if p.get("stateOperators")]
        rep = self.report()
        return {
            "embedded_kafka.publish_s": median(tr.durations("embedded_kafka.publish")),
            "embedded_kafka.publish.jobs": median([s["jobs"] for s in pub]),
            "embedded_kafka.publish_rows_per_s": rep["publish_rows_per_s"],
            "consumer.trigger_ms": median([p["durationMs"].get("triggerExecution", 0) for p in prog]),
            "consumer.addBatch_ms": median([p["durationMs"].get("addBatch", 0) for p in prog]),
            "consumer.batches": len(prog),
            "consumer.rows_per_s": rep["consume_rows_per_s"],
            "stateful.state_rows": state[-1]["numRowsTotal"] if state else 0,
            "stateful.state_memory_bytes": state[-1]["memoryUsedBytes"] if state else 0,
            "kafka_io.decode_null_rows": self.null_rows,
        }


class Streaming(Part):
    """CDC rounds and topic cycles interleave on one session, so both
    paths see the same host and JVM state. Each next operation goes to
    the path that has had less wall time so far: the two paths share
    the window equally, and no fixed ratio of rounds to cycles weights
    either one. Each path has its own end-to-end figure: the CDC path
    the latency (commit -> replica visible), the topic path the
    throughput (messages of one cycle / median cycle)."""

    name = "streaming"

    def __init__(self, ctx, sizes: dict, tally: Tally) -> None:
        super().__init__(ctx, sizes, tally)
        self.cdc = CdcPath(ctx, sizes["cdc"], tally)
        self.topic = TopicPath(ctx, sizes["topic"], tally)

    def _steps(self, tracer, timed: bool, end: float) -> None:
        """Interleave the paths, each step to the one with less wall
        time so far, until ``end`` has passed and each path has had at
        least one step."""
        busy = {self.cdc: 0.0, self.topic: 0.0}
        steps = {self.cdc: 0, self.topic: 0}
        while P() < end or min(steps.values()) == 0:
            part = min(busy, key=busy.get)
            t0 = P()
            if timed:
                self.tally.guarded(part.step, tracer)
            else:
                part.step(tracer, timed=False)
            busy[part] += P() - t0
            steps[part] += 1

    def setup(self) -> None:
        """Both paths' set-up, then one untimed operation of each: the
        first round after the backfill and the second cycle still pay
        one-off costs."""
        t0 = P()
        self.cdc.setup()
        t1 = P()
        self.topic.setup()
        t2 = P()
        self._steps(self.ctx.untraced, False, end=0.0)
        self.setup_parts = {"cdc_setup_s": t1 - t0, "topic_setup_s": t2 - t1,
                            "warm_steps_s": P() - t2}

    def run(self, seconds: float) -> None:
        self._steps(self.ctx.tracer, True, end=P() + seconds)
        self.tally.guarded(self.topic.final_check)
        self.op_s = self.cdc.op_s + self.topic.op_s

    def end_to_end(self) -> dict:
        return {
            "latency_p50_s": median(self.cdc.op_s),
            "rows_per_s": (self.sizes["topic"]["chunk_rows"] / median(self.topic.op_s)
                           if self.topic.op_s else 0.0),
        }

    def report(self) -> dict:
        return {**self.setup_parts, **self.cdc.report(), **self.topic.report()}

    def layers(self, tr) -> dict:
        out = {}
        if self.cdc.op_s:
            out.update(self.cdc.layers(tr))
        if self.topic.op_s:
            out.update(self.topic.layers(tr))
        return out


# ---------------------------------------------------------------------------
# batch_queries
# ---------------------------------------------------------------------------

OLAP = ("q1_pricing_summary", "q3_shipping_priority", "q5_region_revenue",
        "q18_large_orders", "cdc_replica", "cdc_latest_state")
CURATION = ("curation_pipeline", "dedup_minhash_lsh", "similarity_ann_ivf",
            "doc_quality_filter", "text_tfidf_top_terms")
#: tables each query reads — the input rows a pass processes
QUERY_TABLES = {
    "q1_pricing_summary": ("lineitem",),
    "q3_shipping_priority": ("customer", "orders", "lineitem"),
    "q5_region_revenue": ("region", "nation", "customer", "orders", "lineitem"),
    "q18_large_orders": ("customer", "orders", "lineitem"),
    "cdc_replica": ("events",),
    "cdc_latest_state": ("events",),
    "curation_pipeline": ("documents",),
    "dedup_minhash_lsh": ("documents",),
    "similarity_ann_ivf": ("embeddings",),
    "doc_quality_filter": ("documents",),
    "text_tfidf_top_terms": ("documents",),
}
QUERY_METRICS = ("build_s", "exec_s", "jobs", "tasks", "cpu_s", "gc_s",
                 "shuffle_bytes", "busiest_task_share")


class BatchQueries(Part):
    """A pass runs the 11 queries in an order shuffled from the seed.
    Set-up runs one untimed pass, so code generation, Python worker
    start-up and the first index builds land in ``setup_s``; the timed
    passes after it are warm."""

    name = "batch_queries"

    def setup(self) -> None:
        from cdc_kafka_project_spark import registry

        self.data_dir = os.path.join(self.ctx.tmp, "batch", "bench")
        self.rows = gen.write_tables(self.seed, self.sizes["sf"], self.data_dir)
        self.queries = registry.all_queries()
        t0 = P()
        self.want = self._oracle_rows(registry.all_oracles())
        self.check_s = P() - t0
        self.rng = random.Random(self.seed)
        self.pass_rows = sum(self.rows[t] for q in OLAP + CURATION for t in QUERY_TABLES[q])
        self.query_s: dict[str, list[float]] = {q: [] for q in OLAP + CURATION}
        self.live_after = 0
        self.passes = 0
        self._pass(self.ctx.untraced, timed=False)

    def _oracle_rows(self, oracles: dict) -> dict:
        """Each query's DuckDB oracle over the generated files,
        normalized as the repository's correctness gate does."""
        import duckdb

        con = duckdb.connect()
        try:
            for t in self.rows:
                con.execute(
                    f"CREATE VIEW {t} AS SELECT * FROM "
                    f"'{os.path.join(self.data_dir, t + '.parquet')}'"
                )
            return {q: normalize(con.execute(oracles[q]).df()) for q in OLAP + CURATION}
        finally:
            con.close()

    def _query(self, name: str, tracer, trace_id: str):
        from cdc_kafka_project_spark import cache

        with tracer.span(f"query.{name}", trace_id):
            t0 = P()
            with tracer.span(f"query.{name}.build", trace_id, counters=True):
                df = self.queries[name](self.spark, self.data_dir)
            with tracer.span(f"query.{name}.exec", trace_id, counters=True):
                out = df.toArrow()
            wall = P() - t0
        self.live_after = max(self.live_after, cache.live_count())
        return out, wall

    def _check(self, name: str, out) -> None:
        got, want = normalize(out.to_pandas()), self.want[name]
        if got != want:
            raise AssertionError(
                f"{name}: engine {len(got[1])} rows, columns {got[0]} != "
                f"oracle {len(want[1])} rows, columns {want[0]}"
            )

    def _pass(self, tracer, timed: bool = True, end: float | None = None) -> None:
        """One pass, stopped before a query when ``end`` has passed; each
        query is one attempted operation, and its output is checked
        against the oracle after it ran. A query's time counts only when
        it matched."""
        order = list(OLAP + CURATION)
        self.rng.shuffle(order)
        trace_id = f"batch/{self.passes}"
        self.passes += 1
        walls = {}
        for name in order:
            if end is not None and P() >= end:
                break
            self.tally.attempted += 1
            try:
                out, wall = self._query(name, tracer, trace_id)
                self._check(name, out)
                walls[name] = wall
            except Exception:
                self.tally.fail(f"{name}: " + traceback.format_exc(limit=4))
        if not timed:
            return
        for name, w in walls.items():
            self.query_s[name].append(w)
        if len(walls) == len(order):
            self.op_s.append(sum(walls.values()))

    def run(self, seconds: float) -> None:
        """One whole pass, then passes until the deadline; the last one
        stops at it, so the run does not overshoot by most of a pass."""
        end = P() + seconds
        self._pass(self.ctx.tracer)
        while P() < end:
            self._pass(self.ctx.tracer, end=end)

    def _median_pass(self, names) -> float:
        """A pass over ``names`` from each query's median time, so the
        queries of a pass the deadline cut count too."""
        if not all(self.query_s[q] for q in names):
            return 0.0
        return sum(median(self.query_s[q]) for q in names)

    def end_to_end(self) -> dict:
        p50 = self._median_pass(OLAP + CURATION)
        return {
            "latency_p50_s": p50,
            "rows_per_s": self.pass_rows / p50 if p50 else 0.0,
        }

    def report(self) -> dict:
        return {
            "pass_s": [round(x, 4) for x in self.op_s],
            "query_runs": sum(len(v) for v in self.query_s.values()),
            "olap_pass_s": self._median_pass(OLAP),
            "curation_pass_s": self._median_pass(CURATION),
            "input_rows_per_pass": self.pass_rows,
        }

    def layers(self, tr) -> dict:
        rep = self.report()
        out = {"batch.olap_pass_s": rep["olap_pass_s"],
               "batch.curation_pass_s": rep["curation_pass_s"]}
        for name in OLAP + CURATION:
            b = tr.find(f"query.{name}.build")
            e = tr.find(f"query.{name}.exec")
            both = b + e
            recs = sum(s["input_records"] for s in both)
            busiest = max((s["busiest_task_records"] for s in both), default=0)
            m = {
                "build_s": median(tr.durations(f"query.{name}.build")),
                "exec_s": median(tr.durations(f"query.{name}.exec")),
                "jobs": sum(s["jobs"] for s in both) / max(1, len(b)),
                "tasks": sum(s["tasks"] for s in both) / max(1, len(b)),
                "cpu_s": sum(s["cpu_s"] for s in both) / max(1, len(b)),
                "gc_s": sum(s["gc_s"] for s in both) / max(1, len(b)),
                "shuffle_bytes": sum(s["shuffle_bytes"] for s in both) / max(1, len(b)),
                "busiest_task_share": busiest / recs if recs else 0.0,
            }
            out.update({f"query.{name}.{k}": v for k, v in m.items()})
        out["cache.live_after"] = self.live_after
        return out


def _load_normalize():
    """``normalize`` of ``tools/check_correctness.py``: the result
    canonicalisation the repository's oracle gate compares with."""
    import importlib.util

    path = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                        "tools", "check_correctness.py")
    spec = importlib.util.spec_from_file_location("check_correctness", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod.normalize


normalize = _load_normalize()


WORKLOADS = {w.name: w for w in (Streaming, BatchQueries)}
