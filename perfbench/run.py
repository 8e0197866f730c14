#!/usr/bin/env python3
"""Benchmark of the CDC engine: one workload, one run, one JSON result.

    python3 perfbench/run.py --workload streaming --seed 1 \
        --seconds 22 --trace 0

Run from the repository root. The run generates its inputs from
``--seed``, starts one ``local[nproc]`` session, sets the workload up,
repeats the workload's unit operation for ``--seconds`` seconds while
checking every output against a reference, and prints one JSON object
as the last line of standard output:

* ``--trace 0``: the end-to-end metrics (``setup_s``,
  ``latency_p50_s``, ``rows_per_s``), untraced;
* ``--trace 1``: the per-layer metrics, from spans around each call
  into a layer plus Spark's own counters. Spans are written to
  ``.perfbench/spans-<workload>-<seed>.jsonl``.

The line before it is a report: environment, input sizes, the
workload's named figures and any failures. Everything the run writes
goes under ``.perfbench/`` in the working directory; its temporary part
is removed on exit. Workloads and metrics are described in
``perfbench/README.md``.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "cdc_kafka_project_spark"

#: input sizes per workload; "smoke" is the small scale the tests use
SIZES = {
    "full": {
        "streaming": {
            "cdc": {"backfill_rows": 60_000, "backfill_files": 5, "keys": 6_000,
                    "round_rows": 2_000},
            "topic": {"chunk_rows": 4_000, "departments": 1_000, "partitions": 4},
        },
        "batch_queries": {"sf": 0.01},
    },
    "smoke": {
        "streaming": {
            "cdc": {"backfill_rows": 4_000, "backfill_files": 2, "keys": 500,
                    "round_rows": 200},
            "topic": {"chunk_rows": 1_000, "departments": 50, "partitions": 2},
        },
        "batch_queries": {"sf": 0.001},
    },
}

END_TO_END_UNITS = {"setup_s": "s", "latency_p50_s": "s", "rows_per_s": "rows/s"}


def per_layer_units() -> dict[str, str]:
    """Every per-layer metric with its unit; a traced run of any
    workload reports all of them (0 for a layer it never calls)."""
    from workloads import CURATION, OLAP, QUERY_METRICS

    units = {
        "session.start_s": "s", "setup.warm_s": "s",
        "pipeline.apply_s": "s", "pipeline.read_s": "s",
        "pipeline.apply.addBatch_ms": "ms", "pipeline.apply.fixed_ms": "ms",
        "pipeline.apply.batches_per_round": "count",
        "pipeline.files_per_round": "count", "cdc.log_rows": "rows",
        "cdc.read_shuffle_bytes": "bytes", "cdc.visible_tail_s": "s",
        "cdc.visible_tail_pct": "%",
        "spark.jobs_per_round": "count", "spark.tasks_per_round": "count",
        "embedded_kafka.publish_s": "s", "embedded_kafka.publish.jobs": "count",
        "embedded_kafka.publish_rows_per_s": "rows/s",
        "consumer.trigger_ms": "ms", "consumer.addBatch_ms": "ms",
        "consumer.batches": "count", "consumer.rows_per_s": "rows/s",
        "stateful.state_rows": "rows", "stateful.state_memory_bytes": "bytes",
        "kafka_io.decode_null_rows": "rows",
        "batch.olap_pass_s": "s", "batch.curation_pass_s": "s",
        "cache.live_after": "count", "process.peak_rss_mb": "MB",
        "trace.latency_p50_s": "s", "trace.bookkeeping_share": "ratio",
    }
    q_units = {"build_s": "s", "exec_s": "s", "jobs": "count", "tasks": "count",
               "cpu_s": "s", "gc_s": "s", "shuffle_bytes": "bytes",
               "busiest_task_share": "ratio"}
    for name in OLAP + CURATION:
        for m in QUERY_METRICS:
            units[f"query.{name}.{m}"] = q_units[m]
    return units


class Ctx:
    """What a workload needs from the run: session, seed, temp dir
    and the tracer (``untraced`` is a disabled one, for warm-up)."""

    def __init__(self, spark, seed: int, tmp: str, tracer, untraced) -> None:
        self.spark = spark
        self.seed = seed
        self.tmp = tmp
        self.tracer = tracer
        self.untraced = untraced


def isolate(tmp: str) -> None:
    """Point every place the engine and Spark write to under ``tmp``,
    and give Python workers the package on PYTHONPATH. Must run before
    the JVM starts."""
    for sub in ("indexes", "local", "tmp"):
        os.makedirs(os.path.join(tmp, sub), exist_ok=True)
    os.environ["SPARK_GRAFT_INDEX_DIR"] = os.path.join(tmp, "indexes")
    os.environ["SPARK_GRAFT_LOCAL_DIR"] = os.path.join(tmp, "local")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(tmp, "local")
    os.environ["TMPDIR"] = os.path.join(tmp, "tmp")
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
    heap = os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "2g")
    # the heap starts at its full size: a heap still growing after the
    # warm-up makes the first timed operations pay for its collections.
    # The JIT stops at its first tier (C1): with the optimising tier,
    # its compiler threads compete with the task threads for tens of
    # seconds and a topic cycle still ran ~45% slower on its 1st than
    # on its 10th repeat; with C1 alone the steady speed arrives within
    # the warm-up (~10%), and set-up is ~25% shorter
    os.environ["SPARK_GRAFT_DRIVER_JAVA_OPTS"] = (
        os.environ.get("SPARK_GRAFT_DRIVER_JAVA_OPTS", "")
        + f" -Xms{heap} -XX:TieredStopAtLevel=1"
        + f" -Djava.io.tmpdir={os.path.join(tmp, 'tmp')}"
        + f" -Dderby.system.home={os.path.join(tmp, 'tmp')}"
    ).strip()
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["PYSPARK_PYTHON"] = sys.executable


def vm_hwm_mb(pid: int | str) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies of all CPUs since boot, from /proc/stat."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    return fields[7], sum(fields)


def environment(seed: int, sizes: dict) -> dict:
    import pyspark

    try:
        java = subprocess.run(["java", "-version"], capture_output=True, text=True,
                              timeout=30).stderr.splitlines()[0]
    except (OSError, subprocess.SubprocessError, IndexError):
        java = "unknown"
    try:
        commit = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT,
                                capture_output=True, text=True,
                                timeout=30).stdout.strip() or "unknown"
    except (OSError, subprocess.SubprocessError):
        commit = "unknown"
    return {
        "nproc": len(os.sched_getaffinity(0)),
        "SPARK_GRAFT_CPUS": os.environ["SPARK_GRAFT_CPUS"],
        "jvm_heap": os.environ["SPARK_GRAFT_DRIVER_MEM"],
        "pyspark": pyspark.__version__,
        "python": platform.python_version(),
        "java": java,
        "seed": seed,
        "git_commit": commit,
        "sizes": sizes,
    }


def stop_spark(spark) -> None:
    """Stop the session, then close the JVM's stdin (the gateway exits
    on EOF) and wait for the JVM process to end."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    spark.stop()
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)


def run(args) -> dict:
    from tracing import Tracer
    from workloads import WORKLOADS, Tally

    sizes = SIZES[args.scale][args.workload]
    base = os.path.join(os.getcwd(), ".perfbench")
    tmp = os.path.join(base, f"tmp-{os.getpid()}")
    os.makedirs(tmp)
    isolate(tmp)
    env = environment(args.seed, sizes)
    spark = None
    cwd = os.getcwd()
    os.chdir(tmp)  # Spark's warehouse and metastore land in the temp dir
    try:
        t0 = time.perf_counter()
        from cdc_kafka_project_spark.session import get_spark

        spark = get_spark(f"perfbench-{args.workload}")
        spark.sparkContext.setLogLevel("ERROR")
        spark.range(1).collect()
        session_s = time.perf_counter() - t0

        untraced = Tracer(None)
        tracer = Tracer(spark) if args.trace else untraced
        tally = Tally()
        wl = WORKLOADS[args.workload](Ctx(spark, args.seed, tmp, tracer, untraced), sizes, tally)
        t1 = time.perf_counter()
        wl.setup()
        warm_s = time.perf_counter() - t1 - wl.check_s
        steal0, total0 = cpu_ticks()
        wl.run(args.seconds)
        steal1, total1 = cpu_ticks()

        gw_proc = getattr(spark.sparkContext._gateway, "proc", None)
        rss = vm_hwm_mb("self") + (vm_hwm_mb(gw_proc.pid) if gw_proc else 0.0)
        e2e = {"setup_s": session_s + warm_s, **wl.end_to_end()}
        report = {"workload": args.workload, "environment": env,
                  "session_s": session_s, "warm_s": warm_s,
                  # CPU time the hypervisor gave to other guests while
                  # the operations ran: a slow run on a shared host shows here
                  "host_steal_share": (steal1 - steal0) / max(1, total1 - total0),
                  **wl.report(),
                  "peak_rss_mb": rss,
                  "failed_share": tally.failed / max(1, tally.attempted),
                  "errors": tally.errors}
        if args.trace:
            layers = {k: 0 for k in per_layer_units()}
            layers.update({"session.start_s": session_s,
                           "setup.warm_s": warm_s,
                           "process.peak_rss_mb": rss,
                           "trace.latency_p50_s": e2e["latency_p50_s"],
                           "trace.bookkeeping_share":
                               tracer.bookkeeping_s / sum(wl.op_s) if wl.op_s else 0})
            layers.update(wl.layers(tracer))
            spans = os.path.join(base, f"spans-{args.workload}-{args.seed}.jsonl")
            tracer.dump(spans)
            report["spans"] = os.path.relpath(spans, cwd)
            units, values = per_layer_units(), layers
        else:
            units, values = END_TO_END_UNITS, e2e
        return {
            "report": report,
            "result": {
                "correct": tally.failed == 0,
                "attempted": tally.attempted,
                "failed": tally.failed,
                "metrics": {k: {"value": float(values[k]), "unit": u}
                            for k, u in units.items()},
            },
        }
    finally:
        if spark is not None:
            stop_spark(spark)
        os.chdir(cwd)
        shutil.rmtree(tmp, ignore_errors=True)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=tuple(SIZES["full"]))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", choices=tuple(SIZES), default="full")
    args = ap.parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"perfbench: package {PACKAGE!r} not found next to {HERE}; "
              "run from a checkout of the repository", file=sys.stderr)
        return 2
    sys.path[:0] = [HERE, ROOT]
    out = run(args)
    print(json.dumps(out["report"], default=str))
    print(json.dumps(out["result"]))
    return 0


if __name__ == "__main__":
    sys.exit(main())
