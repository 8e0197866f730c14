"""Tests of the benchmark itself.

    python3 -m pytest perfbench -q

The determinism tests are fast. The smoke tests run every workload at
the small ``--scale smoke`` sizes, untraced and traced, each in its own
process with its own Spark session (about a minute each).
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import gen  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    SPEC = json.load(f)
WORKLOADS = [w["name"] for w in SPEC["workloads"]]


def test_cdc_generator_is_seeded():
    a, b, c = gen.CdcGenerator(7, 300), gen.CdcGenerator(7, 300), gen.CdcGenerator(8, 300)
    for _ in range(3):
        ta, tb, tc = a.batch(500), b.batch(500), c.batch(500)
        assert ta.equals(tb)
        assert not ta.equals(tc)
    assert a.replica == b.replica and a.replica_digest() == b.replica_digest()
    assert a.dlq_digest() == b.dlq_digest()
    assert a.replica_digest() != c.replica_digest()


def test_cdc_model_follows_last_writer_wins():
    g = gen.CdcGenerator(3, 50)
    t = g.batch(4000).to_pylist()
    assert [r["seq"] for r in t] == list(range(4000))
    replica, dlq = {}, 0
    for r in t:
        invalid = (r["dob"].year <= 2007 or r["salary"] <= 100 or r["emp_id"] < 0)
        if invalid:
            dlq += 1
        elif r["action"] == "delete":
            replica.pop(r["emp_id"], None)
        else:
            replica[r["emp_id"]] = r["seq"]
    assert sorted(replica) == sorted(g.replica)
    assert dlq == g.dlq_rows
    assert 0.05 < dlq / 4000 < 0.15


def test_salary_generator_is_seeded():
    a, b = gen.SalaryGenerator(5, 100), gen.SalaryGenerator(5, 100)
    assert a.chunk(2000).equals(b.chunk(2000))
    assert a.totals == b.totals and a.corrupt == b.corrupt
    other = gen.SalaryGenerator(6, 100)
    assert not other.chunk(2000).equals(gen.SalaryGenerator(5, 100).chunk(2000))


def test_salary_model_skips_corrupt_messages():
    g = gen.SalaryGenerator(1, 20, corrupt_share=0.2)
    rows = g.chunk(1000).to_pylist()
    want: dict[str, int] = {}
    for r in rows:
        if not r["corrupt"]:
            want[r["department"]] = want.get(r["department"], 0) + r["salary_cents"] // 100
    assert want == g.totals
    assert g.corrupt == sum(r["corrupt"] for r in rows) > 0


def test_batch_tables_are_seeded():
    a, b, c = gen.make_tables(4, 0.001), gen.make_tables(4, 0.001), gen.make_tables(5, 0.001)
    assert a.keys() == b.keys() == set(gen.table_sizes(0.001))
    assert all(a[t].equals(b[t]) for t in a)
    assert not a["lineitem"].equals(c["lineitem"])


def _run(args, cwd=ROOT, timeout=600):
    return subprocess.run(
        [sys.executable, os.path.join("perfbench", "run.py"), *args],
        cwd=cwd, capture_output=True, text=True, timeout=timeout,
    )


def test_refuses_to_run_without_the_package(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    p = _run(["--workload", WORKLOADS[0], "--seed", "1", "--seconds", "1",
              "--trace", "0"], cwd=tmp_path, timeout=120)
    assert p.returncode != 0
    assert '"metrics"' not in p.stdout


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", WORKLOADS)
def test_smoke_run_emits_every_metric(workload, trace):
    p = _run(["--workload", workload, "--seed", "3", "--seconds", "2",
              "--trace", str(trace), "--scale", "smoke"])
    assert p.returncode == 0, p.stderr[-3000:]
    lines = p.stdout.strip().splitlines()
    result = json.loads(lines[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    report = json.loads(lines[-2])
    assert result["correct"] is True and result["failed"] == 0, report["errors"]
    assert result["attempted"] >= 1
    spec = SPEC["per_layer" if trace else "end_to_end"]
    assert {m["name"]: m["unit"] for m in spec} == {
        k: v["unit"] for k, v in result["metrics"].items()
    }
    assert all(isinstance(v["value"], float) for v in result["metrics"].values())
    if not trace:
        assert all(v["value"] > 0 for v in result["metrics"].values())
    assert report["environment"]["seed"] == 3
