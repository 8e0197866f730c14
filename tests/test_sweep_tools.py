"""Pins for the replica-sweep tooling's self-healing chunk runner
(tools/check_correctness.py::chunk_sweep, r12).

Why this exists: at the 100x replica a chunk JVM 26 queries deep died
on dedup_simhash_pairs — which PASSES standalone in a fresh JVM — and
took 14 innocent unreported names down with it (r11 healed the same
shape with manual "fill runs"). The retry pass re-runs every FAILed or
unreported name once in its own fresh child; only a name failing BOTH
times counts as a failure. These tests script the child runner so the
retry semantics are pinned without spawning JVMs.
"""

from __future__ import annotations

import importlib.util
import os

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


@pytest.fixture(scope="module")
def chunk_sweep():
    spec = importlib.util.spec_from_file_location(
        "check_correctness", os.path.join(ROOT, "tools", "check_correctness.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod.chunk_sweep


def test_all_green_no_retry(chunk_sweep):
    calls = []

    def run(batch, retry=False):
        calls.append(list(batch))
        return {n: "pass" for n in batch}

    final, retried = chunk_sweep(["a", "b", "c", "d"], 2, run)
    assert final == {n: "pass" for n in "abcd"}
    assert retried == []
    assert calls == [["a", "b"], ["c", "d"]]


def test_jvm_death_heals_unreported_names(chunk_sweep):
    """Chunk dies after its first name: the dead name and the
    unreported tail each get one standalone re-run; a standalone pass
    clears them."""
    calls = []

    def run(batch, retry=False):
        calls.append(list(batch))
        if batch == ["a", "b", "c"]:
            return {"a": "pass"}  # died before b and c
        return {n: "pass" for n in batch}

    final, retried = chunk_sweep(["a", "b", "c"], 3, run)
    assert final == {"a": "pass", "b": "pass", "c": "pass"}
    assert retried == ["b", "c"]
    assert calls == [["a", "b", "c"], ["b"], ["c"]]


def test_chunk_exc_fail_heals_on_standalone_pass(chunk_sweep):
    """The observed 100x shape: a name OOMs/raises inside an
    accumulated chunk but passes alone — the standalone verdict wins.
    Only EXCEPTION-type FAILs are eligible for this heal."""

    def run(batch, retry=False):
        if len(batch) > 1:
            return {"a": "pass", "b": "fail-exc"}
        return {"b": "pass"}

    final, retried = chunk_sweep(["a", "b"], 2, run)
    assert final == {"a": "pass", "b": "pass"}
    assert retried == ["b"]


def test_mismatch_fail_never_retried(chunk_sweep):
    """r12 advisor (medium): a deterministic oracle value/columns/
    rowcount mismatch must not be greenlit by one lucky re-run — it is
    never retried and always fails the sweep, even if a standalone
    run WOULD pass (the scripted child here would return pass)."""
    calls = []

    def run(batch, retry=False):
        calls.append(list(batch))
        if len(batch) > 1:
            return {"a": "pass", "b": "fail-mismatch"}
        return {"b": "pass"}  # a lucky re-run — must never happen

    final, retried = chunk_sweep(["a", "b"], 2, run)
    assert final == {"a": "pass", "b": "fail-mismatch"}
    assert retried == []
    assert calls == [["a", "b"]]  # no standalone re-run issued


def test_double_fail_stays_failed(chunk_sweep):
    def run(batch, retry=False):
        return {n: ("fail-exc" if n == "b" else "pass") for n in batch}

    final, retried = chunk_sweep(["a", "b"], 2, run)
    assert final == {"a": "pass", "b": "fail-exc"}
    assert retried == ["b"]


def test_retry_pass_flag_reaches_run_batch(chunk_sweep):
    """The retry pass invokes run_batch with retry=True so the child's
    verdict echoes get the 'RETRY ' prefix (r12 advisor, low: no
    double-counting of per-name verdict lines)."""
    seen = []

    def run(batch, retry=False):
        seen.append((list(batch), retry))
        if not retry:
            return {"a": "pass", "b": "fail-exc"}
        return {"b": "pass"}

    final, retried = chunk_sweep(["a", "b"], 2, run)
    assert final == {"a": "pass", "b": "pass"}
    assert seen == [(["a", "b"], False), (["b"], True)]


def test_standalone_death_is_failure(chunk_sweep):
    """A name whose own fresh JVM dies is a real resource defect."""

    def run(batch, retry=False):
        if batch == ["a", "b"]:
            return {"a": "pass"}  # died on b
        return {}  # standalone b dies too

    final, retried = chunk_sweep(["a", "b"], 2, run)
    assert final == {"a": "pass", "b": "fail-exc"}
    assert retried == ["b"]


def test_rows_only_names_never_retried(chunk_sweep):
    calls = []

    def run(batch, retry=False):
        calls.append(list(batch))
        return {n: ("rows" if n == "b" else "pass") for n in batch}

    final, retried = chunk_sweep(["a", "b"], 2, run)
    assert final == {"a": "pass", "b": "rows"}
    assert retried == []
    assert calls == [["a", "b"]]


def test_fail_line_classification():
    """The chunk-mode parser maps child FAIL lines to the verdict
    kinds chunk_sweep keys its heal decision on — via the STRUCTURED
    token the child emits (r13 advisor: free-text scanning
    misclassified mismatches whose embedded row data contained
    ' raised '). Tests the real classify_fail_line, not a replica."""
    spec = importlib.util.spec_from_file_location(
        "check_correctness", os.path.join(ROOT, "tools", "check_correctness.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    classify = mod.classify_fail_line

    # structured tokens win unconditionally
    assert classify("FAIL-EXC  x: spark raised OutOfMemoryError") == "fail-exc"
    assert classify("FAIL-EXC  x: duckdb raised IOException: temp") == "fail-exc"
    assert classify("FAIL-MISMATCH  x: rowcount 10 != 11") == "fail-mismatch"
    assert classify("FAIL-MISMATCH  x: columns ['a'] != ['b']") == "fail-mismatch"
    # THE advisor scenario: a value mismatch whose document payload
    # contains ' raised ' must stay a mismatch (never retry-eligible)
    assert classify(
        "FAIL-MISMATCH  x: values differ; first diffs: "
        "[('the fund raised 10M', 'the fund raised 11M')]"
    ) == "fail-mismatch"
    # legacy plain-FAIL lines (mixed-version children) keep the old scan
    assert classify("FAIL  x: spark raised Py4JJavaError: boom") == "fail-exc"
    assert classify("FAIL  x: chunk JVM died standalone") == "fail-exc"
    assert classify("FAIL  x: values differ; first diffs: [..]") == "fail-mismatch"


def test_gclocker_retry_budget_reaches_the_jvm(spark):
    """r12 hardening pin: at the 100x replica, serving JVMs died on
    GCLocker retry exhaustion (humongous sort-array allocations vs
    Arrow JNI critical sections across 32 task threads). get_spark
    must keep raising the retry budget — and since the option only
    matters at JVM launch, assert it actually reached the live JVM's
    command line, not just the conf. r13 extensions: the EXECUTOR
    option twin must carry the same hardening (silently missing on a
    real cluster before — r12 verdict item 4), and the ignore flag
    must LEAD so JDKs that dropped the GCLocker still launch."""
    for key in ("spark.driver.extraJavaOptions",
                "spark.executor.extraJavaOptions"):
        opts = spark.conf.get(key, "")
        assert "GCLockerRetryAllocationCount" in opts, key
        assert "-XX:+UnlockDiagnosticVMOptions" in opts, key
        # the ignore flag must come BEFORE the diagnostic flags it guards
        assert opts.index("-XX:+IgnoreUnrecognizedVMOptions") < opts.index(
            "GCLockerRetryAllocationCount"
        ), key
    pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    cmdline = open(f"/proc/{pid}/cmdline", "rb").read().decode().split("\0")
    assert any("GCLockerRetryAllocationCount" in c for c in cmdline)
    assert any("IgnoreUnrecognizedVMOptions" in c for c in cmdline)


def test_java_opts_env_appends_not_replaces(monkeypatch):
    """r12 advisor (low): SPARK_GRAFT_*_JAVA_OPTS used to REPLACE the
    hardening defaults; it must append so user extras never silently
    drop the GCLocker retry budget."""
    from cdc_kafka_project_spark import session as sess

    monkeypatch.delenv("SPARK_GRAFT_DRIVER_JAVA_OPTS", raising=False)
    base = sess._java_opts("SPARK_GRAFT_DRIVER_JAVA_OPTS")
    assert base == sess.HARDENING_JAVA_OPTS

    monkeypatch.setenv("SPARK_GRAFT_DRIVER_JAVA_OPTS", "-Xss8m")
    merged = sess._java_opts("SPARK_GRAFT_DRIVER_JAVA_OPTS")
    assert merged.startswith(sess.HARDENING_JAVA_OPTS)
    assert merged.endswith(" -Xss8m")


def test_malformed_shuffle_partitions_env_names_the_var(monkeypatch):
    """r13 advisor (low): a malformed SPARK_GRAFT_SHUFFLE_PARTITIONS
    used to crash get_spark() with a bare int() ValueError that never
    named the env var; it must raise a message that does (so the
    operator knows WHICH knob to fix), and whitespace-padded integers
    must parse."""
    from cdc_kafka_project_spark import session as sess

    monkeypatch.setenv("SPARK_GRAFT_SHUFFLE_PARTITIONS", "256g")
    with pytest.raises(ValueError, match="SPARK_GRAFT_SHUFFLE_PARTITIONS"):
        sess.get_spark()
    # whitespace-padded values are valid (strip before parse); prove it
    # parses without reaching the builder by checking no exception is
    # raised before an existing session is reused.
    monkeypatch.setenv("SPARK_GRAFT_SHUFFLE_PARTITIONS", " 64 ")
    sess.get_spark()  # reuses the test session; the parse must not raise


def test_rotation_stale_check_scans_full_window(rotation_mod):
    """r13 advisor (low): the stale-by-one-round disambiguation only
    tried fronted-prefix sizes 0..10; it must scan every size below the
    full WINDOW so a round that fronted >10 names is still recognized.
    k = WINDOW itself is excluded: an all-fronted prefix matches any
    window, which made every mismatch read as stale-by-one."""
    import inspect

    src = inspect.getsource(rotation_mod.main)
    assert "range(0, WINDOW)" in src
    assert "range(0, WINDOW + 1)" not in src
    assert "range(0, 11)" not in src


def test_rotation_bare_check_passes_on_committed_window(
    rotation_mod, monkeypatch, capsys
):
    """``--check`` without ``--changed`` must accept the committed
    window: it reads the fronted names from the ``# changed-this-round``
    tags in registry.py. The history is truncated at r16 (the round the
    committed window was computed from), like the pin below."""
    newest_rows = rotation_mod.newest_rows
    monkeypatch.setattr(
        rotation_mod, "newest_rows",
        lambda upto=None: newest_rows(16 if upto is None else min(upto, 16)),
    )
    monkeypatch.setattr(rotation_mod, "latest_round", lambda: 16)
    monkeypatch.setattr("sys.argv", ["plan_gate_rotation.py", "--check"])
    assert rotation_mod.main() == 0, capsys.readouterr().out


@pytest.fixture(scope="module")
def rotation_mod():
    spec = importlib.util.spec_from_file_location(
        "plan_gate_rotation", os.path.join(ROOT, "tools", "plan_gate_rotation.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_rotation_standing_rules(rotation_mod, monkeypatch):
    """Changed names front; then oracle-backed by (staleness, name);
    no-oracle names after every oracle-backed name."""
    monkeypatch.setattr(
        rotation_mod, "newest_rows",
        lambda upto=None: {"a": 7, "b": 6, "c": 6, "d": 11, "e": 6},
    )
    import cdc_kafka_project_spark.registry as reg
    monkeypatch.setattr(reg, "all_queries",
                        lambda: {n: None for n in "abcdef"})
    monkeypatch.setattr(reg, "ORACLES",
                        {n: "SELECT 1" for n in "abcd"})  # e,f rows-only
    ordered = [n for n, _ in rotation_mod.plan(changed=["d"])]
    # d fronted; b,c (r6) before a (r7); e (r6) and f (never) are
    # no-oracle so they sort after EVERY oracle-backed name, f (round
    # 0) before e within the no-oracle tier
    assert ordered == ["d", "b", "c", "a", "f", "e"]


def test_rotation_changed_no_oracle_stays_in_tail(rotation_mod, monkeypatch):
    """r12 advisor (low): a changed name WITHOUT an oracle must not
    front the window (pinned rule 3 dominates rule 1) — it heads the
    no-oracle tier instead."""
    monkeypatch.setattr(
        rotation_mod, "newest_rows",
        lambda upto=None: {"a": 7, "b": 6, "c": 6, "d": 11, "e": 6},
    )
    import cdc_kafka_project_spark.registry as reg
    monkeypatch.setattr(reg, "all_queries",
                        lambda: {n: None for n in "abcdef"})
    monkeypatch.setattr(reg, "ORACLES",
                        {n: "SELECT 1" for n in "abcd"})  # e,f rows-only
    # e changed but has no oracle: every oracle-backed name still
    # precedes it, and it heads the no-oracle tier (before f)
    ordered = [n for n, _ in rotation_mod.plan(changed=["d", "e"])]
    assert ordered == ["d", "b", "c", "a", "e", "f"]


def test_rotation_reproduces_committed_window(rotation_mod):
    """The committed r17 _GATE_PRIORITY[:50] must equal the rotation
    computed from the CORRECTNESS history truncated at r16 with the
    FIFTEEN changed names fronted — every registered name that reaches
    an operator whose internals changed (the one banded candidate join
    behind MinHash, SimHash, pHash and embedding-LSH pairs; the MinHash
    band hash, estimator and index sign-and-write; the shared
    word-shingle expression; the dedup queries' fixture and digest
    helpers). Pins tool and window to each other; the ``upto``
    truncation makes the pin permanent after CORRECTNESS_r17.json
    lands."""
    from cdc_kafka_project_spark.registry import _GATE_PRIORITY

    ordered = [n for n, _ in rotation_mod.plan(
        changed=["dedup_minhash_lsh", "dedup_simhash_pairs",
                 "media_phash_dup_pairs", "similarity_near_dup",
                 "dedup_minhash_index_probe", "doc_decontaminate",
                 "doc_contamination_hits", "curation_pipeline",
                 "dedup_ngram_jaccard", "dedup_near_keep",
                 "dedup_components", "doc_ngram_novelty",
                 "vocab_growth_curve", "doc_boilerplate_fraction",
                 "dedup_levenshtein_verify"],
        upto=16)]
    assert ordered[:50] == _GATE_PRIORITY[:50]


def test_probe_with_no_staged_names_skips_staged_checker(tmp_path, monkeypatch):
    """r13 advisor (low): in --probe mode an empty staged subset must
    SKIP check_staged_oracles — invoking it with no name args would
    fall back to running ALL staged oracles (the heaviest queries) at
    the probed scale, the opposite of a restricted probe."""
    import sys

    spec = importlib.util.spec_from_file_location(
        "run_scale_sweep", os.path.join(ROOT, "tools", "run_scale_sweep.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)

    calls = []
    monkeypatch.setattr(mod, "_run", lambda cmd, log, env=None:
                        calls.append(cmd) or 0)
    log = tmp_path / "probe.log"
    monkeypatch.setattr(sys, "argv", [
        "run_scale_sweep.py", "spark-warehouse/scale/sf1.0",
        "--probe", "doc_span_dedup,dedup_minhash_lsh",
        "--log", str(log),
    ])
    assert mod.main() == 0
    tools = [c[1] for c in calls]
    assert "tools/check_correctness.py" in tools
    assert "tools/check_staged_oracles.py" not in tools

    # and the symmetric case: staged-only probe skips the digest tier
    calls.clear()
    monkeypatch.setattr(sys, "argv", [
        "run_scale_sweep.py", "spark-warehouse/scale/sf1.0",
        "--probe", "dedup_near_keep", "--log", str(log),
    ])
    assert mod.main() == 0
    tools = [c[1] for c in calls]
    assert tools == ["tools/check_staged_oracles.py"]


@pytest.fixture(scope="module")
def evidence_mod():
    spec = importlib.util.spec_from_file_location(
        "scale_evidence", os.path.join(ROOT, "tools", "scale_evidence.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_evidence_parses_pass_lines_and_tiers(evidence_mod, tmp_path):
    log = tmp_path / "SWEEP_x.log"
    log.write_text(
        "# scale sweep @ spark-warehouse/scale/sf10.0 (factor 100x), ts\n"
        "PASS  alpha_q: 10 rows [1.0s]\n"
        "PASS  beta_q: 10 rows (digest: count + 2000-row prefix) [1.0s]\n"
        "PASS  gamma_q[staged]: 10 rows [spark 1s, total 2s]\n"
        "RETRY-SCALE-ENV PASS  delta_q: 5 rows (digest: count) [9s]\n"
        "FAIL  omega_q: mismatch\n"
    )
    factor, tiers = evidence_mod.parse_log(str(log))
    assert factor == 100.0
    assert tiers == {
        "alpha_q": "hash", "beta_q": "digest",
        "gamma_q": "staged", "delta_q": "digest",
    }


def test_evidence_parses_accounting_block_with_count_check(
    evidence_mod, tmp_path
):
    # the r13 1000x log shape: chunk output trimmed, passes recorded in
    # the FINAL-ACCOUNTING comment with cross-line parentheticals
    log = tmp_path / "SWEEP_y.log"
    log.write_text(
        "# scale sweep @ spark-warehouse/scale/sf100.0 (factor 1000x), t\n"
        "# digest PASS (3): alpha_q, beta_q (100M\n"
        "#   rows), gamma_q (healed standalone -- chunk-JVM\n"
        "#   accumulation).\n"
        "# excluded, pinned (1): something_else\n"
        "# staged PASS (2): bad_count_block_only_one_name\n"
        "# end\n"
    )
    factor, tiers = evidence_mod.parse_log(str(log))
    assert factor == 1000.0
    # count-validated block lands; miscounted block is DROPPED
    assert tiers == {
        "alpha_q": "digest", "beta_q": "digest", "gamma_q": "digest",
    }


def test_evidence_explicit_line_beats_accounting_block(
    evidence_mod, tmp_path
):
    log = tmp_path / "SWEEP_z.log"
    log.write_text(
        "# scale sweep @ x (factor 1000x), t\n"
        "PASS  alpha_q: 10 rows [1.0s]\n"
        "# digest PASS (1): alpha_q\n"
    )
    _, tiers = evidence_mod.parse_log(str(log))
    assert tiers == {"alpha_q": "hash"}


def test_evidence_non_sweep_file_is_skipped(evidence_mod, tmp_path):
    log = tmp_path / "SWEEP_notes.log"
    log.write_text("# some notes\nPASS  alpha_q: 1 rows [1s]\n")
    assert evidence_mod.parse_log(str(log)) is None


def test_evidence_regenerates_committed_scale_evidence(evidence_mod):
    """SCALE_EVIDENCE.md is generated from the committed SWEEP_*.log
    files (plus CORRECTNESS_r*.json): regenerating it must reproduce the
    committed file, trailing whitespace aside, so deleting a sweep log —
    the evidence itself — fails here instead of silently shrinking the
    matrix."""
    with open(os.path.join(ROOT, "SCALE_EVIDENCE.md")) as f:
        committed = f.read()

    def lines(text):
        return [ln.rstrip() for ln in text.rstrip().splitlines()]

    got = evidence_mod.render(evidence_mod.collect())
    assert lines(got) == lines(committed)


# ---------------------------------------------------------------------------
# bench.py tail rotation (r15 verdict item 4)
# ---------------------------------------------------------------------------


@pytest.fixture(scope="module")
def bench_mod():
    # bench.py imports the registry at module level, which is cheap
    # (no SparkSession is created until main())
    spec = importlib.util.spec_from_file_location(
        "bench_under_test", os.path.join(ROOT, "bench.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def _write_history(path, entries):
    import json

    with open(path, "w") as f:
        for e in entries:
            f.write(json.dumps(e) + "\n")


def test_tail_rotation_never_promoted_first(bench_mod, tmp_path,
                                            monkeypatch):
    """Staleness-fronted: names never promoted come first
    (alphabetical), then the least recently promoted."""
    hist = tmp_path / "BENCH_HISTORY.jsonl"
    _write_history(hist, [
        {"sf": 0.1, "rotated_tail": ["b", "d"]},
        {"sf": 0.1, "rotated_tail": ["a"]},
    ])
    monkeypatch.setattr(bench_mod, "HISTORY", str(hist))
    got = bench_mod._tail_promotion(["a", "b", "c", "d", "e"], 0.1, k=3)
    # c,e never promoted -> first; then b,d (entry 1) before a (entry 2)
    assert got == ["c", "e", "b"]


def test_tail_rotation_ignores_other_sf(bench_mod, tmp_path, monkeypatch):
    """Local sf0.01 runs must not advance the sf0.1 rotation."""
    hist = tmp_path / "BENCH_HISTORY.jsonl"
    _write_history(hist, [{"sf": 0.01, "rotated_tail": ["a", "b"]}])
    monkeypatch.setattr(bench_mod, "HISTORY", str(hist))
    got = bench_mod._tail_promotion(["a", "b", "c"], 0.1, k=2)
    assert got == ["a", "b"]  # alphabetical: nothing promoted at sf0.1


def test_tail_rotation_covers_all_names_in_ceil_rounds(bench_mod,
                                                       tmp_path,
                                                       monkeypatch):
    """Simulated successive runs promote every tail name within
    ceil(|tail|/k) rounds — the every-~6-rounds coverage guarantee."""
    import json as _json
    import math

    names = [f"q{i:03d}" for i in range(47)]
    k = 10
    hist = tmp_path / "BENCH_HISTORY.jsonl"
    hist.write_text("")
    monkeypatch.setattr(bench_mod, "HISTORY", str(hist))
    seen = set()
    rounds = math.ceil(len(names) / k)
    for _ in range(rounds):
        got = bench_mod._tail_promotion(names, 0.1, k=k)
        assert len(got) == k
        seen.update(got)
        with open(hist, "a") as f:
            f.write(_json.dumps({"sf": 0.1, "rotated_tail": got}) + "\n")
    assert seen == set(names)
