"""Dedup semantics on synthesized corpora with known duplicates."""

import pytest
from pyspark.sql import functions as F

from cdc_kafka_project_spark.operators import dedup as dd

DOC_SCHEMA = "doc_id long, text string"


def _shingles(text: str, n: int = 3) -> set[str]:
    ws = text.split()
    return {" ".join(ws[i : i + n]) for i in range(len(ws) - n + 1)}


def _jaccard(a: str, b: str) -> float:
    sa, sb = _shingles(a), _shingles(b)
    return len(sa & sb) / len(sa | sb)


BASE = "the quick brown fox jumps over the lazy dog near the river bank today"
NEAR = "the quick brown fox jumps over the lazy cat near the river bank today"
OTHER = "completely different content about spark engines and columnar formats"


@pytest.fixture()
def docs(spark):
    rows = [
        (0, BASE),
        (1, BASE),  # exact dup of 0
        (2, NEAR),  # near dup of 0/1
        (3, OTHER),
        (4, "  " + BASE + "  "),  # exact after trim
    ]
    return spark.createDataFrame(rows, DOC_SCHEMA)


def test_exact_dedup_keeps_min_doc_id(docs):
    kept = {r.doc_id for r in dd.exact_dedup(docs).collect()}
    assert kept == {0, 2, 3}


def test_exact_groups_count_duplicates(docs):
    groups = {r.keep_doc_id: r.n_dups for r in dd.exact_dedup_groups(docs).collect()}
    assert groups[0] == 3  # 0, 1, 4
    assert groups[2] == 1 and groups[3] == 1


def test_word_shingles_match_python_reference(spark):
    df = spark.createDataFrame([(0, BASE)], DOC_SCHEMA)
    got = {r.shingle for r in dd.word_shingles(df, n=3).collect()}
    assert got == _shingles(BASE, 3)


def test_short_docs_produce_no_shingles(spark):
    df = spark.createDataFrame([(0, "one two"), (1, ""), (2, "a b c")], DOC_SCHEMA)
    got = dd.word_shingles(df, n=3).collect()
    assert {r.doc_id for r in got} == {2}


def test_jaccard_pairs_exact_values(docs):
    pairs = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in dd.jaccard_pairs(docs, threshold=0.1).collect()
    }
    # exact dups: jaccard 1.0 in every combination of {0,1,4}
    assert pairs[(0, 1)] == pytest.approx(1.0)
    assert pairs[(0, 4)] == pytest.approx(1.0)
    assert pairs[(1, 4)] == pytest.approx(1.0)
    # near dup: matches the python reference computation
    assert pairs[(0, 2)] == pytest.approx(_jaccard(BASE, NEAR))
    # unrelated doc shares nothing
    assert not any(3 in p for p in pairs)


def test_minhash_estimates_track_exact_jaccard(docs):
    sigs = dd.minhash_signatures(docs, n=3, num_perm=64)
    # 32 bands x 2 rows: P(candidate | J=0.6) = 1-(1-0.36)^32 ~ 1-6e-7,
    # so the near-dup pair is a candidate for (essentially) any hash
    # seeding; 16x4 banding sits at ~0.89 and can deterministically miss.
    cand = {
        (r.doc_a, r.doc_b): r.est_jaccard
        for r in dd.minhash_lsh_candidates(sigs, bands=32, rows=2).collect()
    }
    # identical docs -> identical signatures -> est 1.0, always candidates
    assert cand[(0, 1)] == pytest.approx(1.0)
    assert cand[(0, 4)] == pytest.approx(1.0)
    # near dup (true J = 0.6: 12 shingles each, 3 differ) must surface
    assert (0, 2) in cand
    assert cand[(0, 2)] == pytest.approx(_jaccard(BASE, NEAR), abs=0.25)


@pytest.mark.parametrize("bands,rows", [(16, 4), (32, 2)])
def test_self_join_band_keys_match_stored_index_bands(docs, bands, rows):
    """Self-join band keys never drift from stored index band keys: the
    candidate pairs of minhash_lsh_candidates equal the pairs found by
    self-joining minhash_band_table (the rows the index stores and the
    probe emits) over the same signatures."""
    sigs = dd.minhash_signatures(docs, n=3, num_perm=64)
    got = {
        (r.doc_a, r.doc_b)
        for r in dd.minhash_lsh_candidates(sigs, bands=bands, rows=rows).collect()
    }
    t = dd.minhash_band_table(sigs, bands=bands, rows=rows)
    a, b = t.alias("a"), t.alias("b")
    want = {
        (r[0], r[1])
        for r in a.join(
            b,
            (F.col("a.band_id") == F.col("b.band_id"))
            & (F.col("a.band_hash") == F.col("b.band_hash"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select("a.doc_id", "b.doc_id")
        .collect()
    }
    assert {(0, 1), (0, 4), (1, 4)} <= got
    assert got == want


def test_minhash_signature_is_deterministic(docs):
    a = dd.minhash_signatures(docs).filter(F.col("doc_id") == 0).collect()[0].sig
    b = dd.minhash_signatures(docs).filter(F.col("doc_id") == 0).collect()[0].sig
    assert a == b and len(a) == 64


def test_simhash_identical_docs_equal_fingerprints(docs):
    fp = {r.doc_id: r.simhash for r in dd.simhash(docs).collect()}
    assert fp[0] == fp[1] == fp[4]
    assert fp[0] != fp[3]


def test_simhash_near_dup_within_hamming(docs):
    fps = dd.simhash(docs)
    pairs = {
        (r.doc_a, r.doc_b): r.hamming
        for r in dd.simhash_hamming_pairs(fps, max_distance=16, bands=4).collect()
    }
    assert pairs[(0, 1)] == 0
    assert (0, 2) in pairs and pairs[(0, 2)] <= 16


def test_connected_components_chain_and_islands(spark):
    """Chain 1-2-3 collapses to component 1; island pair 10-11 to 10;
    bidirectional edges and self-loops must not distort labels."""
    from cdc_kafka_project_spark.operators.dedup import connected_components

    pairs = spark.createDataFrame(
        [(2, 1), (2, 3), (10, 11), (20, 21), (21, 22), (22, 20)],
        "doc_a long, doc_b long",
    )
    got = {
        r.doc_id: r.component
        for r in connected_components(pairs).collect()
    }
    assert got == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10, 20: 20, 21: 20, 22: 20}


def test_connected_components_raises_on_iteration_budget(spark):
    """A chain longer than max_iters cannot converge — the operator
    must fail loudly rather than return partial (wrong) clusters."""
    import pytest

    from cdc_kafka_project_spark.operators.dedup import connected_components

    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(30, 40)], "doc_a long, doc_b long"
    )
    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components(chain, max_iters=2)
    got = {
        r.doc_id: r.component
        for r in connected_components(chain, max_iters=20).collect()
    }
    assert set(got.values()) == {30}


def test_near_dedup_keep_policy(spark):
    """Keep = component representative + never-paired docs; schema
    passes through unchanged."""
    from cdc_kafka_project_spark.operators.dedup import near_dedup_keep

    docs = spark.createDataFrame(
        [(i, f"text {i}") for i in range(1, 8)], "doc_id long, text string"
    )
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (5, 6)], "doc_a long, doc_b long"
    )
    kept = near_dedup_keep(docs, pairs)
    assert kept.columns == ["doc_id", "text"]
    assert sorted(r.doc_id for r in kept.collect()) == [1, 4, 5, 7]


def test_exact_dedup_survives_hash_collisions(spark):
    """exact_dedup groups on the full text value, not a 64-bit hash:
    distinct texts must never merge, identical texts always do."""
    from cdc_kafka_project_spark.operators.dedup import exact_dedup

    df = spark.createDataFrame(
        [(1, "alpha"), (2, "alpha "), (3, "beta"), (4, " alpha")],
        "doc_id long, text string",
    )
    kept = sorted(r.doc_id for r in exact_dedup(df).collect())
    assert kept == [1, 3]  # trims agree on 'alpha'; 'beta' distinct


def test_exact_dedup_null_texts_form_one_group(spark):
    """All-NULL texts are one duplicate group (md5(NULL)=NULL routes
    them together; the run check is null-safe): exactly one survives."""
    from cdc_kafka_project_spark.operators.dedup import exact_dedup

    df = spark.createDataFrame(
        [(1, None), (2, None), (3, "x"), (4, None)],
        "doc_id long, text string",
    )
    kept = sorted(r.doc_id for r in exact_dedup(df).collect())
    assert kept == [1, 3]


def test_decontaminate_removes_exact_ngram_overlap(spark):
    """A train doc sharing a 4-gram with the eval set is flagged with
    the right overlap count and removed; disjoint docs survive."""
    from cdc_kafka_project_spark.operators import dedup as dd

    train = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta epsilon"),   # shares 2 4-grams
            (2, "one two three four five six"),      # disjoint
            (3, "tiny doc"),                         # < n tokens: never flagged
        ],
        "doc_id long, text string",
    )
    ev = spark.createDataFrame(
        [(100, "alpha beta gamma delta epsilon zeta")],
        "doc_id long, text string",
    )
    hits = {r.doc_id: r.n_overlap for r in
            dd.contamination_hits(train, ev, n=4).collect()}
    # doc 1 windows: [alpha..delta], [beta..epsilon] — both in eval
    assert hits == {1: 2}
    clean = sorted(r.doc_id for r in dd.decontaminate(train, ev, n=4).collect())
    assert clean == [2, 3]


def test_near_dedup_keep_no_forced_broadcast(spark):
    """The drop-list anti-join must not force a driver broadcast (a
    data-dependent list can approach corpus size; let AQE choose —
    carried r2 advice). Checked on the optimized logical plan: no
    explicit broadcast hint survives."""
    from cdc_kafka_project_spark.operators.dedup import near_dedup_keep

    df = spark.range(0, 100).withColumnRenamed("id", "doc_id")
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11)], "doc_a long, doc_b long"
    )
    out = near_dedup_keep(df, pairs)
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    assert "ResolvedHint" not in plan and "broadcast" not in plan.lower()
    kept = sorted(r.doc_id for r in out.collect())
    assert 1 in kept and 10 in kept
    assert all(d not in kept for d in (2, 3, 11))


def test_jaccard_max_df_caps_fanout_keeps_recall(spark):
    """Hot-shingle skew cap (r2 advice #4): boilerplate shingles shared
    by every doc are dropped before the self-join — per-key fanout is
    bounded — while true near-dup pairs are still found and no new
    pairs appear."""
    import cdc_kafka_project_spark.operators.dedup as dd

    footer = "generated by the same site footer text here"
    pairs = [
        (2 * i, 2 * i + 1, f"unique subject {i} body words alpha beta gamma delta {i}")
        for i in range(5)
    ]
    rows = []
    for a, b, body in pairs:
        rows.append((a, f"{body} {footer}"))
        rows.append((b, f"{body} extra {footer}"))
    # unrelated docs sharing ONLY the footer
    rows += [
        (100 + i, f"totally different content number {i} {'x%d ' % i * 5} {footer}")
        for i in range(20)
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")

    capped = dd.jaccard_pairs(df, threshold=0.4, max_df=10)
    uncapped = dd.jaccard_pairs(df, threshold=0.4)
    got_capped = {(r.doc_a, r.doc_b) for r in capped.collect()}
    got_uncapped = {(r.doc_a, r.doc_b) for r in uncapped.collect()}
    true_pairs = {(a, b) for a, b, _ in pairs}
    # recall: every true near-dup pair survives the cap
    assert true_pairs <= got_capped
    # precision: the footer-only cross pairs do not appear
    assert all(a < 100 and b < 100 for a, b in got_capped)
    # and capping introduced nothing the exact tier didn't find
    assert got_capped <= got_uncapped
    # the fanout bound itself: no surviving shingle has df > max_df
    sh = dd.word_shingles(df)
    hot = (
        sh.groupBy("shingle")
        .agg(F.count(F.lit(1)).alias("df"))
        .filter(F.col("df") > 10)
    )
    assert hot.count() > 0  # the fixture really has hot shingles


def test_span_dedup_removes_repeated_spans(spark):
    """10-token spans keep only their first corpus occurrence; docs are
    reassembled in order from surviving spans; a doc that is entirely
    repeated material disappears."""
    from cdc_kafka_project_spark.operators.dedup import span_dedup

    boiler = " ".join(f"b{i}" for i in range(10))      # one exact span
    novel_a = " ".join(f"a{i}" for i in range(10))
    novel_c = " ".join(f"c{i}" for i in range(7))       # short tail span
    rows = [
        (1, f"{boiler} {novel_a}"),       # first occurrence: keeps both
        (2, f"{boiler} {novel_c}"),       # boilerplate deduped away
        (3, boiler),                      # nothing left -> absent
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.doc_id: (r.n_spans_kept, r.text_dedup)
           for r in span_dedup(df, span_tokens=10).collect()}
    assert got[1] == (2, f"{boiler} {novel_a}")
    assert got[2] == (1, novel_c)
    assert 3 not in got


def test_span_dedup_within_doc_repetition(spark):
    """A span repeated INSIDE one document also collapses to its first
    occurrence (same global first-occurrence rule)."""
    from cdc_kafka_project_spark.operators.dedup import span_dedup

    s = " ".join(f"w{i}" for i in range(10))
    df = spark.createDataFrame(
        [(1, f"{s} {s}")], "doc_id long, text string"
    )
    got = span_dedup(df, span_tokens=10).collect()[0]
    assert (got.n_spans_kept, got.text_dedup) == (1, s)


def test_minhash_index_probe_append_cycle(spark, tmp_path):
    """Materialized MinHash index: injected dups found on probe, novel
    docs clean, appended batch visible to later probes, standing files
    never rewritten."""
    import os
    from cdc_kafka_project_spark.operators import dedup as dd

    base = " ".join(f"w{i}" for i in range(20))
    corpus = spark.createDataFrame(
        [(i, f"{base} tail{i} tail{i} extra{i}") for i in range(1, 11)],
        "doc_id long, text string",
    )
    path = str(tmp_path / "mh")
    dd.ensure_minhash_index(corpus, path, n=3, num_perm=64, bands=16, rows=4)
    files_before = sorted(os.listdir(os.path.join(path, "sigs")))

    batch = spark.createDataFrame(
        [
            (101, f"{base} tail1 tail1 extra1"),        # exact copy of doc 1
            (102, f"{base} tail1 tail1 CHANGED"),       # near-dup of doc 1
            (103, " ".join(f"z{i}" for i in range(20))),  # novel
        ],
        "doc_id long, text string",
    )
    hits = {
        (r["new_doc_id"], r["index_doc_id"]): r["est_jaccard"]
        for r in dd.probe_minhash_index(spark, batch, path, 0.5).collect()
    }
    assert hits[(101, 1)] == 1.0
    assert (102, 1) in hits and hits[(102, 1)] >= 0.5
    assert not any(n == 103 for n, _ in hits)

    dd.append_to_minhash_index(batch, path)
    # append must not rewrite standing files
    assert set(files_before) <= set(os.listdir(os.path.join(path, "sigs")))

    later = spark.createDataFrame(
        [(201, f"{base} tail1 tail1 extra1")], "doc_id long, text string"
    )
    later_hits = {
        (r["new_doc_id"], r["index_doc_id"])
        for r in dd.probe_minhash_index(spark, later, path, 0.5).collect()
    }
    assert (201, 101) in later_hits  # sees the APPENDED doc
    assert (201, 1) in later_hits    # and the original corpus


def test_ensure_minhash_index_fingerprint_staleness(spark, tmp_path):
    """ensure_minhash_index: build once, no-op while the source parquet
    is unchanged, REBUILD when it changes — a probe can never run
    against last generation's signatures (the pre-round-6 existence
    check would have)."""
    import os
    import time

    from cdc_kafka_project_spark.operators import dedup as dd
    from cdc_kafka_project_spark.operators.similarity import read_model

    src = str(tmp_path / "docs")
    base = " ".join(f"w{i}" for i in range(20))
    spark.createDataFrame(
        [(i, f"{base} tail{i}") for i in range(1, 6)],
        "doc_id long, text string",
    ).write.parquet(src)
    corpus = spark.read.parquet(src)
    path = str(tmp_path / "mh")

    dd.ensure_minhash_index(corpus, path)
    fp1 = read_model(path)["fingerprint"]
    assert fp1  # file-backed input -> identity established
    mtime1 = os.path.getmtime(os.path.join(path, "_ann_model.json"))

    dd.ensure_minhash_index(spark.read.parquet(src), path)  # unchanged
    assert os.path.getmtime(os.path.join(path, "_ann_model.json")) == mtime1

    time.sleep(0.05)  # ensure a distinct mtime on rewrite
    spark.createDataFrame(
        [(i, f"{base} other{i}") for i in range(1, 6)],
        "doc_id long, text string",
    ).write.mode("overwrite").parquet(src)
    dd.ensure_minhash_index(spark.read.parquet(src), path)
    fp2 = read_model(path)["fingerprint"]
    assert fp2 != fp1  # regenerated corpus -> rebuilt index


def test_ensure_minhash_index_rebuilds_for_inmemory_input(spark, tmp_path):
    """Non-file inputs have no identity (fingerprint None) — ensure
    must rebuild every time rather than trust whatever is on disk."""
    from cdc_kafka_project_spark.operators import dedup as dd
    from cdc_kafka_project_spark.operators.similarity import read_model

    base = " ".join(f"w{i}" for i in range(20))
    corpus = spark.createDataFrame(
        [(i, f"{base} tail{i}") for i in range(1, 6)],
        "doc_id long, text string",
    )
    path = str(tmp_path / "mh")
    dd.ensure_minhash_index(corpus, path)
    m = read_model(path)
    assert m["fingerprint"] is None
    # second call with different in-memory data must rebuild (not serve
    # the stale unverifiable index)
    other = spark.createDataFrame(
        [(9, "completely different text here")], "doc_id long, text string"
    )
    dd.ensure_minhash_index(other, path)
    sigs = spark.read.parquet(f"{path}/sigs")
    assert [r.doc_id for r in sigs.select("doc_id").collect()] == [9]


def test_simhash_pairs_exact_twin_membership(spark):
    """Round-8 conversion pins: dedup_simhash_pairs' result must equal
    the relationally-computed text-equal pair set over corpus +
    injected copies (the oracle's own definition, recomputed test-side
    from raw text), every pair at hamming 0, and every injected
    (source, copy) pair must be present — banding recall is exactly 1
    for identical signatures, so a miss is a banding bug, never
    probability. Organic byte-identical pairs (sf0.1 carries 8) are
    part of the contract, not a fixture erosion."""
    from tests.conftest import SF_SMOKE
    from cdc_kafka_project_spark.queries.dedup import (
        N_SIMHASH_DUPS,
        _docs,
        dedup_simhash_pairs,
    )

    docs = _docs(spark, SF_SMOKE).filter(F.trim("text") != "")
    rows = docs.select("doc_id", "text").collect()
    first = sorted(r.doc_id for r in rows)[:N_SIMHASH_DUPS]
    by_id = {r.doc_id: r.text for r in rows}
    full = dict(by_id)
    for i in first:
        # copies carry negative ids (-doc_id - 1) so the injected key
        # space can never collide with organic ids in any corpus
        full[-i - 1] = by_id[i]
    expected = {
        (a, b, 0)
        for a in full
        for b in full
        if a < b and full[a] == full[b]
    }
    got = {
        (r.doc_a, r.doc_b, r.hamming)
        for r in dedup_simhash_pairs(spark, SF_SMOKE).collect()
    }
    assert got == expected
    assert {(-i - 1, i, 0) for i in first} <= got


def test_dedup_simhash_flag_catches_impure_signature(spark, monkeypatch):
    """Round-8 conversion negative case: copy_sig_identical exists to
    catch a signature that is NOT a pure function of text (doc_id or
    partition leaking into the hash). Simulate exactly that bug —
    xor the doc_id into the fingerprint — and the registered query
    must flip the flag."""
    from tests.conftest import SF_SMOKE
    from cdc_kafka_project_spark.queries import dedup as qd

    real = dd.simhash

    def impure(df, text_col="text", bits=64, **kw):
        out = real(df, text_col=text_col, bits=bits, **kw)
        return out.withColumn(
            "simhash", F.col("simhash").bitwiseXOR(F.col("doc_id"))
        )

    monkeypatch.setattr(qd.dd, "simhash", impure)
    out = qd.dedup_simhash(spark, SF_SMOKE)
    n_bad = out.filter(~F.col("copy_sig_identical")).count()
    assert n_bad == out.count(), "impure signature not caught by the flag"


def test_minhash_lsh_exact_twin_membership_and_negative_case(spark):
    """Round-11 conversion pins (the dedup_minhash_lsh digest tier):

    * the registered query's result must equal the relationally
      computed text-equal pair set over corpus + injected copies
      (docs with >= 3 words — shorter docs have no 3-shingle set and
      are absent on BOTH engines), every pair at est_jaccard exactly
      1.0, with every injected (source, copy) pair present (band
      recall is exactly 1 for identical signatures — a miss is a
      banding bug, never probability);
    * negative case: a PERTURBED copy (one word changed) must NOT
      appear — digest verification is exact-content, so near-identical
      text cannot leak into the exact tier.
    """
    from tests.conftest import SF_SMOKE
    from cdc_kafka_project_spark.queries.dedup import (
        N_MINHASH_DUPS,
        _docs,
        dedup_minhash_lsh,
    )

    docs = (
        _docs(spark, SF_SMOKE)
        .filter(F.trim("text") != "")
        .filter(F.size(F.split(F.trim("text"), r"\s+")) >= 3)
    )
    rows = docs.select("doc_id", "text").collect()
    first = sorted(r.doc_id for r in rows)[:N_MINHASH_DUPS]
    by_id = {r.doc_id: r.text for r in rows}
    full = dict(by_id)
    for i in first:
        full[-i - 1] = by_id[i]
    expected = {
        (a, b, 1.0)
        for a in full
        for b in full
        if a < b and full[a] == full[b]
    }
    got = {
        (r.doc_a, r.doc_b, r.est_jaccard)
        for r in dedup_minhash_lsh(spark, SF_SMOKE).collect()
    }
    assert got == expected
    assert {(-i - 1, i, 1.0) for i in first} <= got

    # negative case through the operator tier: a one-word perturbation
    # keeps the signature NEAR-identical (most bands still collide ->
    # candidate surfaces) but the digest differs -> excluded
    from cdc_kafka_project_spark.operators import dedup as dd

    src_id = first[0]
    perturbed = by_id[src_id].rsplit(" ", 1)[0] + " zzzperturbed"
    frame = spark.createDataFrame(
        [(src_id, by_id[src_id]), (-src_id - 1, perturbed)],
        "doc_id long, text string",
    )
    sigs = dd.minhash_signatures(frame, n=3, num_perm=64, with_digest=True)
    cand = dd.minhash_lsh_candidates(
        sigs.select("doc_id", "sig"), bands=16, rows=4
    )
    da = sigs.select(F.col("doc_id").alias("doc_a"), F.col("digest").alias("__da"))
    db = sigs.select(F.col("doc_id").alias("doc_b"), F.col("digest").alias("__db"))
    exact = (
        cand.join(da, "doc_a").join(db, "doc_b")
        .filter(F.col("__da") == F.col("__db"))
    )
    assert cand.count() >= 1, "perturbed copy should still band-collide"
    assert exact.count() == 0, "digest tier must reject perturbed text"
