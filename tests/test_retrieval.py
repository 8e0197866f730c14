"""Retrieval family: BM25 semantics on hand-computable fixtures, the
materialized-index probe's score parity with the exact tier, partition
pruning of the probe, hard-negative banding, incremental dedup, the
rolling 7-day frame, and temperature-mixing quota arithmetic."""

import math

import pytest
from pyspark.sql import functions as F

from cdc_kafka_project_spark.operators import retrieval as rt

DOCS = [
    (0, "spark table join spark spark"),     # all 3 terms, spark-heavy
    (1, "spark table and other words here"),  # 2 terms
    (2, "completely unrelated body text"),    # no terms
    (3, "join join join join"),               # 1 rare-ish term, high tf
    (4, "table"),                             # shortest doc
]


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame(DOCS, "doc_id long, text string")


def _py_bm25(query_terms, docs=DOCS, k1=rt.K1, b=rt.B):
    """Row-at-a-time reference implementation (micro-unit sum)."""
    toks = {i: t.split() for i, t in docs}
    n = len(docs)
    avgdl = sum(len(w) for w in toks.values()) / n
    out = {}
    for i, ws in toks.items():
        micro = 0
        hits = 0
        for term in sorted(set(query_terms)):
            tf = ws.count(term)
            if not tf:
                continue
            df = sum(1 for w in toks.values() if term in w)
            idf = math.log(1.0 + (n - df + 0.5) / (df + 0.5))
            norm = tf * (k1 + 1) / (tf + k1 * (1 - b + b * len(ws) / avgdl))
            micro += math.floor(idf * norm * 1e6 + 0.5)
            hits += 1
        if hits:
            out[i] = (hits, micro / 1e6)
    return out


def test_bm25_matches_reference_arithmetic(spark, docs):
    got = {
        r.doc_id: (r.n_terms_hit, r.score)
        for r in rt.bm25_topk(docs, ["spark", "table", "join"], k=10).collect()
    }
    assert got == _py_bm25(["spark", "table", "join"])
    # doc 2 has no query terms: absent, not zero-scored
    assert 2 not in got


def test_bm25_term_dedup_and_case(spark, docs):
    """Duplicate/uppercase query terms must not double-count."""
    a = {r.doc_id: r.score for r in rt.bm25_topk(
        docs, ["SPARK", "spark", "Spark"], k=10).collect()}
    b = {r.doc_id: r.score for r in rt.bm25_topk(
        docs, ["spark"], k=10).collect()}
    assert a == b


def test_token_index_probe_matches_exact_tier(spark, docs, tmp_path):
    """The materialized-index probe must return IDENTICAL scores to the
    one-pass exact tier — df/dl/N/avgdl read from the index instead of
    recomputed, same micro arithmetic."""
    path = str(tmp_path / "tok_idx")
    rt.ensure_token_index(docs, path)
    exact = [(r.doc_id, r.n_terms_hit, r.score) for r in rt.bm25_topk(
        docs, ["spark", "table", "join"], k=10).collect()]
    probed = [(r.doc_id, r.n_terms_hit, r.score) for r in rt.probe_token_index(
        spark, path, ["spark", "table", "join"], k=10).collect()]
    assert probed == exact


def test_token_index_probe_partition_pruned(spark, docs, tmp_path):
    """The probe's scan must carry the bucket predicate as a
    PartitionFilter — only the query terms' directories are planned."""
    from cdc_kafka_project_spark.plans import partition_filters

    path = str(tmp_path / "tok_idx_prune")
    rt.ensure_token_index(docs, path)
    df = rt.probe_token_index(spark, path, ["spark"], k=5)
    pf = " ".join(partition_filters(df))
    assert "__tbucket" in pf, f"probe not partition-pruned: {pf!r}"


def test_token_index_rebuilds_only_when_stale(spark, docs, tmp_path):
    import os

    # fingerprinting needs file-backed input (in-memory frames always
    # rebuild, by contract) — write the fixture to parquet first
    src = str(tmp_path / "docs_src")
    docs.write.parquet(src)
    fdocs = spark.read.parquet(src)
    path = str(tmp_path / "tok_idx_fp")
    rt.ensure_token_index(fdocs, path)
    model = os.path.join(path, "_ann_model.json")
    mtime = os.path.getmtime(model)
    rt.ensure_token_index(fdocs, path)   # unchanged corpus: no rebuild
    assert os.path.getmtime(model) == mtime


def test_token_index_rebuilds_when_text_col_changes(spark, tmp_path):
    """The indexed columns are part of the fingerprint: the same parquet
    indexed over another text column must rebuild, and the new index
    must answer for a word found only in that column."""
    import os

    src = str(tmp_path / "titled_src")
    spark.createDataFrame(
        [(0, "spark table join", "streaming replica"), (1, "table", "other words")],
        "doc_id long, text string, title string",
    ).write.parquet(src)
    fdocs = spark.read.parquet(src)
    path = str(tmp_path / "tok_idx_cols")
    rt.ensure_token_index(fdocs, path, text_col="text")
    model = os.path.join(path, "_ann_model.json")
    mtime = os.path.getmtime(model)
    assert rt.probe_token_index(spark, path, ["replica"], k=5).collect() == []
    rt.ensure_token_index(fdocs, path, text_col="title")
    assert os.path.getmtime(model) != mtime
    hits = rt.probe_token_index(spark, path, ["replica"], k=5).collect()
    assert [r.doc_id for r in hits] == [0]


def test_hard_negatives_band_and_exclusions(spark):
    """Band membership on the rounded cosine, self excluded, top-k per
    anchor with vec_id tiebreak."""
    # anchor e0; e1 dup (cos 1.0, above band), e2/e3 in band, e4 ~ 0
    rows = [
        (0, [1.0, 0.0, 0.0]),
        (1, [2.0, 0.0, 0.0]),        # cos 1.0 -> excluded (>= hi)
        (2, [1.0, 1.0, 0.0]),        # cos ~0.7071 -> in band
        (3, [1.0, 2.0, 0.0]),        # cos ~0.4472 -> in band
        (4, [0.0, 0.0, 1.0]),        # cos 0 -> below band
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    anchors = emb.filter(F.col("vec_id") == 0)
    got = [
        (r.anchor_id, r.vec_id, r.cos_sim)
        for r in rt.hard_negative_pairs(emb, anchors, k=2).collect()
    ]
    assert got == [(0, 2, 0.7071), (0, 3, 0.4472)]


def test_incremental_dedup_semantics(spark):
    from cdc_kafka_project_spark.queries.retrieval import INCR_SPLIT

    assert INCR_SPLIT == 400
    # base: 2 docs; batch: one dup-of-base, one in-batch dup pair, one new
    rows = [
        (1, "alpha"), (2, "beta"),                 # base
        (400, "alpha"),                            # dup of base -> dropped
        (401, "gamma"), (402, "gamma"),            # in-batch dup -> keep 401
        (403, "delta"),                            # new -> kept
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    fp = df.select("doc_id", F.md5(F.trim(F.col("text"))).alias("fp_md5"))
    base = fp.filter(F.col("doc_id") < 400).select("fp_md5").distinct()
    firsts = (
        fp.filter(F.col("doc_id") >= 400)
        .groupBy("fp_md5")
        .agg(F.min("doc_id").alias("doc_id"))
    )
    kept = sorted(
        r.doc_id
        for r in firsts.join(base, "fp_md5", "left_anti").collect()
    )
    assert kept == [401, 403]


def test_rolling_7d_frame_boundaries(spark):
    """Each event's frame is [its ts - 7d, its ts]: an event exactly 7
    days older is inside (inclusive bound), 8 days older is out;
    same-timestamp peers include each other (RANGE mode)."""
    import datetime as dt

    t0 = dt.datetime(2024, 1, 10, 12, 0, 0)
    day = dt.timedelta(days=1)
    rows = [
        (1, t0 - 8 * day, 7, "purchase", 100.0, None),   # only its own frame
        (2, t0 - 7 * day, 7, "purchase", 10.0, None),    # sees 1 (1d gap)
        (3, t0 - day, 7, "purchase", 1.0, None),         # sees 1? no: 7d gap to 1 is 7d -> inclusive
        (4, t0, 7, "purchase", 0.5, None),
        (5, t0, 7, "purchase", 0.25, None),              # peer of 4
        (6, t0, 8, "view", 99.0, None),                  # other type: absent
    ]
    ev = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string",
    )
    from pyspark.sql import Window

    w = (
        Window.partitionBy("user_id")
        .orderBy(F.unix_micros("ts"))
        .rangeBetween(-7 * 86400 * 1_000_000, 0)
    )
    got = {
        r.event_id: (float(r.spend), r.n)
        for r in ev.filter(F.col("event_type") == "purchase")
        .select(
            "event_id",
            F.sum(F.col("value").cast("decimal(18,2)"))
            .over(w).cast("double").alias("spend"),
            F.count(F.lit(1)).over(w).alias("n"),
        )
        .collect()
    }
    assert got[1] == (100.0, 1)
    assert got[2] == (110.0, 2)    # event 1 is 1 day before it: inside
    assert got[3] == (111.0, 3)    # event 1 exactly 7d older: inclusive
    assert got[4] == (11.75, 4)    # 1 fell out (8d); peers 4+5 see each other
    assert got[5] == (11.75, 4)


def test_temperature_quotas_flatten_distribution(spark):
    """alpha=0.5 quotas: equal-size groups get equal quotas; a skewed
    corpus gives the tail a larger share than proportional sampling."""
    from cdc_kafka_project_spark.queries.retrieval import (
        lang_temperature_sample,
    )
    from tests.conftest import SF_SMOKE

    got = lang_temperature_sample(spark, SF_SMOKE)
    per_lang = {
        r.lang: r.n
        for r in got.groupBy("lang").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
    counts = {r.lang: r.n for r in docs.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n")).collect()}
    total_q = sum(per_lang.values())
    for lang, q in per_lang.items():
        share_q = q / total_q
        share_n = counts[lang] / sum(counts.values())
        if share_n < 1 / len(counts):     # tail language
            assert share_q >= share_n     # boosted (or equal)
        assert q <= counts[lang]          # never oversamples a language
