"""Text-analysis semantics on hand-computable strings."""

import math

import pytest
from pyspark.sql import functions as F

from cdc_kafka_project_spark.functions import token_count
from cdc_kafka_project_spark.operators import text as tx

DOC_SCHEMA = "doc_id long, text string"
SF = "/root/testdata/sf0.001"


@pytest.fixture()
def docs(spark):
    rows = [
        (0, "the cat sat on the mat"),
        (1, "el gato y la casa es de la que"),  # spanish stopwords
        (2, ""),
        (3, "   "),
        (4, "ABC def 123 x!y"),
        (5, "no stopwords here xyzzy qwerty"),
    ]
    return spark.createDataFrame(rows, DOC_SCHEMA)


def test_token_count(spark, docs):
    got = {r.doc_id: r.n for r in docs.select("doc_id", token_count("text").alias("n")).collect()}
    assert got == {0: 6, 1: 9, 2: 0, 3: 0, 4: 4, 5: 5}


def test_regex_token_count(spark, docs):
    got = {
        r.doc_id: r.n
        for r in docs.select("doc_id", tx.regex_token_count("text").alias("n")).collect()
    }
    # "ABC def 123 x!y" -> ABC, def, 123, x, !, y = 6
    assert got[4] == 6
    assert got[2] == 0


def test_text_stats_values(docs):
    stats = {r.doc_id: r for r in tx.text_stats(docs).collect()}
    s0 = stats[0]
    assert s0.n_chars == len("the cat sat on the mat")
    assert s0.n_tokens == 6
    assert s0.n_alpha_chars == 17
    assert s0.avg_token_len == pytest.approx(17 / 6)
    assert stats[2].n_tokens == 0 and stats[2].avg_token_len is None
    assert stats[3].avg_token_len is None


def test_language_id(docs):
    got = {r.doc_id: r.pred_lang for r in tx.language_id(docs).collect()}
    assert got[0] == "en"
    assert got[1] == "es"
    assert got[2] == "und" and got[3] == "und"
    assert got[5] == "und"  # no lexicon hits at all


def test_fingerprint_trims_and_discriminates(spark):
    df = spark.createDataFrame(
        [(0, "same text"), (1, "  same text  "), (2, "other")], DOC_SCHEMA
    )
    fp = {r.doc_id: (r.fp64, r.fp_md5) for r in tx.fingerprint(df).collect()}
    assert fp[0] == fp[1]
    assert fp[0] != fp[2]


def test_doc_fingerprint_xx_flag_catches_impure_fingerprint(spark, monkeypatch):
    """Round-12 conversion negative case (the dedup_simhash r8 move):
    copy_fp_identical exists to catch a fingerprint that is NOT a pure
    function of text (doc_id or partition leaking into the hash).
    Simulate exactly that bug — xor the doc_id into fp64 — and the
    registered query must flip the flag on every doc."""
    from tests.conftest import SF_SMOKE
    from cdc_kafka_project_spark.queries import text_analysis as qt

    real = tx.fingerprint

    def impure(df, text_col="text"):
        out = real(df, text_col=text_col)
        return out.withColumn(
            "fp64", F.col("fp64").bitwiseXOR(F.col("doc_id"))
        )

    monkeypatch.setattr(qt.text_ops, "fingerprint", impure)
    out = qt.doc_fingerprint_xx(spark, SF_SMOKE)
    n_bad = out.filter(~F.col("copy_fp_identical")).count()
    assert n_bad == out.count(), "impure fingerprint not caught by the flag"


def test_pack_sequences_invariants(spark):
    """Every doc packed exactly once; no pack exceeds the budget unless
    it holds a single oversized doc; pack_seq is dense per pack."""
    from cdc_kafka_project_spark.operators.text import pack_sequences

    rows = [(i, "tok " * (i * 7 % 90 + 1)) for i in range(1, 101)]
    rows.append((999, "big " * 500))  # oversized vs budget below
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = pack_sequences(df, budget=128).collect()
    assert sorted(r.doc_id for r in out) == sorted(r[0] for r in rows)
    by_pack = {}
    for r in out:
        by_pack.setdefault(r.pack_id, []).append(r)
    for pack in by_pack.values():
        total = sum(r.n_tokens for r in pack)
        if total > 128:
            assert len(pack) == 1  # only an oversized doc may overflow
        assert sorted(r.pack_seq for r in pack) == list(range(len(pack)))
    # packing actually packs: far fewer packs than docs
    assert len(by_pack) < len(rows) / 2


def test_pack_sequences_fill_efficiency(spark):
    """First-fit over uniform smallish docs should fill packs well:
    mean fill of multi-doc packs >= 70% of budget."""
    from cdc_kafka_project_spark.operators.text import pack_sequences

    rows = [(i, "t " * ((i * 13) % 40 + 10)) for i in range(1, 401)]
    df = spark.createDataFrame(rows, "doc_id long, text string").coalesce(2)
    out = pack_sequences(df, budget=256).collect()
    by_pack = {}
    for r in out:
        by_pack.setdefault(r.pack_id, 0)
        by_pack[r.pack_id] += r.n_tokens
    fills = sorted(by_pack.values())
    # drop the tail pack per partition (legitimately underfull)
    trimmed = fills[2:] if len(fills) > 4 else fills
    assert sum(trimmed) / (len(trimmed) * 256) >= 0.7


def test_sketch_accuracy_vs_exact(spark):
    """HLL++ and GK-percentile sketches stay within documented error
    of their exact twins on the sf0.001 tables. The registered queries
    now fold the raw estimates to drivable bound flags (all TRUE when
    the sketches are healthy — the same condition the oracle's literal
    TRUE rows hash-check); the raw-value accuracy is asserted here
    against the ungated aggregation."""
    from cdc_kafka_project_spark.registry import all_queries

    q = all_queries()
    rows = q["sketch_distinct_users"](spark, SF).collect()
    assert rows and all(r.approx_within_5pct for r in rows), rows
    # raw HLL++ accuracy, recomputed without the flag fold
    from cdc_kafka_project_spark.catalog import load_table

    ev = load_table(spark, SF, "events")
    for r in ev.groupBy("event_type").agg(
        F.approx_count_distinct("user_id", rsd=0.02).alias("a"),
        F.countDistinct("user_id").alias("e"),
    ).collect():
        rel = abs(r.a - r.e) / max(r.e, 1)
        assert rel <= 0.05, (r.event_type, rel)
    row = q["sketch_percentiles"](spark, SF).collect()[0]
    assert row.approx_within_1pct is True
    assert row.exact_p50 < row.exact_p95 < row.exact_p99


def test_repetition_stats(spark):
    """TTR/top-share on hand-computable docs; empty docs yield zero
    counts with NULL ratios."""
    df = spark.createDataFrame(
        [
            (1, "a a a a"),            # TTR 0.25, top share 1.0
            (2, "one two three four"), # TTR 1.0, top share 0.25
            (3, ""),
            (4, "The the THE x"),      # case-folded: the x -> 2 distinct
        ],
        DOC_SCHEMA,
    )
    got = {r.doc_id: r for r in tx.repetition_stats(df).collect()}
    assert got[1].n_tokens == 4 and got[1].n_distinct_tokens == 1
    assert got[1].type_token_ratio == 0.25 and got[1].top_token_share == 1.0
    assert got[2].type_token_ratio == 1.0 and got[2].top_token_share == 0.25
    assert got[3].n_tokens == 0 and got[3].type_token_ratio is None
    assert got[4].n_distinct_tokens == 2 and got[4].top_token_share == 0.75


def test_py_tokens_matches_jvm_tokens_on_unicode_whitespace(spark):
    r"""py_tokens must agree with functions.tokens on inputs where
    str.split() diverges: \xa0/  are Unicode whitespace to Python
    but NOT to Java's ASCII \s, and Spark's split(limit=-1) keeps edge
    empty fields. Every Python-side tokenizer routes through py_tokens, so
    this parity is what keeps lang_id/minhash/repetition counts
    consistent with the JVM and DuckDB tiers."""
    from cdc_kafka_project_spark.functions import tokens
    from cdc_kafka_project_spark.operators.text import py_tokens

    cases = [
        "plain ascii words",
        "nbsp\xa0joined",            # NBSP is NOT a separator in \s
        "line sep",             # U+2028 likewise
        "tab\tand\nnewline",
        "  leading spaces",
        "trailing spaces   ",
        "trailing tab\t",
        "",
        " ",
        "\xa0",                      # lone NBSP: one 1-char token
    ]
    df = spark.createDataFrame([(i, t) for i, t in enumerate(cases)],
                               "i int, t string")
    jvm = {
        r.i: list(r.toks)
        for r in df.select("i", tokens("t").alias("toks")).collect()
    }
    for i, t in enumerate(cases):
        assert py_tokens(t) == jvm[i], (
            f"divergence on {t!r}: py={py_tokens(t)} jvm={jvm[i]}"
        )
    assert py_tokens(None) == []


def test_parse_byte_size_suffixes():
    """spread()'s maxPartitionBytes parse must honor size-unit
    multipliers — '128m' is 128 MiB, not 128 bytes (which disabled
    spread() entirely for sessions configured with suffixed values)."""
    from cdc_kafka_project_spark.functions import _parse_byte_size

    assert _parse_byte_size("134217728b") == 134217728
    assert _parse_byte_size("134217728") == 134217728
    assert _parse_byte_size("128m") == 128 << 20
    assert _parse_byte_size("128MB") == 128 << 20
    assert _parse_byte_size("1g") == 1 << 30
    assert _parse_byte_size("64k") == 64 << 10
    assert _parse_byte_size("2t") == 2 << 40
    # unrecognizable -> safe default, never a tiny denominator
    assert _parse_byte_size("garbage") == 134217728
    assert _parse_byte_size("12xyz") == 134217728


def test_tfidf_ranks_rare_terms_above_common(spark):
    """A term unique to one doc must outrank a term present in every
    doc; tf breaks within-doc ties before df."""
    from cdc_kafka_project_spark.operators import text as tx

    docs = spark.createDataFrame(
        [
            (1, "common zebra common common"),
            (2, "common yak common"),
            (3, "common common common"),
        ],
        "doc_id long, text string",
    )
    out = tx.tfidf_top_terms(docs, k=2).collect()
    top = {}
    for r in out:
        top.setdefault(r.doc_id, []).append((r.word, r.tf, r.df))
    # Standard log-idf (score = tf * ln((N+1)/(df+1)), rounded to 6):
    # zebra (tf=1, df=1) = ln(4/2) = ln(2) = 0.693147; common (tf=3,
    # df=3) = 3*ln(4/4) = 0.0 — the everywhere-term scores zero, so the
    # doc-unique term genuinely outranks it.
    d1 = {r.word: r.score for r in out if r.doc_id == 1}
    assert d1["zebra"] == round(math.log(2), 6) == 0.693147
    assert d1["common"] == 0.0
    assert [w for w, _, _ in top[1]] == ["zebra", "common"]
    # doc 3 has only 'common'
    assert [w for w, _, _ in top[3]] == ["common"]


def test_word_bigrams_adjacent_pairs_only(spark):
    from cdc_kafka_project_spark.operators import text as tx

    docs = spark.createDataFrame(
        [(1, "A b c"), (2, "solo"), (3, None), (4, "x y")],
        "doc_id long, text string",
    )
    got = {(r.doc_id, r.bigram) for r in tx.word_bigrams(docs).collect()}
    assert got == {(1, "a b"), (1, "b c"), (4, "x y")}


def test_pii_redact_scrubs_and_counts(spark):
    rows = [
        (0, "contact bob.smith+x@example.co.uk or 10.0.0.1 now"),
        (1, "call 555-867-5309 twice: 555.867.5309"),
        (2, "plain text, no pii at all"),
        (3, "a@b.io mailed a@b.io from 192.168.1.255"),
    ]
    out = {
        r.doc_id: r
        for r in tx.pii_redact(
            spark.createDataFrame(rows, DOC_SCHEMA)
        ).collect()
    }
    assert out[0].redacted == "contact <EMAIL> or <IP> now"
    assert (out[0].n_email, out[0].n_ipv4, out[0].n_phone) == (1, 1, 0)
    assert out[1].redacted == "call <PHONE> twice: <PHONE>"
    assert out[1].n_phone == 2
    assert out[2].redacted == rows[2][1] and out[2].pii_total == 0
    assert out[3].redacted == "<EMAIL> mailed <EMAIL> from <IP>"
    assert (out[3].n_email, out[3].n_ipv4, out[3].pii_total) == (2, 1, 3)


def test_host_stats_groups_by_host(spark):
    rows = [
        (0, "see https://ex.com/a and https://ex.com/b?q=1"),
        (1, "mirror at http://ex.com:8080/c plus https://other.org"),
        (2, "no links here"),
    ]
    out = {
        r.host: (r.n_docs, r.n_mentions)
        for r in tx.host_stats(
            spark.createDataFrame(rows, DOC_SCHEMA)
        ).collect()
    }
    # ex.com appears in 2 docs, 3 mentions (port stripped from host);
    # other.org in 1 doc
    assert out == {"ex.com": (2, 3), "other.org": (1, 1)}


def test_hash_split_portable_properties(spark):
    df = spark.range(0, 2000).withColumnRenamed("id", "doc_id")
    w = {"train": 8, "val": 1, "test": 1}
    got = tx.hash_split_portable(df, "doc_id", w)
    # exactly one split per key, all three present, ~80/10/10
    counts = {r.split: r.n for r in got.groupBy("split").agg(
        F.count(F.lit(1)).alias("n")).collect()}
    assert set(counts) == {"train", "val", "test"}
    assert abs(counts["train"] / 2000 - 0.8) < 0.05
    # stable under growth: the first 1000 keys keep their assignment
    # when 1000 more arrive (no repartition-dependent state)
    small = tx.hash_split_portable(
        spark.range(0, 1000).withColumnRenamed("id", "doc_id"), "doc_id", w
    )
    a = dict(small.collect())
    b = dict(got.filter(F.col("doc_id") < 1000).collect())
    assert a == b
    # partition-independent: repartitioning the input moves no key
    c = tx.hash_split_portable(df.repartition(7), "doc_id", w)
    assert dict(c.collect()) == dict(got.collect())


def test_heavy_hitters_exact_when_capacity_sufficient(spark):
    """Misra-Gries candidates + recount must equal the plain groupBy
    top-k whenever f_k > N/capacity — and the candidate set stays
    bounded by capacity per partition."""
    from cdc_kafka_project_spark.operators.sketches import heavy_hitters

    rows = []
    # skewed vocabulary: item i appears ~ 1000/i times (zipf-ish)
    for i in range(1, 200):
        rows += [(f"w{i:03d}",)] * max(1000 // i, 1)
    df = spark.createDataFrame(rows, "word string").repartition(8)
    got = [(r.word, r.n) for r in heavy_hitters(df, "word", k=10, capacity=64).collect()]
    exact = [
        (r.word, r.n)
        for r in df.groupBy("word")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), "word")
        .limit(10)
        .collect()
    ]
    assert got == exact
    assert got[0] == ("w001", 1000)


def test_heavy_hitters_non_string_items(spark):
    """The candidate schema must mirror the item column's type (round-4
    advice: a hardcoded string schema coerced bigint keys lossily)."""
    from cdc_kafka_project_spark.operators.sketches import heavy_hitters

    rows = [(i,) for i in range(1, 50) for _ in range(200 // i)]
    df = spark.createDataFrame(rows, "item_id long").repartition(4)
    got = [(r.item_id, r.n) for r in heavy_hitters(
        df, "item_id", k=5, capacity=64).collect()]
    exact = [
        (r.item_id, r.n)
        for r in df.groupBy("item_id")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), "item_id")
        .limit(5)
        .collect()
    ]
    assert got == exact
    assert all(isinstance(i, int) for i, _ in got)


def test_canonical_url_rules(spark):
    cases = [
        ("HTTP://Example.COM:80/Path/#frag", "http://example.com/Path"),
        ("https://A.b:443/", "https://a.b"),
        ("https://a.b:8443/x", "https://a.b:8443/x"),  # non-default port kept
        ("http://a.b/Q?X=1#y", "http://a.b/Q?X=1"),    # path/query case kept
        ("ftp://Mixed.Case/z", "ftp://mixed.case/z"),  # scheme-agnostic lower
        ("http://a.b:80", "http://a.b"),               # port at end, no path
    ]
    df = spark.createDataFrame([(i, u) for i, (u, _) in enumerate(cases)],
                               "i long, url string")
    got = {r.i: r.c for r in df.select(
        "i", tx.canonical_url(F.col("url")).alias("c")).collect()}
    for i, (_, want) in enumerate(cases):
        assert got[i] == want, (cases[i][0], got[i], want)


def test_split_leakage_audit_flags_cross_split_fingerprints(spark):
    """Every flagged fingerprint must genuinely span >1 split, and the
    injected duplicates are the only possible source of leakage (the
    raw corpus is fingerprint-unique)."""
    from cdc_kafka_project_spark.queries.text_analysis import split_leakage_audit

    rows = split_leakage_audit(spark, "/root/testdata/sf0.001").collect()
    assert rows, "fixture injection must produce at least one leak"
    for r in rows:
        assert r.n_splits >= 2
        assert r.n_docs >= r.n_splits


def test_lang_source_pmi_marginal_identity(spark):
    """sum over cells of p(l,s)*exp-free identity: counts must add back
    to the corpus, and PMI must be 0 for a perfectly independent cell
    constructed synthetically."""
    import math

    from cdc_kafka_project_spark.queries.text_analysis import lang_source_pmi

    rows = lang_source_pmi(spark, "/root/testdata/sf0.001").collect()
    n = sum(r.n_docs for r in rows)
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    assert n == docs.count()
    # recompute one cell's PMI independently
    r = max(rows, key=lambda r: r.n_docs)
    n_l = sum(x.n_docs for x in rows if x.lang == r.lang)
    n_s = sum(x.n_docs for x in rows if x.source == r.source)
    want = math.log((r.n_docs * n) / (n_l * n_s))
    assert abs(r.pmi - want) < 1e-6


def test_sliding_chunks_udtf_overlap_and_coverage(spark):
    """UDTF sliding windows: stride-24/size-32, consecutive windows
    overlap by exactly 8 tokens, all tokens covered, short docs give
    one window."""
    from cdc_kafka_project_spark.functions.udtfs import register_udtfs

    register_udtfs(spark)
    doc_long = " ".join(f"t{i}" for i in range(60))
    doc_short = "a b c"
    spark.createDataFrame(
        [(1, doc_long), (2, doc_short), (3, "   "), (4, None)],
        "doc_id long, text string",
    ).createOrReplaceTempView("udtf_docs")
    rows = spark.sql(
        """
        SELECT d.doc_id, c.chunk_id, c.chunk, c.n_tokens
        FROM udtf_docs d, LATERAL sliding_chunks(d.text) c
        """
    ).collect()
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r["doc_id"], []).append(r)
    assert set(by_doc) == {1, 2}  # blank/null docs emit nothing
    # 60 tokens -> 1 + ceil(28/24) = 3 windows
    w = sorted(by_doc[1], key=lambda r: r["chunk_id"])
    assert [r["chunk_id"] for r in w] == [0, 1, 2]
    assert [r["n_tokens"] for r in w] == [32, 32, 12]
    c0, c1 = w[0]["chunk"].split(), w[1]["chunk"].split()
    assert c0[24:] == c1[:8]  # 8-token overlap
    covered = set()
    for r in w:
        covered.update(r["chunk"].split())
    assert covered == {f"t{i}" for i in range(60)}
    assert by_doc[2][0]["chunk"] == "a b c"
    assert by_doc[2][0]["n_tokens"] == 3


def test_nb_quality_score_distills_the_teacher_gate(spark):
    """The closed-form NB scorer learns the heuristic gate it was
    trained on: distillation accuracy on the training corpus is high,
    and scores separate the classes in the right direction."""
    from cdc_kafka_project_spark.queries.text_analysis import (
        doc_nb_quality_score,
    )
    from tests.conftest import SF_SMOKE

    rows = doc_nb_quality_score(spark, SF_SMOKE).collect()
    assert len(rows) > 0
    agree = sum(1 for r in rows if r["pred_keep"] == r["teacher_keep"])
    assert agree / len(rows) >= 0.8, f"distillation accuracy {agree}/{len(rows)}"
    keep_scores = [r["nb_score"] for r in rows if r["teacher_keep"]]
    drop_scores = [r["nb_score"] for r in rows if not r["teacher_keep"]]
    if keep_scores and drop_scores:
        assert (sum(keep_scores) / len(keep_scores)
                > sum(drop_scores) / len(drop_scores))


def test_corpus_is_ascii_at_every_sf(spark):
    """Round-7 advice item 3: the BPE oracles (doc_bpe_token_counts'
    n_word_chars, bpe_merge_ranks' rank-0 argmax) equate Spark's JVM
    lower()/binary string ordering with DuckDB's utf8proc
    lower()/collation — sound only while the corpus is pure ASCII
    (non-ASCII case mappings like U+0130 change string LENGTH under
    one engine but not the other). Pin it per testdata generation so
    a non-ASCII corpus fails loudly here before the driver gate."""
    from cdc_kafka_project_spark.catalog import load_table

    for sf_dir in (
        "/root/testdata/sf0.001",
        "/root/testdata/sf0.01",
        "/root/testdata/sf0.1",
    ):
        docs = load_table(spark, sf_dir, "documents")
        n_bad = docs.filter(
            ~F.col("text").rlike(r"^[\x00-\x7F]*$")
        ).count()
        assert n_bad == 0, f"non-ASCII documents appeared in {sf_dir}"
