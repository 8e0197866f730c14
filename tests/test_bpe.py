"""Distributed BPE trainer vs a pure-Python reference implementation.

The reference below is the textbook Sennrich-style algorithm (word
frequency table, count adjacent pairs, merge the argmax greedily
left-to-right, repeat) with the SAME deterministic tiebreak
(count DESC, left ASC, right ASC). The Spark trainer must reproduce
its merge sequence exactly, on any partitioning.
"""

from __future__ import annotations

import collections

import pytest


def _ref_bpe(texts: list[str], n_merges: int) -> list[tuple[str, str]]:
    freq = collections.Counter()
    for t in texts:
        for w in t.lower().split():
            freq[tuple(w)] += 1
    merges = []
    for _ in range(n_merges):
        pairs = collections.Counter()
        for sym, f in freq.items():
            for a, b in zip(sym, sym[1:]):
                pairs[(a, b)] += f
        if not pairs:
            break
        best = min(pairs.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1]))[0]
        merges.append(best)
        merged = best[0] + best[1]
        new_freq = collections.Counter()
        for sym, f in freq.items():
            out, i = [], 0
            while i < len(sym):
                if i + 1 < len(sym) and (sym[i], sym[i + 1]) == best:
                    out.append(merged)
                    i += 2
                else:
                    out.append(sym[i])
                    i += 1
            new_freq[tuple(out)] += f
        freq = new_freq
    return merges


CORPUS = [
    "low low low low low",
    "lower lower newest newest",
    "newest newest newest newest",
    "widest widest widest",
    "the the the a a banana",
]


@pytest.mark.parametrize("n_parts", [1, 7])
@pytest.mark.parametrize("driver_max_vocab", [None, 0])
def test_bpe_matches_reference_any_partitioning(
    spark, n_parts, driver_max_vocab
):
    """Both trainer paths — the bounded-collect driver loop (default,
    r15) and the distributed per-round loop (driver_max_vocab=0, the
    above-gate scale path) — must reproduce the reference merge
    sequence on any partitioning."""
    from cdc_kafka_project_spark.operators.bpe import train_bpe

    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(CORPUS)], "doc_id long, text string"
    ).repartition(n_parts)
    got = [
        (m.left, m.right)
        for m in train_bpe(docs, 10, driver_max_vocab=driver_max_vocab)
    ]
    assert got == _ref_bpe(CORPUS, 10)


def test_bpe_vocab_table_driver_and_distributed_paths_agree(spark):
    """r15: bpe_vocab_table segments driver-side below the bounded-
    collect gate; the two paths must emit identical (word, tokens,
    n_tokens) rows for a materialized words frame."""
    from cdc_kafka_project_spark import cache
    from cdc_kafka_project_spark.operators.bpe import (
        bpe_vocab_table,
        train_bpe,
        word_freq_table,
    )

    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(CORPUS)], "doc_id long, text string"
    )
    merges = train_bpe(docs, 8)
    # freed explicitly: a bare localCheckpoint stays a persistent RDD
    # until the JVM collects it, which skews later modules' counts
    wf = cache.owned_localcheckpoint(
        word_freq_table(docs).selectExpr("array_join(symbols, '') AS word", "freq")
    )
    try:
        fast = bpe_vocab_table(docs, merges, words=wf)
        slow = bpe_vocab_table(docs, merges, words=wf, driver_max_vocab=0)
        to_set = lambda df: {  # noqa: E731
            (r.word, tuple(r.tokens), r.n_tokens) for r in df.collect()
        }
        assert to_set(fast) == to_set(slow)
        assert fast.count() == slow.count()
    finally:
        cache.free_owned_checkpoint(wf)


def test_bpe_stops_early_when_no_pairs_left(spark):
    from cdc_kafka_project_spark.operators.bpe import train_bpe

    docs = spark.createDataFrame([(0, "ab ab cd")], "doc_id long, text string")
    merges = train_bpe(docs, 50)
    # 'ab' and 'cd' each collapse to one symbol; then nothing remains
    assert [(m.left, m.right) for m in merges] == [("a", "b"), ("c", "d")]


def test_bpe_greedy_overlap_semantics(spark):
    """'aaaa' under merge (a,a) must become ['aa','aa'] (greedy
    left-to-right, non-overlapping), matching the reference fold."""
    from cdc_kafka_project_spark.operators.bpe import train_bpe

    texts = ["aaaa aaaa aaaa"]
    docs = spark.createDataFrame([(0, texts[0])], "doc_id long, text string")
    got = [(m.left, m.right) for m in train_bpe(docs, 3)]
    assert got == _ref_bpe(texts, 3)
    assert got[0] == ("a", "a") and got[1] == ("aa", "aa")


def _ref_encode(word: str, merges: list[tuple[str, str]]) -> list[str]:
    sym = list(word)
    for a, b in merges:
        out, i = [], 0
        while i < len(sym):
            if i + 1 < len(sym) and (sym[i], sym[i + 1]) == (a, b):
                out.append(a + b)
                i += 2
            else:
                out.append(sym[i])
                i += 1
        sym = out
    return sym


def test_bpe_apply_path_matches_reference_encoder(spark):
    from cdc_kafka_project_spark.operators.bpe import (
        bpe_token_counts,
        bpe_vocab_table,
        train_bpe,
    )

    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(CORPUS)], "doc_id long, text string"
    )
    merges = train_bpe(docs, 8)
    pairs = [(m.left, m.right) for m in merges]
    vocab = {r.word: r.tokens for r in bpe_vocab_table(docs, merges).collect()}
    for w, toks in vocab.items():
        assert toks == _ref_encode(w, pairs), w
    counts = {
        r.doc_id: r.n_bpe_tokens
        for r in bpe_token_counts(docs, bpe_vocab_table(docs, merges)).collect()
    }
    for i, t in enumerate(CORPUS):
        want = sum(len(_ref_encode(w, pairs)) for w in t.lower().split())
        assert counts[i] == want


def test_bpe_merge_ranks_flags_negative_case(spark, monkeypatch):
    """Round-8 conversion negative case: the structural flags of the
    bpe_merge_ranks oracle must be falsifiable — a corrupted merge
    table (merged != left||right, an empty part) flips them through
    the REGISTERED query."""
    from tests.conftest import SF_SMOKE
    from cdc_kafka_project_spark.queries.text_analysis import bpe_merge_ranks

    def corrupted(docs, n_merges, text_col="text"):
        rows = [(r, "a", "b", "zz") for r in range(n_merges - 1)]
        rows.append((n_merges - 1, "", "b", "b"))
        return spark.createDataFrame(
            rows, "rank int, left string, right string, merged string"
        )

    monkeypatch.setattr(
        "cdc_kafka_project_spark.operators.bpe.bpe_merge_table", corrupted
    )
    from pyspark.sql import functions as F

    out = bpe_merge_ranks(spark, SF_SMOKE)
    assert out.filter(~F.col("merged_is_concat")).count() == 23
    assert out.filter(~F.col("parts_nonempty")).count() == 1


def test_doc_bpe_token_bounds_flag_negative_case(spark, monkeypatch):
    """token_bounds_ok sandwiches n_bpe_tokens in [n_words,
    n_word_chars]; a token-exploding encoder (simulated: counts
    inflated past the char count) must flip it FALSE through the
    registered query."""
    from tests.conftest import SF_SMOKE
    from cdc_kafka_project_spark.operators.bpe import (
        bpe_token_counts as real_counts,
    )
    from cdc_kafka_project_spark.queries.text_analysis import (
        doc_bpe_token_counts,
    )
    from pyspark.sql import functions as F

    def exploding(docs, vocab, id_col="doc_id", text_col="text", **kw):
        out = real_counts(docs, vocab, id_col=id_col, text_col=text_col, **kw)
        return out.withColumn(
            "n_bpe_tokens", F.col("n_word_chars") + F.lit(1)
        )

    monkeypatch.setattr(
        "cdc_kafka_project_spark.operators.bpe.bpe_token_counts", exploding
    )
    out = doc_bpe_token_counts(spark, SF_SMOKE)
    assert out.filter(F.col("token_bounds_ok")).count() == 0
