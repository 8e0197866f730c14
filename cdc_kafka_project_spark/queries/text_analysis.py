"""Text-analysis queries over ``documents`` (north-star extension)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from cdc_kafka_project_spark.cache import scoped_localcheckpoint, scoped_persist
from cdc_kafka_project_spark.catalog import load_table, register_views
from cdc_kafka_project_spark.functions import fround
from cdc_kafka_project_spark.operators import text as text_ops
from cdc_kafka_project_spark.registry import query


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "documents")


@query(
    "text_stats",
    oracle=r"""
    SELECT doc_id,
           CAST(length(text) AS BIGINT) AS n_chars,
           CAST(CASE WHEN trim(text) = '' THEN 0
                     ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS BIGINT) AS n_tokens,
           CAST(length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS BIGINT) AS n_alpha_chars,
           length(regexp_replace(text, '[^A-Za-z]', '', 'g'))
               / greatest(length(text), 1) AS alpha_ratio,
           CASE WHEN trim(text) = '' THEN NULL
                ELSE (length(text) - length(regexp_replace(text, '[^ ]', '', 'g')))
                     / CAST(len(regexp_split_to_array(trim(text), '\s+')) AS DOUBLE) END AS avg_token_len
    FROM documents
    """,
)
def text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-scoring stats pack: char/token counts, alpha ratio,
    average token length — one codegen'd projection over the scan."""
    return text_ops.text_stats(_docs(spark, sf_dir))


@query(
    "token_count_regex",
    oracle=r"""
    SELECT doc_id,
           CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]')) AS BIGINT) AS n_wordish
    FROM documents
    """,
)
def token_count_regex(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE-ish regex token counting (letter runs / digit runs / marks)."""
    docs = _docs(spark, sf_dir)
    return docs.select(
        "doc_id", text_ops.regex_token_count("text").alias("n_wordish")
    )


@query(
    "lang_id",
    oracle="""
    WITH lex(cand_lang, word) AS (VALUES {lex_values}),
    tok AS (
        SELECT doc_id, lower(unnest(regexp_split_to_array(trim(text), '\\s+'))) AS word
        FROM documents WHERE trim(text) <> ''
    ),
    hits AS (
        SELECT doc_id, cand_lang, COUNT(*) AS hits
        FROM tok JOIN lex USING (word)
        GROUP BY doc_id, cand_lang
    ),
    ranked AS (
        SELECT doc_id, cand_lang,
               row_number() OVER (PARTITION BY doc_id
                                  ORDER BY hits DESC, cand_lang ASC) AS rn
        FROM hits
    )
    SELECT d.doc_id, COALESCE(r.cand_lang, 'und') AS pred_lang
    FROM documents d LEFT JOIN ranked r ON d.doc_id = r.doc_id AND r.rn = 1
    """.format(
        lex_values=", ".join(
            f"('{lang}', '{w}')"
            for lang, ws in text_ops.STOPWORDS.items()
            for w in ws
        )
    ),
)
def lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stopword-hit language ID: explode + broadcast lexicon join +
    argmax with deterministic tie-break."""
    return text_ops.language_id(_docs(spark, sf_dir))


@query(
    "doc_fingerprint_md5",
    oracle="""
    SELECT doc_id, md5(trim(text)) AS fp_md5
    FROM documents
    """,
)
def doc_fingerprint_md5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-engine-checkable content fingerprint (md5). The cheaper
    xxhash64 fingerprint (engine-internal, used by dedup) has no
    portable oracle and is covered by doc_fingerprint_xx below."""
    docs = _docs(spark, sf_dir)
    return docs.select("doc_id", F.md5(F.trim(F.col("text"))).alias("fp_md5"))


@query(
    "doc_fingerprint_xx",
    # Content-function oracle (r12, the dedup_simhash r8 move — last
    # rows-only conversion the r11 verdict asked for): the xxhash64
    # VALUES are engine-side (seed/impl-specific, pinned in
    # tests/test_text.py), but the fingerprint CONTRACT is drivable —
    # it must be a pure function of trim(text), independent of doc_id
    # and partition layout. Spark fingerprints every doc twice (corpus
    # plus a re-keyed byte-identical copy under negative ids, one
    # union pass) and flags fp64 equality; fp_md5 is the plain-SQL
    # mirror of the exact input domain (the same trim the xxhash64
    # sees). A fingerprint reading doc_id, partition state, or an
    # unstable seed flips copy_fp_identical; a normalization drift
    # flips fp_md5. The negative case (perturbed copy -> FALSE) is
    # pinned in tests/test_text.py.
    oracle="""
    SELECT doc_id,
           md5(trim(text)) AS fp_md5,
           TRUE AS copy_fp_identical
    FROM documents
    """,
)
def doc_fingerprint_xx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """xxhash64 fingerprints — the 8-byte dedup key used at scale —
    folded to the drivable self-consistency surface: each doc's fp64
    must equal the fp64 of a byte-identical re-keyed copy computed in
    the same job (content-function / partition-independence contract),
    alongside the SQL-mirrored md5 of the identical input domain.

    Shape: ONE fingerprint pass over corpus + negative-id copies (2
    executed scans of documents — the union's two branches, the same
    floor as dedup_simhash); the narrow (doc_id, fp64, fp_md5) table
    is checkpointed before the orig/copy self-join, so no corpus
    re-read."""
    docs = _docs(spark, sf_dir).select("doc_id", "text")
    # copies carry NEGATIVE ids (-doc_id - 1): organic doc_ids are
    # non-negative at every sf and in any re-keyed replica
    copies = docs.select(
        (-F.col("doc_id") - F.lit(1)).alias("doc_id"), "text"
    )
    fps = scoped_localcheckpoint(
        text_ops.fingerprint(docs.unionByName(copies))
    )
    orig = fps.filter(F.col("doc_id") >= 0)
    copy = fps.filter(F.col("doc_id") < 0).select(
        (-F.col("doc_id") - F.lit(1)).alias("doc_id"),
        F.col("fp64").alias("__copy_fp"),
    )
    return orig.join(copy, "doc_id").select(
        "doc_id",
        "fp_md5",
        (F.col("fp64") == F.col("__copy_fp")).alias("copy_fp_identical"),
    )


@query(
    "doc_winnow_fingerprints",
    # The gram hash is a FLAT Horner form with precomputed powers
    # B^(k-1-j) mod P (r14): the earlier per-gram
    # list_reduce(list_transform(slice)) materialized an 8-element
    # list and ran 8 reduce-lambda closures PER POSITION — ~18e9
    # lambda invocations at the 1000x replica (5M docs), which burned
    # >620 CPU-min without finishing. One ord pass per doc + 8
    # multiply-adds per position over the flat ords list is the same
    # arithmetic (residues of each coefficient preserve the sum's
    # residue; terms <= 8 * 0x10FFFF * 2^31 << 2^63, no overflow) at
    # a fraction of the interpreter overhead.
    oracle=f"""
    WITH o AS (
        SELECT doc_id, length(text) AS n,
               list_transform(string_split(text, ''),
                              x -> CAST(ord(x) AS BIGINT)) AS os
        FROM documents WHERE length(text) >= {8}
    ),
    g AS (
        SELECT doc_id,
               list_transform(range(1, n - {8} + 2),
                   i -> ({" + ".join(
                       f"os[i + {j}] * {pow(text_ops.ROLL_B, 8 - 1 - j, text_ops.ROLL_P)}"
                       for j in range(8)
                   )}) % {text_ops.ROLL_P}) AS grams
        FROM o
    )
    SELECT DISTINCT doc_id,
           unnest(list_distinct(list_transform(
               range(1, greatest(len(grams) - {4} + 1, 1) + 1),
               i -> list_min(grams[i : i + {4} - 1])))) AS fp
    FROM g
    """,
)
def doc_winnow_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing fingerprints (rolling-hash k-grams, window minima) —
    copy-detection-granularity fingerprints, zero-shuffle."""
    return text_ops.winnow_fingerprints(_docs(spark, sf_dir), k=8, w=4)


_ALL_STOPS = sorted({w for ws in text_ops.STOPWORDS.values() for w in ws})
_STOPS_SQL = ", ".join(f"'{w}'" for w in _ALL_STOPS)


@query(
    "doc_quality_filter",
    oracle=rf"""
    WITH t AS (
        SELECT doc_id,
               length(text) AS n_chars,
               CASE WHEN trim(text) = '' THEN 0
                    ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS n_tok,
               length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS alpha,
               length(text) - length(regexp_replace(text, '[^ ]', '', 'g'))
                   AS nonspace,
               CASE WHEN trim(text) = '' THEN 0
                    ELSE len(list_filter(
                        list_transform(regexp_split_to_array(trim(text), '\s+'),
                                       x -> lower(x)),
                        x -> x IN ({_STOPS_SQL}))) END AS stop_hits
        FROM documents
    )
    SELECT doc_id,
           (CASE WHEN n_tok < 5 THEN 'too_few_tokens'
                 WHEN alpha / greatest(n_chars, 1) < 0.5 THEN 'low_alpha_ratio'
                 WHEN nonspace / CAST(n_tok AS DOUBLE) > 15.0 THEN 'long_tokens'
                 WHEN stop_hits / CAST(n_tok AS DOUBLE) < 0.02
                     THEN 'low_stopword_ratio'
            END) IS NULL AS keep,
           CASE WHEN n_tok < 5 THEN 'too_few_tokens'
                WHEN alpha / greatest(n_chars, 1) < 0.5 THEN 'low_alpha_ratio'
                WHEN nonspace / CAST(n_tok AS DOUBLE) > 15.0 THEN 'long_tokens'
                WHEN stop_hits / CAST(n_tok AS DOUBLE) < 0.02
                    THEN 'low_stopword_ratio'
           END AS reason,
           floor((CASE WHEN n_tok > 0 THEN stop_hits / CAST(n_tok AS DOUBLE) END) * 1e6 + 0.5) / 1e6
               AS stopword_ratio
    FROM t
    """,
)
def doc_quality_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composite quality gate (C4/Gopher-style heuristics): keep/drop +
    first failing rule per document — zero-shuffle corpus scan."""
    return text_ops.quality_filter(_docs(spark, sf_dir))


@query(
    "source_quota_sample",
    oracle="""
    SELECT doc_id, source FROM (
        SELECT doc_id, source,
               row_number() OVER (PARTITION BY source ORDER BY doc_id) AS rn
        FROM documents
    ) WHERE rn <= 10
    """,
)
def source_quota_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source quota (source balancing): cap each source's
    contribution at N documents, deterministically (lowest doc_ids
    win). One shuffle on source; rank, don't sort globally."""
    from pyspark.sql import Window

    docs = _docs(spark, sf_dir)
    w = Window.partitionBy("source").orderBy("doc_id")
    return (
        docs.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 10)
        .select("doc_id", "source")
    )


@query(
    "doc_chunks",
    oracle="""
    SELECT doc_id, CAST(i - 1 AS INT) AS chunk_id,
           substring(text, (i - 1) * 200 + 1, 200) AS chunk
    FROM documents,
         unnest(generate_series(1, CAST(ceil(length(text) / 200.0) AS BIGINT)))
             AS t(i)
    WHERE length(text) > 0
    """,
)
def doc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width document chunking (context-window packing prep):
    each doc explodes into ceil(len/200) substring chunks — a pure
    per-row sequence + map-side posexplode, zero shuffles. Token-aware
    chunking swaps the substring for a token-boundary scan; the plan
    shape is identical."""
    docs = _docs(spark, sf_dir).filter(F.length("text") > 0)
    n_chunks = F.ceil(F.length("text") / F.lit(200.0)).cast("int")
    return docs.select(
        "doc_id",
        F.posexplode(F.sequence(F.lit(1), n_chunks)).alias("chunk_id", "i"),
        "text",
    ).select(
        "doc_id",
        F.col("chunk_id").cast("int").alias("chunk_id"),
        F.substring(F.col("text"), (F.col("i") - 1) * 200 + 1, 200).alias(
            "chunk"
        ),
    )


@query(
    "doc_pack_assignments",
    # Invariant-flag oracle (r7, the sketch_user_overlap pattern):
    # pack ids are partition-relative (engine-defined), but the
    # CONTRACT is SQL-expressible — every doc assigned exactly once
    # (rowcount = |documents|), each doc's whitespace token count
    # (mirrored below), and its pack within the 2048 budget unless
    # the doc alone overflows it (such docs get a pack of their own).
    # A packing bug — dropped doc, doc in two packs, overflowing
    # shared pack — flips the rowcount or the flag hash.
    oracle=r"""
    SELECT doc_id,
           CAST(CASE WHEN trim(text) = '' THEN 0
                ELSE len(regexp_split_to_array(trim(text), '\s+'))
                END AS BIGINT) AS n_tokens,
           TRUE AS pack_ok
    FROM documents
    """,
)
def doc_pack_assignments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy token-budget sequence packing (training-batch
    construction): every document assigned to a pack of <= 2048
    tokens, map-only per partition (operators/text.py::
    pack_sequences). Drivable surface = (doc_id, n_tokens, pack_ok):
    pack ids embed the partition id so the raw assignment is
    engine-defined, but assignment coverage, the token counts, and
    the per-pack budget invariant hash-check exactly. Fill efficiency
    stays pytest-pinned (tests/test_text.py)."""
    from pyspark.sql import Window

    packed = text_ops.pack_sequences(_docs(spark, sf_dir), budget=2048)
    w = Window.partitionBy("pack_id")
    return packed.select(
        "doc_id",
        "n_tokens",
        (
            (F.sum("n_tokens").over(w) <= F.lit(2048))
            | (F.count(F.lit(1)).over(w) == 1)
        ).alias("pack_ok"),
    )


@query(
    "doc_repetition_stats",
    oracle=r"""
    WITH base AS (
        SELECT doc_id, trim(lower(text)) AS t FROM documents
    ),
    toks AS (
        SELECT doc_id, unnest(regexp_split_to_array(t, '\s+')) AS tok
        FROM base WHERE t <> ''
    ),
    cnt AS (SELECT doc_id, tok, COUNT(*) AS c FROM toks GROUP BY 1, 2),
    agg AS (
        SELECT doc_id,
               CAST(SUM(c) AS BIGINT) AS n_tokens,
               CAST(COUNT(*) AS BIGINT) AS n_distinct_tokens,
               CAST(MAX(c) AS BIGINT) AS top_cnt
        FROM cnt GROUP BY 1
    )
    SELECT b.doc_id,
           COALESCE(a.n_tokens, 0) AS n_tokens,
           COALESCE(a.n_distinct_tokens, 0) AS n_distinct_tokens,
           a.n_distinct_tokens / CAST(a.n_tokens AS DOUBLE)
               AS type_token_ratio,
           a.top_cnt / CAST(a.n_tokens AS DOUBLE) AS top_token_share
    FROM base b LEFT JOIN agg a USING (doc_id)
    """,
)
def doc_repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repetition quality signals (type-token ratio, top-token share)
    per document — one Arrow map pass; the oracle recomputes via
    explode + group."""
    return text_ops.repetition_stats(_docs(spark, sf_dir))


@query(
    "text_tfidf_top_terms",
    oracle=r"""
    WITH toks AS (
        SELECT doc_id,
               lower(unnest(regexp_split_to_array(trim(text), '\s+'))) AS word
        FROM documents WHERE trim(text) <> ''
    ),
    tf AS (
        SELECT doc_id, word, CAST(COUNT(*) AS BIGINT) AS tf
        FROM toks GROUP BY doc_id, word
    ),
    dfq AS (
        SELECT word, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY word
    ),
    n AS (SELECT COUNT(*) AS n_docs FROM documents)
    SELECT doc_id, word, tf, df, score FROM (
        SELECT t.doc_id, t.word, t.tf, d.df,
               floor((t.tf * ln((n.n_docs + 1.0) / (d.df + 1.0))) * 1e6 + 0.5) / 1e6 AS score,
               row_number() OVER (
                   PARTITION BY t.doc_id
                   ORDER BY floor((t.tf * ln((n.n_docs + 1.0) / (d.df + 1.0))) * 1e6 + 0.5) / 1e6 DESC,
                            t.word
               ) AS rn
        FROM tf t JOIN dfq d USING (word) CROSS JOIN n
    ) WHERE rn <= 3
    """,
)
def text_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 characteristic terms per document by standard smoothed
    tf-idf (tf * ln((N+1)/(df+1))); scores rounded to 6 places BEFORE
    ranking so a last-ulp ln() difference between engines cannot flip
    a rank (lexicographic word tiebreak decides boundary collisions
    identically on both sides)."""
    return text_ops.tfidf_top_terms(_docs(spark, sf_dir), k=3)


@query(
    "word_bigrams_top100",
    oracle=r"""
    WITH words AS (
        SELECT list_transform(regexp_split_to_array(trim(text), '\s+'),
                              w -> lower(w)) AS ws
        FROM documents WHERE trim(text) <> ''
    ),
    bi AS (
        SELECT unnest(list_transform(range(1, len(ws)),
                      i -> ws[i] || ' ' || ws[i + 1])) AS bigram
        FROM words WHERE len(ws) >= 2
    )
    SELECT bigram, CAST(COUNT(*) AS BIGINT) AS n
    FROM bi GROUP BY bigram
    ORDER BY n DESC, bigram
    LIMIT 100
    """,
)
def word_bigrams_top100(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus bigram frequency top-100 — the n-gram LM statistic over
    adjacent token pairs. Map-side pair enumeration inside the token
    array (operators.text.word_bigrams: no self-join, no keyed
    shuffle before the partial count); top-k is TakeOrderedAndProject."""
    big = text_ops.word_bigrams(_docs(spark, sf_dir))
    return (
        big.groupBy("bigram")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), "bigram")
        .limit(100)
    )


@query(
    "doc_pii_redact",
    oracle=r"""
    SELECT doc_id,
           regexp_replace(regexp_replace(regexp_replace(text,
               '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
               '\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b', '<IP>', 'g'),
               '\b[0-9]{3}[-.][0-9]{3}[-.][0-9]{4}\b', '<PHONE>', 'g') AS redacted,
           CAST(len(regexp_extract_all(text,
               '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT) AS n_email,
           CAST(len(regexp_extract_all(text,
               '\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b')) AS BIGINT) AS n_ipv4,
           CAST(len(regexp_extract_all(text,
               '\b[0-9]{3}[-.][0-9]{3}[-.][0-9]{4}\b')) AS BIGINT) AS n_phone,
           CAST(len(regexp_extract_all(text,
               '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT)
           + CAST(len(regexp_extract_all(text,
               '\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b')) AS BIGINT)
           + CAST(len(regexp_extract_all(text,
               '\b[0-9]{3}[-.][0-9]{3}[-.][0-9]{4}\b')) AS BIGINT) AS pii_total
    FROM documents
    """,
)
def doc_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrubbing pass (emails / IPv4 / phone): redacted text plus
    per-kind hit counts, one codegen'd projection, zero shuffle. The
    DuckDB oracle re-runs the identical regex chain, so the check pins
    Java-regex/RE2 agreement on the pattern subset used."""
    return text_ops.pii_redact(_docs(spark, sf_dir))


@query(
    "doc_host_stats",
    oracle=r"""
    WITH t AS (
        SELECT doc_id,
               text
               || ' https://site' || CAST(doc_id % 23 AS VARCHAR)
               || '.example.org/page/' || CAST(doc_id AS VARCHAR)
               || CASE WHEN doc_id % 5 = 0
                       THEN ' http://cdn.example.net:8080/asset?id='
                            || CAST(doc_id AS VARCHAR)
                       ELSE '' END
               || CASE WHEN doc_id % 7 = 0
                       THEN ' https://site' || CAST(doc_id % 23 AS VARCHAR)
                            || '.example.org/alt#frag'
                       ELSE '' END AS text
        FROM documents
    ), u AS (
        SELECT doc_id,
               unnest(regexp_extract_all(text, 'https?://[^ \t\n\r]+')) AS url
        FROM t
    ), h AS (
        SELECT doc_id,
               regexp_extract(url, 'https?://([^/:?# \t\n\r]+)', 1) AS host
        FROM u
    )
    SELECT host,
           CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
           CAST(count(*) AS BIGINT) AS n_mentions
    FROM h WHERE host <> '' GROUP BY host
    """,
)
def doc_host_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-host URL stats (crawl-quota / blocklist input): extract +
    explode map-side, one partial-agg shuffle on the low-cardinality
    host key. URL injection lives in the shared fixture-prep helper
    ``_with_synthetic_urls`` (the synthetic corpus carries no URLs), so
    the measured/timed body here is host_stats alone; the oracle
    mirrors the prep verbatim. NOTE (bench history): r3 introduced the
    URL prep, so doc_host_stats timings are not comparable to r2."""
    return text_ops.host_stats(_with_synthetic_urls(_docs(spark, sf_dir)))


def _with_synthetic_urls(docs: DataFrame) -> DataFrame:
    """Fixture-layer URL injection (deterministic from doc_id, mirrored
    by the doc_host_stats oracle): every doc gets a sharded-host page
    URL, every 5th adds a port-qualified CDN URL (exercising the ':'
    host boundary), every 7th repeats its host (n_mentions > n_docs).
    One concat projection — negligible next to the regex extraction it
    feeds, and excluded from the operator's own code path."""
    d = F.col("doc_id")
    ds = d.cast("string")
    shard = (d % 23).cast("string")
    urlified = F.concat(
        F.col("text"),
        F.lit(" https://site"), shard, F.lit(".example.org/page/"), ds,
        F.when(
            d % 5 == 0,
            F.concat(F.lit(" http://cdn.example.net:8080/asset?id="), ds),
        ).otherwise(F.lit("")),
        F.when(
            d % 7 == 0,
            F.concat(
                F.lit(" https://site"), shard, F.lit(".example.org/alt#frag")
            ),
        ).otherwise(F.lit("")),
    )
    return docs.withColumn("text", urlified)


@query(
    "doc_split_assign",
    oracle="""
    SELECT doc_id,
           CASE WHEN substr(md5('split' || CAST(doc_id AS VARCHAR)), 1, 4) < 'cccc'
                THEN 'train'
                WHEN substr(md5('split' || CAST(doc_id AS VARCHAR)), 1, 4) < 'e666'
                THEN 'val'
                ELSE 'test' END AS split
    FROM documents
    """,
)
def doc_split_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 80/10/10 train/val/test assignment by md5 bucket
    (hash_split_portable) — the auditable twin of the xxhash64 split:
    the oracle recomputes every assignment independently, proving any
    md5-capable system can verify no doc leaks between splits."""
    docs = _docs(spark, sf_dir)
    return text_ops.hash_split_portable(
        docs, "doc_id", {"train": 8, "val": 1, "test": 1}
    ).select("doc_id", "split")


@query(
    "doc_unigram_logprob",
    oracle=r"""
    WITH toks AS (
        SELECT doc_id,
               lower(unnest(regexp_split_to_array(trim(text), '\s+'))) AS word
        FROM documents WHERE trim(text) <> ''
    ), tf AS (
        SELECT doc_id, word, CAST(COUNT(*) AS BIGINT) AS tf
        FROM toks GROUP BY doc_id, word
    ), vocab AS (
        SELECT word, CAST(SUM(tf) AS BIGINT) AS c FROM tf GROUP BY word
    ), tot AS (
        SELECT CAST(SUM(c) AS BIGINT) AS n, CAST(COUNT(*) AS BIGINT) AS v
        FROM vocab
    ), scored AS (
        SELECT tf.doc_id, tf.tf,
               CAST(floor((ln((vocab.c + 1.0) / (tot.n + tot.v))) * 1e6 + 0.5) / 1e6
                    AS DECIMAL(25,6)) AS logp
        FROM tf JOIN vocab USING (word) CROSS JOIN tot
    )
    SELECT doc_id,
           CAST(SUM(tf) AS BIGINT) AS n_tokens,
           floor(CAST(CAST(SUM(logp * tf) AS VARCHAR) AS DOUBLE) / SUM(tf) * 1e6 + 0.5) / 1e6
               AS avg_logprob
    FROM scored GROUP BY doc_id
    """,
)
def doc_unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-trained unigram language-model score per document — the
    classic cheap LM-quality filter (docs whose tokens are improbable
    under the corpus distribution score low; gibberish and boilerplate
    sit at the extremes). Laplace-smoothed: logp(w) = ln((c_w+1)/(N+V)).

    Shape at scale: explode is absorbed map-side by the (doc, word)
    partial count; the model "training" (vocab counts) is a second agg
    over |vocab| rows; scalar totals broadcast; the score join shuffles
    |doc-word pairs| once on word. Determinism across engines: each ln
    rounds to 6 places, the per-doc accumulation is an exact DECIMAL
    dot-product (order-independent), one double division at the end.
    """
    from cdc_kafka_project_spark.functions import tokens

    docs = _docs(spark, sf_dir)
    toks = docs.select(
        "doc_id",
        F.explode(F.transform(tokens("text"), lambda t: F.lower(t))).alias(
            "word"
        ),
    )
    tf = toks.groupBy("doc_id", "word").agg(F.count(F.lit(1)).alias("tf"))
    # model table persisted once: consumed by the score join AND the
    # scalar totals — without it each branch re-explodes the corpus
    # (same measured pathology as doc_bigram_logprob; see that
    # docstring for the scan-count analysis)
    vocab = scoped_persist(tf.groupBy("word").agg(F.sum("tf").alias("c")))
    tot = vocab.agg(
        F.sum("c").alias("__n"), F.count(F.lit(1)).alias("__v")
    )
    logp = fround(
        F.log((F.col("c") + F.lit(1.0)) / (F.col("__n") + F.col("__v"))), 6
    ).cast("decimal(25,6)")
    scored = (
        tf.join(vocab, "word")
        .join(F.broadcast(tot))
        .withColumn("__logp", logp)
    )
    # floor(x*1e6 + 0.5)/1e6 instead of round(x, 6): both engines see
    # bit-identical x (exact decimal dot product -> one IEEE divide),
    # and this form is a pure function of those bits — Spark's round
    # (BigDecimal HALF_UP) and DuckDB's (scaled-double rounding) can
    # disagree at exact half boundaries, which sf0.1 actually hit.
    avg = F.sum(F.col("__logp") * F.col("tf")).cast("double") / F.sum("tf")
    return scored.groupBy("doc_id").agg(
        F.sum("tf").alias("n_tokens"),
        (F.floor(avg * 1e6 + F.lit(0.5)) / 1e6).alias("avg_logprob"),
    )


@query(
    "doc_source_quality_gate",
    oracle="""
    WITH th AS (
        SELECT source, floor(quantile_cont(n_chars, 0.25) * 1e6 + 0.5) / 1e6 AS src_p25
        FROM documents GROUP BY source
    )
    SELECT d.doc_id, d.source, d.n_chars, th.src_p25
    FROM documents d JOIN th USING (source)
    WHERE d.n_chars >= th.src_p25
    """,
)
def doc_source_quality_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source quantile gating (curation policy: drop each source's
    shortest quartile rather than a global cutoff, so low-resource
    sources aren't wiped out by a high-resource source's length
    profile). Two-phase: per-source exact interpolated p25 (tiny agg,
    |sources| rows), broadcast back, one filter pass — no window over
    the corpus, no global sort. Spark percentile() and DuckDB
    quantile_cont share the linear-interpolation definition; the
    threshold rounds to 6 to absorb the last ulp."""
    docs = _docs(spark, sf_dir)
    th = docs.groupBy("source").agg(
        (F.floor(F.percentile("n_chars", F.lit(0.25)) * 1e6 + F.lit(0.5)) / 1e6).alias("src_p25")
    )
    return (
        docs.join(F.broadcast(th), "source")
        .filter(F.col("n_chars") >= F.col("src_p25"))
        .select("doc_id", "source", "n_chars", "src_p25")
    )


@query(
    "doc_uniform_sample",
    oracle="""
    SELECT doc_id, source
    FROM documents
    ORDER BY md5('sample' || CAST(doc_id AS VARCHAR)), doc_id
    LIMIT 100
    """,
)
def doc_uniform_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic uniform k-sample: rank every doc by the md5 of a
    salted key and take the k smallest — reproducible on any md5-capable
    engine (the auditable twin of rand()-sampling, same trick as
    hash_split_portable). Plans as TakeOrderedAndProject: per-partition
    top-k heaps, k rows to the driver, never a global sort — the only
    sane shape for "give me 10k docs from 100 TB"."""
    docs = _docs(spark, sf_dir)
    rank = F.md5(F.concat(F.lit("sample"), F.col("doc_id").cast("string")))
    return (
        docs.select("doc_id", "source", rank.alias("__r"))
        .orderBy("__r", "doc_id")
        .limit(100)
        .select("doc_id", "source")
    )


@query(
    "source_weighted_sample",
    oracle="""
    SELECT doc_id, source
    FROM documents
    WHERE substr(md5('mix' || CAST(doc_id AS VARCHAR)), 1, 4) <
          CASE WHEN source IN ('src0', 'src1', 'src2') THEN 'cccc'
               WHEN source IN ('src3', 'src4') THEN '6666'
               ELSE '1999' END
    """,
)
def source_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic per-source rate sampling (data-mixing): keep a doc
    iff its salted md5 bucket falls under the source's target rate
    (here 80% / 40% / 10% tiers — the up/down-weighting step of corpus
    mixing recipes). Pure map-side filter, zero shuffle, and any
    md5-capable system reproduces the exact kept set — no rand(), no
    seed coupling to partitioning."""
    docs = _docs(spark, sf_dir)
    bucket = F.substring(
        F.md5(F.concat(F.lit("mix"), F.col("doc_id").cast("string"))), 1, 4
    )
    rate = (
        F.when(F.col("source").isin("src0", "src1", "src2"), F.lit("cccc"))
        .when(F.col("source").isin("src3", "src4"), F.lit("6666"))
        .otherwise(F.lit("1999"))
    )
    return docs.filter(bucket < rate).select("doc_id", "source")


@query(
    "doc_url_canonical",
    oracle=r"""
    WITH u AS (
        SELECT doc_id,
               'HTTP://Site' || CAST(doc_id % 23 AS VARCHAR)
                   || '.Example.org:80/Page/' || CAST(doc_id AS VARCHAR)
                   || '/#sec' || CAST(doc_id % 7 AS VARCHAR) AS url
        FROM documents
        UNION ALL
        SELECT doc_id,
               'https://CDN.example.net:443/Asset?Id=' || CAST(doc_id AS VARCHAR)
        FROM documents WHERE doc_id % 5 = 0
    ), c AS (
        SELECT doc_id, url,
               regexp_replace(url, '#.*$', '') AS u1
        FROM u
    ), p AS (
        SELECT doc_id, url,
               lower(regexp_extract(u1, '^([A-Za-z][A-Za-z0-9+.-]*://[^/]*)', 1))
                   || substr(u1, length(regexp_extract(u1, '^([A-Za-z][A-Za-z0-9+.-]*://[^/]*)', 1)) + 1)
                   AS u2
        FROM c
    )
    SELECT doc_id, url,
           regexp_replace(
               regexp_replace(
                   regexp_replace(u2, '^(http://[^/:]+):80(/|$)', '\1\2'),
                   '^(https://[^/:]+):443(/|$)', '\1\2'),
               '/$', '') AS canon_url
    FROM p
    """,
)
def doc_url_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL canonicalization (operators/text.py::canonical_url) over a
    deterministic doc_id-derived fixture exercising every rule:
    mixed-case scheme/host (lowercased; path case preserved per RFC
    3986), fragments (stripped), default ports http:80/https:443
    (removed), trailing slash (stripped). Zero-shuffle projection; the
    oracle re-runs the identical regex chain on DuckDB's RE2."""
    docs = _docs(spark, sf_dir)
    d, ds = F.col("doc_id"), F.col("doc_id").cast("string")
    page = docs.select(
        "doc_id",
        F.concat(
            F.lit("HTTP://Site"), (d % 23).cast("string"),
            F.lit(".Example.org:80/Page/"), ds,
            F.lit("/#sec"), (d % 7).cast("string"),
        ).alias("url"),
    )
    cdn = docs.filter(d % 5 == 0).select(
        "doc_id",
        F.concat(
            F.lit("https://CDN.example.net:443/Asset?Id="), ds
        ).alias("url"),
    )
    u = page.unionByName(cdn)
    return u.select(
        "doc_id", "url", text_ops.canonical_url(F.col("url")).alias("canon_url")
    )


@query(
    "doc_span_dedup",
    oracle=r"""
    WITH words AS (
        SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS ws
        FROM documents WHERE trim(text) <> ''
    ),
    segs AS (
        SELECT doc_id, i AS span_idx,
               array_to_string(ws[(i * 10 + 1):(i * 10 + 10)], ' ') AS span
        FROM words,
             unnest(range(0, CAST(ceil(len(ws) / 10.0) AS BIGINT))) AS t(i)
    ),
    firsts AS (
        SELECT span, MIN(doc_id * 1000000 + span_idx) AS first_key
        FROM segs GROUP BY span
    ),
    kept AS (
        SELECT s.doc_id, s.span_idx, s.span
        FROM segs s JOIN firsts f USING (span)
        WHERE s.doc_id * 1000000 + s.span_idx = f.first_key
    )
    SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_spans_kept,
           string_agg(span, ' ' ORDER BY span_idx) AS text_dedup
    FROM kept GROUP BY doc_id
    """,
)
def doc_span_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4-style span dedup (see operators/dedup.span_dedup): every
    10-token span keeps only its first corpus occurrence; documents are
    reassembled from their surviving spans. Removes cross-document
    boilerplate that doc-level dedup can't; docs made entirely of
    repeated spans drop out. One span-keyed shuffle (bounded width) +
    one per-doc regroup."""
    from cdc_kafka_project_spark.operators.dedup import span_dedup

    return span_dedup(_docs(spark, sf_dir), span_tokens=10)


@query(
    "doc_stratified_split",
    oracle="""
    WITH ranked AS (
        SELECT doc_id, lang,
               row_number() OVER (
                   PARTITION BY lang
                   ORDER BY md5('strat' || CAST(doc_id AS VARCHAR)), doc_id
               ) AS rn,
               COUNT(*) OVER (PARTITION BY lang) AS n
        FROM documents
    )
    SELECT doc_id, lang,
           CASE WHEN rn <= CAST(floor(CAST(n AS DOUBLE) * 0.8) AS BIGINT)
                    THEN 'train'
                WHEN rn <= CAST(floor(CAST(n AS DOUBLE) * 0.9) AS BIGINT)
                    THEN 'val'
                ELSE 'test' END AS split
    FROM ranked
    """,
)
def doc_stratified_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stratified 80/10/10 split with EXACT per-stratum proportions
    (floor boundaries), strata = language: a salted-md5 rank inside
    each language assigns splits deterministically — unlike the
    expected-proportion hash_split_portable, every language lands
    exactly floor(n*0.8)/floor(n*0.9) cut points, so low-resource
    languages cannot be starved of eval docs by hash luck. One rank
    window per stratum; seed-free and reproducible on any md5-capable
    engine."""
    from pyspark.sql import Window

    docs = _docs(spark, sf_dir)
    rank = F.md5(F.concat(F.lit("strat"), F.col("doc_id").cast("string")))
    w = Window.partitionBy("lang").orderBy(rank, "doc_id")
    wn = Window.partitionBy("lang")
    n = F.count(F.lit(1)).over(wn)
    rn = F.row_number().over(w)
    split = (
        F.when(rn <= F.floor(n.cast("double") * 0.8).cast("long"), "train")
        .when(rn <= F.floor(n.cast("double") * 0.9).cast("long"), "val")
        .otherwise("test")
    )
    return docs.select("doc_id", "lang", split.alias("split"))


N_LEAK_DUPS = 20
LEAK_ID_OFFSET = 1_000_000


@query(
    "split_leakage_audit",
    oracle=f"""
    WITH dups AS (
        SELECT doc_id + {LEAK_ID_OFFSET} AS doc_id, text
        FROM documents
        WHERE doc_id IN (SELECT doc_id FROM documents
                         ORDER BY doc_id LIMIT {N_LEAK_DUPS})
    ),
    corpus AS (
        SELECT doc_id, text FROM documents
        UNION ALL SELECT doc_id, text FROM dups
    ),
    assigned AS (
        SELECT md5(trim(text)) AS fingerprint,
               CASE WHEN substr(md5('split' || CAST(doc_id AS VARCHAR)), 1, 4)
                         < 'cccc' THEN 'train'
                    WHEN substr(md5('split' || CAST(doc_id AS VARCHAR)), 1, 4)
                         < 'e666' THEN 'val'
                    ELSE 'test' END AS split
        FROM corpus
    )
    SELECT fingerprint,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(COUNT(DISTINCT split) AS BIGINT) AS n_splits
    FROM assigned
    GROUP BY fingerprint
    HAVING COUNT(DISTINCT split) > 1
    """,
)
def split_leakage_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-split contamination audit: content fingerprints that land
    in MORE than one train/val/test split — the leak that silently
    inflates eval scores. The raw corpus is duplicate-free by
    construction, so the fixture prep re-injects the {N_LEAK_DUPS}
    lowest-id docs under fresh ids (same ``_with_injected_dups``
    pattern as the near-dup family; the oracle mirrors the prep), and
    the md5 split assignment scatters the copies across splits.

    Shape at scale: fingerprint + split are each one map-side
    projection; the only shuffle is the 16-byte-key groupBy, and the
    HAVING prunes the (overwhelming) single-split majority before any
    output materializes. This is the audit run AFTER doc_split_assign
    and BEFORE training — the operator pair (assign, audit) closes the
    loop the decontamination operators open."""
    docs = _docs(spark, sf_dir).select("doc_id", "text")
    dups = (
        docs.orderBy("doc_id")
        .limit(N_LEAK_DUPS)
        .withColumn("doc_id", F.col("doc_id") + F.lit(LEAK_ID_OFFSET))
    )
    assigned = text_ops.hash_split_portable(
        docs.unionByName(dups), "doc_id", {"train": 8, "val": 1, "test": 1}
    )
    return (
        assigned.select(F.md5(F.trim("text")).alias("fingerprint"), "split")
        .groupBy("fingerprint")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.countDistinct("split").alias("n_splits"),
        )
        .filter(F.col("n_splits") > 1)
    )


@query(
    "lang_source_pmi",
    oracle="""
    WITH cells AS (
        SELECT lang, source, CAST(COUNT(*) AS BIGINT) AS n_docs
        FROM documents GROUP BY lang, source
    ),
    lang_tot AS (
        SELECT lang, CAST(SUM(n_docs) AS BIGINT) AS n_l FROM cells GROUP BY lang
    ),
    src_tot AS (
        SELECT source, CAST(SUM(n_docs) AS BIGINT) AS n_s FROM cells GROUP BY source
    ),
    tot AS (SELECT CAST(SUM(n_docs) AS BIGINT) AS n FROM cells)
    SELECT c.lang, c.source, c.n_docs,
           floor(ln((CAST(c.n_docs AS DOUBLE) * n) /
                    (CAST(n_l AS DOUBLE) * n_s)) * 1e6 + 0.5) / 1e6 AS pmi
    FROM cells c
    JOIN lang_tot USING (lang) JOIN src_tot USING (source) CROSS JOIN tot
    """,
)
def lang_source_pmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pointwise mutual information between language and source — the
    association scan a corpus-mixing plan runs to spot sources that
    over-concentrate a language (pmi >> 0) before weighting them.

    Scale shape: ONE shuffle over the facts (the lang x source cell
    agg); the marginals and grand total re-aggregate the tiny cell
    table, and the three joins are broadcasts of |langs| / |sources| /
    1 rows. All count arithmetic is exact integer-in-double (< 2^53);
    the single ln goes through the floor(x*1e6 + 0.5) portable
    rounding both engines share (same policy as doc_unigram_logprob)."""
    docs = _docs(spark, sf_dir)
    # cell table persisted: four consumers (marginals x2, total, the
    # final join) would otherwise each re-scan the corpus — the same
    # measured pathology doc_bigram_logprob documents
    cells = scoped_persist(
        docs.groupBy("lang", "source")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )
    lang_tot = cells.groupBy("lang").agg(F.sum("n_docs").alias("n_l"))
    src_tot = cells.groupBy("source").agg(F.sum("n_docs").alias("n_s"))
    tot = cells.agg(F.sum("n_docs").alias("n"))
    ratio = (F.col("n_docs").cast("double") * F.col("n")) / (
        F.col("n_l").cast("double") * F.col("n_s")
    )
    return (
        cells.join(F.broadcast(lang_tot), "lang")
        .join(F.broadcast(src_tot), "source")
        .crossJoin(F.broadcast(tot))
        .select(
            "lang",
            "source",
            "n_docs",
            (F.floor(F.log(ratio) * 1e6 + F.lit(0.5)) / 1e6).alias("pmi"),
        )
    )


@query(
    "bpe_merge_ranks",
    # Structural oracle (r8): the FIRST merge is plain SQL — the
    # weighted adjacent-char-pair argmax over the distinct-word
    # frequency table with the trainer's exact tie-break
    # (count DESC, left ASC, right ASC; overlapping pairs counted,
    # matching _pair_counts) — so the oracle mirrors rank 0's learned
    # pair verbatim plus the merge-table structure invariants for all
    # 24 ranks (exact rowcount, non-empty parts, merged = left||right).
    # Ranks 1+ need the greedy symbol-array rewrite applied between
    # argmaxes (inherently iterative) and stay pytest-pinned against a
    # pure-Python reference (tests/test_bpe.py), as does the flags'
    # negative case. ASCII-corpus assumption (JVM lower()/binary
    # collation == DuckDB utf8proc/collation) is pinned in
    # tests/test_text.py so a non-ASCII testdata generation fails
    # loudly in pytest before it can flip this gate.
    oracle=r"""
    WITH words AS (
        SELECT word, CAST(COUNT(*) AS BIGINT) AS freq
        FROM (
            SELECT unnest(regexp_split_to_array(lower(trim(text)), '\s+'))
                   AS word
            FROM documents WHERE trim(text) <> ''
        )
        WHERE word <> ''
        GROUP BY word
    ),
    pairs AS (
        SELECT substr(word, i, 1) AS l, substr(word, i + 1, 1) AS r,
               SUM(freq) AS n
        FROM words, unnest(generate_series(1, len(word) - 1)) AS t(i)
        WHERE len(word) >= 2
        GROUP BY 1, 2
    ),
    top0 AS (SELECT l, r FROM pairs ORDER BY n DESC, l, r LIMIT 1)
    SELECT CAST(t.rank AS INT) AS rank,
           CASE WHEN t.rank = 0 THEN (SELECT l FROM top0) END AS left0,
           CASE WHEN t.rank = 0 THEN (SELECT r FROM top0) END AS right0,
           TRUE AS parts_nonempty,
           TRUE AS merged_is_concat
    FROM unnest(generate_series(0, 23)) AS t(rank)
    """,
)
def bpe_merge_ranks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-scale BPE tokenizer induction (operators/bpe.py): the
    first 24 learned merge rules in rank order, folded to the drivable
    surface — rank 0's pair mirrored exactly (SQL-computable argmax),
    ranks 1+ as structure flags (iterative training not
    SQL-expressible); exact parity of the full merge table with a
    pure-Python reference implementation (including greedy-overlap and
    tiebreak semantics, on any partitioning) is pinned in
    tests/test_bpe.py.

    Scale shape: ONE full-corpus pass collapses text to the distinct
    word-frequency table; every round after that is a pair-count
    shuffle over |vocab| rows plus a 1-row driver argmax read (the
    bounded-collect trainer contract shared with k-means/PQ), and the
    rewrite is a zero-shuffle higher-order fold re-persisted per round
    to keep lineage linear."""
    from cdc_kafka_project_spark.operators.bpe import bpe_merge_table

    merges = bpe_merge_table(_docs(spark, sf_dir), n_merges=24)
    return merges.select(
        "rank",
        F.when(F.col("rank") == 0, F.col("left")).alias("left0"),
        F.when(F.col("rank") == 0, F.col("right")).alias("right0"),
        ((F.length("left") > 0) & (F.length("right") > 0)).alias(
            "parts_nonempty"
        ),
        (F.col("merged") == F.concat("left", "right")).alias(
            "merged_is_concat"
        ),
    )


@query(
    "doc_bpe_token_counts",
    # Invariant-flag oracle (r7): the learned merge table is
    # engine-side, but the tokenization CONTRACT sandwiches exactly —
    # every non-empty doc appears once (rowcount), its non-whitespace
    # char count is plain SQL, and the BPE token count must lie in
    # [n_words, n_word_chars] (each word is at least one token; a
    # token never spans less than one character). A dropped word, a
    # vocab miss, or a token explosion flips the rowcount, the char
    # column, or the flag.
    # ASCII-CORPUS ASSUMPTION (round-7 advice): n_word_chars equates
    # Spark's JVM lower() with DuckDB's utf8proc lower(); non-ASCII
    # case mappings that change string length (e.g. U+0130) differ
    # between the engines. The corpus is all-ASCII at every sf —
    # pinned in tests/test_text.py so a non-ASCII testdata generation
    # fails loudly in pytest before it can flip this gate.
    oracle=r"""
    SELECT doc_id,
           CAST(len(regexp_replace(lower(trim(text)), '\s+', '', 'g'))
                AS BIGINT) AS n_word_chars,
           TRUE AS token_bounds_ok
    FROM documents
    WHERE trim(text) <> ''
    """,
)
def doc_bpe_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Apply the trained BPE tokenizer corpus-wide: per-doc token count
    and chars-per-token compression. The apply path is a JOIN, not a
    per-row recompute — each DISTINCT word is segmented once
    (operators/bpe.py::bpe_vocab_table, chained merge folds over
    |vocab| rows), then docs explode to words and broadcast-join the
    lookup table with one partial-agg shuffle on doc_id. Token-count
    parity with the reference encoder is pinned in tests/test_bpe.py;
    the drivable surface folds the count into the
    [n_words, n_word_chars] sandwich flag (oracle-mirrored chars)."""
    from cdc_kafka_project_spark import cache
    from cdc_kafka_project_spark.operators.bpe import (
        bpe_token_counts,
        bpe_vocab_table,
        train_bpe,
    )

    docs = _docs(spark, sf_dir)
    # ONE corpus pass builds the shared (word, freq) artifact; training
    # folds over it, the segmentation table derives from it, and the
    # apply pass emits n_words from its own aggregation — 2 executed
    # scans of documents (artifact + apply), down from 3 (r11)
    wf = cache.scoped_localcheckpoint(
        docs.select(
            F.explode(
                F.split(F.lower(F.trim(F.col("text"))), r"\s+")
            ).alias("word")
        )
        .filter(F.col("word") != "")
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("freq"))
    )
    merges = train_bpe(docs, n_merges=16, word_freqs=wf)
    vocab = bpe_vocab_table(docs, merges, words=wf)
    counts = bpe_token_counts(docs, vocab, with_word_count=True)
    return counts.select(
        "doc_id",
        "n_word_chars",
        (
            (F.col("n_bpe_tokens") >= F.col("n_words"))
            & (F.col("n_bpe_tokens") <= F.col("n_word_chars"))
        ).alias("token_bounds_ok"),
    )


@query(
    "corpus_source_report",
    oracle=r"""
    WITH per_doc AS (
        SELECT source, lang,
               md5(trim(text)) AS fp,
               CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT)
                   AS n_words,
               n_chars
        FROM documents WHERE trim(text) <> ''
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_words) AS BIGINT) AS total_words,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars,
           1.0 - COUNT(DISTINCT fp) / CAST(COUNT(*) AS DOUBLE) AS dup_rate,
           SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END)
               / CAST(COUNT(*) AS DOUBLE) AS en_share
    FROM per_doc
    GROUP BY source
    """,
)
def corpus_source_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The per-source data card: doc/word/char volume, exact duplicate
    rate (content fingerprints), english share — the one-scan summary a
    corpus release ships and a mixing plan starts from.

    One pass over the corpus, one groupBy on the low-cardinality
    source key; COUNT(DISTINCT fp) rides the same shuffle via
    Catalyst's Expand rewrite over a fixed-width 16-byte key. The
    ratios are integer-count divisions (< 2^53 — exact IEEE, no
    rounding gymnastics needed)."""
    docs = _docs(spark, sf_dir).filter(F.trim("text") != "")
    n_words = F.size(F.split(F.trim("text"), r"\s+"))
    per_doc = docs.select(
        "source",
        "lang",
        F.md5(F.trim("text")).alias("fp"),
        n_words.cast("long").alias("n_words"),
        "n_chars",
    )
    n = F.count(F.lit(1))
    return per_doc.groupBy("source").agg(
        n.alias("n_docs"),
        F.sum("n_words").alias("total_words"),
        F.sum("n_chars").alias("total_chars"),
        (F.lit(1.0) - F.countDistinct("fp") / n.cast("double")).alias("dup_rate"),
        (
            F.sum(F.when(F.col("lang") == "en", 1).otherwise(0))
            / n.cast("double")
        ).alias("en_share"),
    )


@query(
    "doc_bigram_logprob",
    oracle=r"""
    WITH words AS (
        SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS ws
        FROM documents WHERE trim(text) <> ''
    ),
    bg AS (
        SELECT doc_id, ws[i] AS w1, ws[i+1] AS w2
        FROM words, unnest(generate_series(1, len(ws) - 1)) AS t(i)
        WHERE len(ws) >= 2
    ),
    doc_bg AS (
        SELECT doc_id, w1, w2, CAST(COUNT(*) AS BIGINT) AS tf
        FROM bg GROUP BY doc_id, w1, w2
    ),
    bigram_c AS (
        SELECT w1, w2, CAST(SUM(tf) AS BIGINT) AS c12 FROM doc_bg GROUP BY w1, w2
    ),
    unigram_c AS (
        SELECT w1, CAST(SUM(c12) AS BIGINT) AS c1 FROM bigram_c GROUP BY w1
    ),
    vocab AS (
        SELECT CAST(COUNT(DISTINCT w2) AS BIGINT) AS v FROM bigram_c
    ),
    scored AS (
        SELECT d.doc_id, d.tf,
               CAST(floor((ln((bigram_c.c12 + 1.0) / (unigram_c.c1 + vocab.v))) * 1e6 + 0.5) / 1e6
                    AS DECIMAL(25,6)) AS logp
        FROM doc_bg d
        JOIN bigram_c USING (w1, w2) JOIN unigram_c USING (w1)
        CROSS JOIN vocab
    )
    SELECT doc_id,
           CAST(SUM(tf) AS BIGINT) AS n_bigrams,
           floor(CAST(CAST(SUM(logp * tf) AS VARCHAR) AS DOUBLE) / SUM(tf) * 1e6 + 0.5) / 1e6
               AS avg_bigram_logprob
    FROM scored GROUP BY doc_id
    """,
)
def doc_bigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-trained BIGRAM language-model score per document (the
    CCNet-style fluency signal one order up from doc_unigram_logprob):
    add-1-smoothed P(w2|w1) = (c(w1,w2)+1)/(c(w1,·)+|V|), averaged
    per doc in log space.

    Same portable-arithmetic contract as the unigram tier: each
    bigram's log-probability is a log of exact integer counts, rounded
    to 6dp into DECIMAL so the tf-weighted dot product re-sums exactly
    in any partition order; only the final average leaves decimals
    (floor form). Plan shape: one bigram explode feeding BOTH the
    model counts and the per-doc tf relation, then two model joins —
    the bigram table is the corpus's distinct bigram set (vocab-sized,
    not token-sized)."""
    docs = _docs(spark, sf_dir).filter(F.trim("text") != "")
    ws = F.split(F.lower(F.trim("text")), r"\s+")
    # guard: 1-word docs produce no bigrams (sequence(1,0) is
    # descending) — filter on array size BEFORE the transform
    bg = (
        docs.select("doc_id", ws.alias("__ws"))
        .filter(F.size("__ws") >= 2)
        .select(
            "doc_id",
            F.explode(
                F.expr(
                    "transform(sequence(1, size(__ws) - 1),"
                    " i -> struct(__ws[i-1] AS w1, __ws[i] AS w2))"
                )
            ).alias("b"),
        )
        .select("doc_id", "b.w1", "b.w2")
    )
    doc_bg = bg.groupBy("doc_id", "w1", "w2").agg(F.count(F.lit(1)).alias("tf"))
    # The LM model table is consumed by three branches (the score join,
    # the unigram marginal, the vocab count); without materialization
    # each branch re-derives it from the raw corpus — 4 full explode
    # scans (measured; Catalyst's exchange reuse doesn't fire because
    # per-branch column pruning makes the subtrees non-identical).
    # Persisting the |distinct bigrams|-sized model once cuts the
    # corpus explosions to 2 — the same materialize-the-model pattern
    # the ANN index builders use, just session-cached instead of
    # parquet because the model is query-scoped.
    bigram_c = scoped_persist(
        doc_bg.groupBy("w1", "w2").agg(F.sum("tf").alias("c12"))
    )
    unigram_c = bigram_c.groupBy("w1").agg(F.sum("c12").alias("c1"))
    vocab = bigram_c.agg(F.countDistinct("w2").alias("v"))
    logp = fround(
        F.log((F.col("c12") + F.lit(1.0)) / (F.col("c1") + F.col("v"))), 6
    ).cast("decimal(25,6)")
    scored = (
        doc_bg.join(bigram_c, ["w1", "w2"])
        .join(F.broadcast(unigram_c), "w1")
        .crossJoin(F.broadcast(vocab))
        .select("doc_id", "tf", logp.alias("logp"))
    )
    avg = F.sum(F.col("logp") * F.col("tf")).cast("double") / F.sum("tf")
    return scored.groupBy("doc_id").agg(
        F.sum("tf").alias("n_bigrams"),
        (F.floor(avg * 1e6 + F.lit(0.5)) / 1e6).alias("avg_bigram_logprob"),
    )


@query(
    "doc_sliding_chunks",
    oracle="""
    WITH toks AS (
        SELECT doc_id, string_split_regex(trim(text), '\\s+') AS tok
        FROM documents WHERE trim(text) <> ''
    ),
    sized AS (
        SELECT doc_id, tok,
               CAST(1 + greatest(0, ceil((len(tok) - 32) / 24.0)) AS BIGINT)
                   AS n_chunks
        FROM toks
    )
    SELECT doc_id, CAST(i - 1 AS INT) AS chunk_id,
           array_to_string(tok[(i-1)*24 + 1 : (i-1)*24 + 32], ' ') AS chunk,
           CAST(len(tok[(i-1)*24 + 1 : (i-1)*24 + 32]) AS INT) AS n_tokens
    FROM sized, unnest(generate_series(1, n_chunks)) AS t(i)
    """,
)
def doc_sliding_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping sliding-window chunking (RAG retrieval prep) via a
    registered Python UDTF invoked with LATERAL — the Spark 3.5+/4
    table-valued-function surface the reference lacks entirely.

    32-token windows, stride 24 (8-token overlap): window i covers
    tokens [i*24, i*24+32). The UDTF is row-at-a-time Python (the
    deliberate API-surface demo; `doc_chunks` is the codegen hot-path
    form) but the plan is still fully distributed — the UDTF runs
    inside each task, no collect, no shuffle.
    """
    from cdc_kafka_project_spark.functions.udtfs import register_udtfs

    register_views(spark, sf_dir, "documents")
    register_udtfs(spark)
    return spark.sql(
        """
        SELECT d.doc_id, c.chunk_id, c.chunk, c.n_tokens
        FROM documents d, LATERAL sliding_chunks(d.text) c
        WHERE trim(d.text) <> ''
        """
    )


@query(
    "doc_nb_quality_score",
    oracle=rf"""
    WITH t AS (
        SELECT doc_id, text,
               length(text) AS n_chars,
               CASE WHEN trim(text) = '' THEN 0
                    ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS n_tok,
               length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS alpha,
               length(text) - length(regexp_replace(text, '[^ ]', '', 'g'))
                   AS nonspace,
               CASE WHEN trim(text) = '' THEN 0
                    ELSE len(list_filter(
                        list_transform(regexp_split_to_array(trim(text), '\s+'),
                                       x -> lower(x)),
                        x -> x IN ({_STOPS_SQL}))) END AS stop_hits
        FROM documents
    ),
    lab AS (
        SELECT doc_id, text,
               (CASE WHEN n_tok < 5 THEN 'too_few_tokens'
                     WHEN alpha / greatest(n_chars, 1) < 0.5 THEN 'low_alpha_ratio'
                     WHEN nonspace / CAST(n_tok AS DOUBLE) > 15.0 THEN 'long_tokens'
                     WHEN stop_hits / CAST(n_tok AS DOUBLE) < 0.02
                         THEN 'low_stopword_ratio'
                END) IS NULL AS keep
        FROM t
    ),
    dtok AS (
        SELECT DISTINCT doc_id, keep, word FROM (
            SELECT doc_id, keep,
                   lower(unnest(regexp_split_to_array(trim(text), '\s+'))) AS word
            FROM lab WHERE trim(text) <> ''
        )
    ),
    n AS (
        SELECT CAST(SUM(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_keep,
               CAST(SUM(CASE WHEN keep THEN 0 ELSE 1 END) AS BIGINT) AS n_drop
        FROM lab
    ),
    model AS (
        SELECT word,
               CAST(floor((ln((SUM(CASE WHEN keep THEN 1 ELSE 0 END) + 1.0)
                             / (ANY_VALUE(n.n_keep) + 2.0))
                          - ln((SUM(CASE WHEN keep THEN 0 ELSE 1 END) + 1.0)
                               / (ANY_VALUE(n.n_drop) + 2.0))) * 1e6 + 0.5) / 1e6
                    AS DECIMAL(25,6)) AS llr
        FROM dtok CROSS JOIN n GROUP BY word
    )
    SELECT dtok.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_terms,
           CAST(CAST(SUM(model.llr)
                + ANY_VALUE(CAST(floor((ln((n.n_keep + 1.0) / (n.n_drop + 1.0))) * 1e6 + 0.5) / 1e6
                                 AS DECIMAL(25,6))) AS VARCHAR) AS DOUBLE) AS nb_score,
           (SUM(model.llr)
            + ANY_VALUE(CAST(floor((ln((n.n_keep + 1.0) / (n.n_drop + 1.0))) * 1e6 + 0.5) / 1e6
                             AS DECIMAL(25,6)))) > 0 AS pred_keep,
           ANY_VALUE(dtok.keep) AS teacher_keep
    FROM dtok JOIN model USING (word) CROSS JOIN n
    GROUP BY dtok.doc_id
    """,
)
def doc_nb_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bernoulli Naive-Bayes quality scorer DISTILLED from the
    heuristic gate — the classic recipe behind fastText-style quality
    classifiers (train a cheap statistical model on rule-based labels,
    then score at scale with the model alone). Training is closed-form
    (document-frequency counts per class + Laplace smoothing), so the
    whole train-then-score pipeline is ONE deterministic plan with an
    exact SQL oracle — no SGD, no seed.

    score(d) = ln(P(keep)/P(drop)) + Σ_{{w ∈ distinct(d)}}
               [ln((df_keep(w)+1)/(n_keep+2)) - ln((df_drop(w)+1)/(n_drop+2))]

    Scale shape: labels are a pure projection (quality_reason_expr, no
    join); per-doc DISTINCT is absorbed map-side by array_distinct
    before the explode; the model is one |vocab|-row agg (persisted);
    scoring shuffles (doc,word) pairs once on word and once on doc_id
    — the TF-IDF cost profile. Cross-engine: rounded-ln terms summed
    as exact DECIMAL (order-independent), the unigram-LM discipline.
    """
    docs = _docs(spark, sf_dir)
    reason, _ = text_ops.quality_reason_expr("text")
    from cdc_kafka_project_spark.functions import tokens

    lab = docs.select("doc_id", "text", reason.isNull().alias("keep"))
    # r16 (guide §5/§6): the lazy (doc, keep, word) pair stream fed BOTH
    # the model counts and the scoring join, and the (n_keep, n_drop)
    # row fed both the llr and the prior — four executed corpus scans,
    # two of them paying tokenize+explode and all four the quality
    # regex. Checkpointing the pair stream and the 1-row class count
    # collapses that to the two honest passes (tokenize once, label
    # once); it also gives the planner REAL sizes, so the scoring join
    # stops broadcasting the corpus-sized pair stream (scale hazard —
    # the word-keyed shuffle the docstring promises is the 100 TB
    # shape; whether the |vocab| model broadcasts instead stays a
    # stats decision).
    dtok = scoped_localcheckpoint(
        lab.filter(F.trim("text") != "").select(
            "doc_id",
            "keep",
            F.explode(
                F.array_distinct(F.transform(tokens("text"), F.lower))
            ).alias("word"),
        )
    )
    n = scoped_localcheckpoint(
        lab.agg(
            F.sum(F.col("keep").cast("int")).alias("n_keep"),
            F.sum((~F.col("keep")).cast("int")).alias("n_drop"),
        )
    )
    counts = dtok.groupBy("word").agg(
        F.sum(F.col("keep").cast("int")).alias("df_keep"),
        F.sum((~F.col("keep")).cast("int")).alias("df_drop"),
    )
    llr = fround(
        F.log((F.col("df_keep") + F.lit(1.0)) / (F.col("n_keep") + F.lit(2.0)))
        - F.log(
            (F.col("df_drop") + F.lit(1.0)) / (F.col("n_drop") + F.lit(2.0))
        ),
        6,
    ).cast("decimal(25,6)")
    # shuffle_hash: the scoring join shuffles both sides by word and
    # hash-builds the |vocab| model per partition — no sort (SMJ would
    # sort the pair stream), no broadcast of anything corpus-shaped
    # (the model can outgrow the broadcast cap at 100 TB vocab sizes)
    model = counts.join(F.broadcast(n)).select(
        "word", llr.alias("llr")
    ).hint("shuffle_hash")
    prior = fround(
        F.log((F.col("n_keep") + F.lit(1.0)) / (F.col("n_drop") + F.lit(1.0))),
        6,
    ).cast("decimal(25,6)")
    scored = (
        dtok.join(model, "word")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_terms"),
            F.sum("llr").alias("__s"),
            F.any_value("keep").alias("teacher_keep"),
        )
    )
    return scored.join(F.broadcast(n.select(prior.alias("__prior")))).select(
        "doc_id",
        "n_terms",
        (F.col("__s") + F.col("__prior")).cast("double").alias("nb_score"),
        ((F.col("__s") + F.col("__prior")) > 0).alias("pred_keep"),
        "teacher_keep",
    )


@query(
    "vocab_growth_curve",
    oracle=r"""
    WITH ws AS (
        SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS w
        FROM documents WHERE trim(text) <> ''
    ),
    sh AS (
        SELECT DISTINCT doc_id,
               w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS gram
        FROM ws, unnest(generate_series(1, len(w) - 2)) AS t(i)
        WHERE len(w) >= 3
    ),
    first_seen AS (
        SELECT gram, MIN(doc_id) AS first_doc FROM sh GROUP BY gram
    ),
    by_bucket AS (
        SELECT CAST(first_doc // 100 AS BIGINT) AS bucket,
               CAST(COUNT(*) AS BIGINT) AS new_types
        FROM first_seen GROUP BY 1
    )
    SELECT bucket,
           new_types,
           CAST(SUM(new_types) OVER (ORDER BY bucket
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
               AS vocab_size
    FROM by_bucket
    """,
)
def vocab_growth_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Type-growth (Heaps-law) curve over word 3-gram types: distinct
    3-grams first seen per 100-document bucket, with the running type
    inventory. A flattening curve says the corpus is saturating (more
    data adds few new constructions - duplication or narrow domain); a
    near-linear one says coverage is still growing. Standard
    corpus-health panel input; 3-gram types rather than unigrams
    because type growth at the phrase level keeps discriminating long
    after a small closed vocabulary saturates (the synthetic corpus
    saturates its 31-word vocabulary by doc 8).

    Shape: the shingle explode is absorbed by the (gram -> min doc_id)
    partial agg (one shuffle of |types| rows); bucketing + the
    cumulative window run on |types|/100-row aggregates. The window is
    a single partition by construction, but over bucket rows only,
    never the corpus.
    """
    from cdc_kafka_project_spark.operators.dedup import word_shingles
    from pyspark.sql import Window

    docs = _docs(spark, sf_dir)
    sh = word_shingles(docs, n=3)
    first_seen = sh.groupBy("shingle").agg(F.min("doc_id").alias("first_doc"))
    by_bucket = first_seen.groupBy(
        (F.col("first_doc") / 100).cast("long").alias("bucket")
    ).agg(F.count(F.lit(1)).alias("new_types"))
    w = Window.orderBy("bucket").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return by_bucket.select(
        "bucket", "new_types", F.sum("new_types").over(w).alias("vocab_size")
    )


@query(
    "doc_boilerplate_fraction",
    oracle=r"""
    WITH ws AS (
        SELECT doc_id, source, regexp_split_to_array(trim(text), '\s+') AS w
        FROM documents WHERE trim(text) <> ''
    ),
    sh AS (
        SELECT DISTINCT doc_id, source,
               w[i] || ' ' || w[i+1] || ' ' || w[i+2] || ' ' || w[i+3]
                    || ' ' || w[i+4] AS shingle
        FROM ws, unnest(generate_series(1, len(w) - 4)) AS t(i)
        WHERE len(w) >= 5
    ),
    boiler AS (
        SELECT shingle FROM sh GROUP BY shingle
        HAVING COUNT(DISTINCT source) >= 3
    )
    SELECT sh.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_shingles,
           CAST(SUM(CASE WHEN b.shingle IS NOT NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_boiler,
           floor(SUM(CASE WHEN b.shingle IS NOT NULL THEN 1 ELSE 0 END)
                 / CAST(COUNT(*) AS DOUBLE) * 1e6 + 0.5) / 1e6
               AS boiler_frac
    FROM sh LEFT JOIN boiler b USING (shingle)
    GROUP BY sh.doc_id
    """,
)
def doc_boilerplate_fraction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boilerplate scoring: a word-5-gram that recurs across >= 3
    distinct SOURCES is boilerplate (navigation chrome, license
    headers, templated phrasing — the cross-site repetition signature
    C4/RefinedWeb strip); each document reports the fraction of its
    distinct 5-grams that are boilerplate. High-fraction docs are
    template shells; the fraction is also the per-doc input to
    line-level boilerplate removal.

    Shape: one (doc, shingle) distinct relation feeds BOTH the
    source-df aggregation (shuffle on shingle, |5-gram types| rows)
    and the per-doc rollup; the boilerplate list broadcasts back (it
    is the cross-source REPEATED tail — orders of magnitude smaller
    than the shingle space). Fraction rounded floor-form.
    """
    from cdc_kafka_project_spark.operators.dedup import word_shingles

    docs = _docs(spark, sf_dir)
    sh = (
        scoped_localcheckpoint(
            word_shingles(docs, n=5).join(
                docs.select("doc_id", "source"), "doc_id"
            )
        )
    )
    boiler = (
        sh.groupBy("shingle")
        .agg(F.countDistinct("source").alias("ns"))
        .filter(F.col("ns") >= 3)
        .select("shingle", F.lit(1).alias("__b"))
    )
    joined = sh.join(F.broadcast(boiler), "shingle", "left")
    frac = F.sum(F.coalesce("__b", F.lit(0))) / F.count(F.lit(1)).cast(
        "double"
    )
    return joined.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_shingles"),
        F.sum(F.coalesce("__b", F.lit(0))).alias("n_boiler"),
        (F.floor(frac * 1e6 + F.lit(0.5)) / 1e6).alias("boiler_frac"),
    )


TOKEN_QUOTA_PER_SOURCE = 400


@query(
    "source_token_quota_sample",
    oracle=rf"""
    WITH t AS (
        SELECT doc_id, source,
               CASE WHEN trim(text) = '' THEN 0
                    ELSE len(regexp_split_to_array(trim(text), '\s+'))
               END AS n_tok
        FROM documents
    ),
    ranked AS (
        SELECT doc_id, source, n_tok,
               SUM(n_tok) OVER (
                   PARTITION BY source
                   ORDER BY md5('tq' || CAST(doc_id AS VARCHAR)), doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS cum_tok
        FROM t
    )
    SELECT doc_id, source, CAST(n_tok AS BIGINT) AS n_tok,
           CAST(cum_tok AS BIGINT) AS cum_tok
    FROM ranked
    WHERE cum_tok - n_tok < {TOKEN_QUOTA_PER_SOURCE}
    """,
)
def source_token_quota_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TOKEN-budget mixture sampling: each source contributes documents
    until its token budget fills (the unit pretraining mixtures are
    actually specified in — doc-count quotas like `source_quota_sample`
    over-weight sources with long documents). Docs are taken in
    deterministic salted-md5 order; the doc that crosses the budget
    boundary is included, so every source yields >= its quota when it
    has the tokens.

    One corpus scan -> per-source rank window carrying a running token
    sum; no global sort, no driver state. Reproducible on any
    md5-capable engine (the auditable-split discipline applied to
    mixing).
    """
    from cdc_kafka_project_spark.functions import token_count
    from pyspark.sql import Window

    docs = _docs(spark, sf_dir)
    t = docs.select("doc_id", "source", token_count("text").alias("n_tok"))
    w = (
        Window.partitionBy("source")
        .orderBy(
            F.md5(F.concat(F.lit("tq"), F.col("doc_id").cast("string"))),
            "doc_id",
        )
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    ranked = t.select(
        "doc_id", "source", "n_tok", F.sum("n_tok").over(w).alias("cum_tok")
    )
    return ranked.filter(
        (F.col("cum_tok") - F.col("n_tok")) < TOKEN_QUOTA_PER_SOURCE
    )


@query(
    "doc_readability",
    oracle=r"""
    WITH t AS (
        SELECT doc_id,
               CASE WHEN trim(text) = '' THEN 0
                    ELSE len(regexp_split_to_array(trim(text), '\s+'))
               END AS n_words,
               greatest(len(list_filter(
                   regexp_split_to_array(text, '[.!?]+'),
                   s -> trim(s) <> '')), 1) AS n_sentences,
               len(regexp_extract_all(text, '[aeiouyAEIOUY]+')) AS n_syllables
        FROM documents
    )
    SELECT doc_id, CAST(n_words AS BIGINT) AS n_words,
           CAST(n_sentences AS BIGINT) AS n_sentences,
           CAST(n_syllables AS BIGINT) AS n_syllables,
           CASE WHEN n_words > 0 THEN
               floor((206.835
                      - 1.015 * (CAST(n_words AS DOUBLE) / n_sentences)
                      - 84.6 * (CAST(n_syllables AS DOUBLE) / n_words))
                     * 1e4 + 0.5) / 1e4
           END AS flesch
    FROM t
    """,
)
def doc_readability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flesch reading-ease per document — the classic readability
    quality signal (very low scores flag legalese/generated sludge;
    implausibly high ones flag word-salad with tiny sentences).
    Syllables are approximated by vowel-group runs (the standard
    dictionary-free proxy; both engines' regex engines agree on the
    character class). Zero-shuffle projection; identical arithmetic
    order + floor-form rounding for cross-engine parity.
    """
    docs = _docs(spark, sf_dir)
    from cdc_kafka_project_spark.functions import token_count

    n_words = token_count("text")
    sentences = F.filter(
        F.split(F.col("text"), r"[.!?]+"), lambda s: F.trim(s) != ""
    )
    n_sent = F.greatest(F.size(sentences), F.lit(1))
    n_syl = F.size(F.regexp_extract_all(F.col("text"), F.lit("[aeiouyAEIOUY]+"), F.lit(0)))
    flesch = F.when(
        n_words > 0,
        F.floor(
            (
                F.lit(206.835)
                - F.lit(1.015) * (n_words.cast("double") / n_sent)
                - F.lit(84.6) * (n_syl.cast("double") / n_words)
            )
            * 1e4
            + F.lit(0.5)
        )
        / 1e4,
    )
    return docs.select(
        "doc_id",
        n_words.alias("n_words"),
        n_sent.cast("long").alias("n_sentences"),
        n_syl.cast("long").alias("n_syllables"),
        flesch.alias("flesch"),
    )


ZIPF_TOP_N = 200


@query(
    "zipf_slope",
    oracle=rf"""
    WITH toks AS (
        SELECT lower(unnest(regexp_split_to_array(trim(text), '\s+'))) AS word
        FROM documents WHERE trim(text) <> ''
    ),
    freq AS (
        SELECT word, CAST(COUNT(*) AS BIGINT) AS c
        FROM toks GROUP BY word
        ORDER BY c DESC, word LIMIT {ZIPF_TOP_N}
    ),
    ranked AS (
        SELECT c, row_number() OVER (ORDER BY c DESC, word) AS r FROM freq
    ),
    xy AS (
        SELECT CAST(floor((ln(CAST(r AS DOUBLE))) * 1e6 + 0.5) / 1e6 AS DECIMAL(25,6)) AS x,
               CAST(floor((ln(CAST(c AS DOUBLE))) * 1e6 + 0.5) / 1e6 AS DECIMAL(25,6)) AS y
        FROM ranked
    ),
    s AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               SUM(x) AS sx, SUM(y) AS sy,
               SUM(x * y) AS sxy, SUM(x * x) AS sxx
        FROM xy
    )
    SELECT n AS n_terms,
           floor(CAST(n * sxy - sx * sy AS DOUBLE)
                 / CAST(n * sxx - sx * sx AS DOUBLE) * 1e6 + 0.5) / 1e6
               AS zipf_slope
    FROM s
    """,
)
def zipf_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf rank-frequency slope: least-squares fit of ln(freq) on
    ln(rank) over the top {ZIPF_TOP_N} tokens. Natural corpora sit
    near -1; a much flatter slope flags templated/duplicated text, a
    much steeper one a degenerate vocabulary — the corpus-health
    sibling of `vocab_growth_curve`.

    Portability: each ln rounds to 6dp DECIMAL, every regression sum
    is exact decimal arithmetic (order-independent), and exactly one
    double division happens at the end (floor-form rounded). Explode
    absorbed by the token partial agg; the fit runs on 200 rows.
    """
    from cdc_kafka_project_spark.functions import tokens
    from pyspark.sql import Window

    docs = _docs(spark, sf_dir)
    freq = (
        docs.select(
            F.explode(F.transform(tokens("text"), F.lower)).alias("word")
        )
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("c"))
        .orderBy(F.col("c").desc(), "word")
        .limit(ZIPF_TOP_N)
    )
    ranked = freq.select(
        "c",
        F.row_number()
        .over(Window.orderBy(F.col("c").desc(), "word"))
        .alias("r"),
    )
    dec = "decimal(25,6)"
    xy = ranked.select(
        fround(F.log(F.col("r").cast("double")), 6).cast(dec).alias("x"),
        fround(F.log(F.col("c").cast("double")), 6).cast(dec).alias("y"),
    )
    s = xy.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
    )
    num = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).cast(
        "double"
    )
    den = (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")).cast(
        "double"
    )
    return s.select(
        F.col("n").alias("n_terms"),
        (F.floor(num / den * 1e6 + F.lit(0.5)) / 1e6).alias("zipf_slope"),
    )


LOGODDS_A0 = 10.0  # total Dirichlet prior mass


@query(
    "source_distinctive_terms",
    oracle=rf"""
    WITH toks AS (
        SELECT source,
               lower(unnest(regexp_split_to_array(trim(text), '\s+'))) AS word
        FROM documents WHERE trim(text) <> ''
    ),
    sw AS (
        SELECT source, word, CAST(COUNT(*) AS BIGINT) AS y_sw
        FROM toks GROUP BY source, word
    ),
    marg AS (
        SELECT word, CAST(SUM(y_sw) AS BIGINT) AS y_w FROM sw GROUP BY word
    ),
    stot AS (
        SELECT source, CAST(SUM(y_sw) AS BIGINT) AS n_s FROM sw GROUP BY source
    ),
    tot AS (SELECT CAST(SUM(y_w) AS BIGINT) AS n FROM marg),
    scored AS (
        SELECT sw.source, sw.word, sw.y_sw,
               floor((
                   ln((sw.y_sw + (10.0 * marg.y_w / CAST(tot.n AS DOUBLE)))
                      / (stot.n_s + 10.0 - sw.y_sw
                         - (10.0 * marg.y_w / CAST(tot.n AS DOUBLE))))
                   - ln(((marg.y_w - sw.y_sw)
                         + (10.0 * marg.y_w / CAST(tot.n AS DOUBLE)))
                        / ((tot.n - stot.n_s) + 10.0
                           - (marg.y_w - sw.y_sw)
                           - (10.0 * marg.y_w / CAST(tot.n AS DOUBLE))))
               ) / sqrt(1.0 / (sw.y_sw
                               + (10.0 * marg.y_w / CAST(tot.n AS DOUBLE)))
                        + 1.0 / ((marg.y_w - sw.y_sw)
                                 + (10.0 * marg.y_w / CAST(tot.n AS DOUBLE))))
               * 1e4 + 0.5) / 1e4 AS z
        FROM sw
        JOIN marg ON marg.word = sw.word
        JOIN stot ON stot.source = sw.source
        CROSS JOIN tot
    )
    SELECT source, word, y_sw, z FROM (
        SELECT *, row_number() OVER (
            PARTITION BY source ORDER BY z DESC, word) AS rn
        FROM scored
    ) WHERE rn <= 3
    """,
)
def source_distinctive_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source distinctive vocabulary: weighted log-odds-ratio with
    an informative Dirichlet prior (Monroe/Colaresi/Quinn's
    "Fightin' Words" statistic — the standard answer to "which terms
    characterize this source vs the rest", robust where raw tf-idf
    over-rewards rare words). Top 3 terms per source by z-score.

    All inputs are integer counts; the prior, log-odds delta, variance
    and z follow one identical expression order on both engines with a
    single floor-form rounding at z. Shape: (source x word) partial
    agg absorbs the explode; marginals re-aggregate from it (the
    lang_source_pmi pattern); ranking windows run per source on the
    |sources| x |vocab| grid.
    """
    from cdc_kafka_project_spark.functions import tokens
    from pyspark.sql import Window

    docs = _docs(spark, sf_dir)
    toks = docs.filter(F.trim("text") != "").select(
        "source",
        F.explode(F.transform(tokens("text"), F.lower)).alias("word"),
    )
    sw = scoped_persist(
        toks.groupBy("source", "word")
        .agg(F.count(F.lit(1)).alias("y_sw"))
    )
    marg = sw.groupBy("word").agg(F.sum("y_sw").alias("y_w"))
    stot = sw.groupBy("source").agg(F.sum("y_sw").alias("n_s"))
    tot = marg.agg(F.sum("y_w").alias("n"))
    j = (
        sw.join(marg, "word")
        .join(F.broadcast(stot), "source")
        .crossJoin(F.broadcast(tot))
    )
    a0 = F.lit(LOGODDS_A0)
    aw = a0 * F.col("y_w") / F.col("n").cast("double")
    y_rest = F.col("y_w") - F.col("y_sw")
    delta = F.log(
        (F.col("y_sw") + aw)
        / (F.col("n_s") + a0 - F.col("y_sw") - aw)
    ) - F.log(
        (y_rest + aw)
        / ((F.col("n") - F.col("n_s")) + a0 - y_rest - aw)
    )
    var = 1.0 / (F.col("y_sw") + aw) + 1.0 / (y_rest + aw)
    z = F.floor(delta / F.sqrt(var) * 1e4 + F.lit(0.5)) / 1e4
    scored = j.select("source", "word", "y_sw", z.alias("z"))
    w = Window.partitionBy("source").orderBy(F.col("z").desc(), "word")
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("source", "word", "y_sw", "z")
    )


_LANGID_PRED_CTES = """
    lex(cand_lang, word) AS (VALUES {lex_values}),
    tok AS (
        SELECT doc_id, lower(unnest(regexp_split_to_array(trim(text), '\\s+'))) AS word
        FROM documents WHERE trim(text) <> ''
    ),
    hits AS (
        SELECT doc_id, cand_lang, COUNT(*) AS hits
        FROM tok JOIN lex USING (word)
        GROUP BY doc_id, cand_lang
    ),
    ranked AS (
        SELECT doc_id, cand_lang,
               row_number() OVER (PARTITION BY doc_id
                                  ORDER BY hits DESC, cand_lang ASC) AS rn
        FROM hits
    ),
    pred AS (
        SELECT d.doc_id, d.lang AS true_lang,
               COALESCE(r.cand_lang, 'und') AS pred_lang
        FROM documents d LEFT JOIN ranked r ON d.doc_id = r.doc_id AND r.rn = 1
    )
""".format(
    lex_values=", ".join(
        f"('{lang}', '{w}')"
        for lang, ws in text_ops.STOPWORDS.items()
        for w in ws
    )
)


@query(
    "langid_confusion",
    oracle=f"""
    WITH {_LANGID_PRED_CTES}
    SELECT true_lang, pred_lang,
           CAST(COUNT(*) AS BIGINT) AS n,
           floor(CAST(COUNT(*) AS DOUBLE)
                 / CAST(CAST(SUM(COUNT(*)) OVER (PARTITION BY true_lang) AS VARCHAR) AS DOUBLE) * 1e6 + 0.5) / 1e6 AS share_of_true
    FROM pred
    GROUP BY true_lang, pred_lang
    ORDER BY true_lang, pred_lang
    """,
)
def langid_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Model-evaluation surface: confusion matrix of the stopword
    lang-id against the corpus's ground-truth ``lang`` column, with
    per-true-language recall shares (the diagonal is recall). This is
    the classifier-eval pattern every heuristic gate in the curation
    pipeline should ship with — `doc_nb_quality_score`'s accuracy pin
    does it in pytest; this one does it as a first-class query.

    Cost: the lang-id explode+lexicon join runs once; the confusion
    matrix is a |langs|² aggregate and the recall window runs on it.
    """
    preds = text_ops.language_id(_docs(spark, sf_dir)).select(
        "doc_id", "pred_lang"
    )
    docs = _docs(spark, sf_dir).select("doc_id", F.col("lang").alias("true_lang"))
    cells = (
        docs.join(preds, on="doc_id")
        .groupBy("true_lang", "pred_lang")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    from pyspark.sql import Window as W

    tot = F.sum("n").over(W.partitionBy("true_lang"))
    return cells.select(
        "true_lang",
        "pred_lang",
        "n",
        (
            F.floor(
                F.col("n").cast("double") / tot.cast("double") * 1e6
                + F.lit(0.5)
            )
            / 1e6
        ).alias("share_of_true"),
    ).orderBy("true_lang", "pred_lang")
