"""Text retrieval over the document corpus (north-star extension).

The reference has no search surface, but a training-data pipeline needs
lexical retrieval constantly — eval-set mining, targeted corpus pulls,
contamination forensics ("which documents score highly for this
benchmark question?"). Two tiers, mirroring the embedding-ANN design:

* **bm25_topk** — exact BM25 (the Lucene-practical variant:
  ``idf = ln(1 + (N - df + 0.5)/(df + 0.5))``, always positive) scored
  in one pass over the corpus. The scale shape: tokens are filtered to
  the query terms BEFORE any aggregation, so the per-(doc, term) tf
  shuffle carries only matching postings — never the corpus vocabulary;
  document length is a map-side projection; N/avgdl/df join in as
  broadcast single-row / |terms|-row frames.
* **token index** — materialized inverted index: postings
  ``(word, doc_id, tf, dl, df)`` written parquet partitioned by a
  64-way token-hash bucket, corpus stats in the sidecar model file.
  The probe filters on the PARTITION column first (`__tbucket IN
  (buckets of query terms)`), so Catalyst prunes to the probed
  directories before any I/O — probe cost is O(postings of the query
  terms), independent of corpus size. The text analog of the IVF
  embedding index (same ``similarity.ensure_index`` rebuild lifecycle).

Cross-engine determinism: BM25 sums per-term float scores, and float
addition is order-dependent. Per-term scores are therefore rounded to
integer MICRO-units (``floor(x*1e6 + 0.5)`` as BIGINT) and summed as
integers — exact and order-independent — then scaled back; ranking
uses the summed micro value with doc_id tiebreak, so an engine cannot
disagree on order unless a per-term score sits within one ulp of a
rounding boundary (the same residual every rounded-score query in this
repo carries).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window, functions as F

from cdc_kafka_project_spark.functions import fround, token_count, tokens

K1 = 1.2
B = 0.75
N_TOKEN_BUCKETS = 64


def _score_micro(tf: Column, dl: Column, n_docs: Column, avgdl: Column,
                 df_: Column, k1: float, b: float) -> Column:
    """Per-(doc, term) BM25 partial in integer micro-units."""
    idf = F.log(
        F.lit(1.0)
        + (n_docs - df_ + F.lit(0.5)) / (df_ + F.lit(0.5))
    )
    tf_d = tf.cast("double")
    norm = tf_d * (k1 + 1.0) / (
        tf_d + F.lit(k1) * (F.lit(1.0 - b) + F.lit(b) * dl / avgdl)
    )
    return F.floor(idf * norm * F.lit(1e6) + F.lit(0.5)).cast("long")


def bm25_topk(
    df: DataFrame,
    query_terms: Sequence[str],
    k: int = 10,
    text_col: str = "text",
    id_col: str = "doc_id",
    k1: float = K1,
    b: float = B,
) -> DataFrame:
    """Exact BM25 top-``k``: (doc_id, n_terms_hit, score). Terms are
    matched lowercased; a document scores only on terms it contains
    (standard bag-of-words BM25). Deterministic: rank on the exact
    micro-summed score, doc_id tiebreak.

    Scan discipline (r11): 2 executed scans of the corpus, down from
    4 — one corpus-stats pass (N, avgdl), and one postings pass that
    carries the doc length through the pruned term explode (only docs
    containing a query term can score, so per-doc lengths for the
    rest are never needed). The pruned postings frame (|matching
    docs| x |terms| rows) is checkpointed once and feeds both the
    document-frequency roll-up and the scoring join."""
    from cdc_kafka_project_spark import cache

    terms = sorted({t.lower() for t in query_terms})
    tf = cache.scoped_localcheckpoint(
        df.select(
            F.col(id_col),
            token_count(text_col).cast("double").alias("__dl"),
            F.explode(
                F.transform(tokens(text_col), lambda t: F.lower(t))
            ).alias("word"),
        )
        .filter(F.col("word").isin(list(terms)))  # prune before any shuffle
        .groupBy(id_col, "__dl", "word")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    dfreq = tf.groupBy("word").agg(F.count(F.lit(1)).alias("df"))
    stats = df.agg(
        F.count(F.lit(1)).cast("double").alias("__n"),
        (F.sum(token_count(text_col)) / F.count(F.lit(1))).alias("__avgdl"),
    )
    scored = (
        tf.join(F.broadcast(dfreq), "word")
        .join(F.broadcast(stats))
        .select(
            F.col(id_col),
            _score_micro(
                F.col("tf"), F.col("__dl"), F.col("__n"), F.col("__avgdl"),
                F.col("df").cast("double"), k1, b,
            ).alias("__micro"),
        )
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_terms_hit"),
            (F.sum("__micro") / F.lit(1e6)).alias("score"),
        )
    )
    return scored.orderBy(F.col("score").desc(), id_col).limit(k)


def bm25_oracle_sql(
    query_terms: Sequence[str], k: int = 10, k1: float = K1, b: float = B
) -> str:
    """DuckDB twin of ``bm25_topk`` over the ``documents`` view — the
    same micro-unit arithmetic, term for term."""
    terms = sorted({t.lower() for t in query_terms})
    in_list = ", ".join(f"'{t}'" for t in terms)
    return f"""
    WITH dl AS (
        SELECT doc_id,
               CASE WHEN trim(text) = '' THEN 0
                    ELSE len(regexp_split_to_array(trim(text), '\\s+'))
               END AS dl
        FROM documents
    ),
    toks AS (
        SELECT doc_id,
               lower(unnest(regexp_split_to_array(trim(text), '\\s+'))) AS word
        FROM documents WHERE trim(text) <> ''
    ),
    tf AS (
        SELECT doc_id, word, COUNT(*) AS tf FROM toks
        WHERE word IN ({in_list}) GROUP BY doc_id, word
    ),
    dfq AS (SELECT word, COUNT(*) AS df FROM tf GROUP BY word),
    stats AS (
        SELECT CAST(COUNT(*) AS DOUBLE) AS n,
               SUM(dl) / CAST(COUNT(*) AS DOUBLE) AS avgdl
        FROM dl
    ),
    micro AS (
        SELECT t.doc_id,
               CAST(floor(
                   ln(1.0 + (s.n - d.df + 0.5) / (d.df + 0.5))
                   * (CAST(t.tf AS DOUBLE) * ({k1} + 1.0)
                      / (CAST(t.tf AS DOUBLE)
                         + {k1} * (1.0 - {b} + {b} * l.dl / s.avgdl)))
                   * 1e6 + 0.5) AS BIGINT) AS m
        FROM tf t JOIN dfq d USING (word)
                  JOIN dl l USING (doc_id)
                  CROSS JOIN stats s
    )
    SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_terms_hit,
           SUM(m) / 1e6 AS score
    FROM micro GROUP BY doc_id
    ORDER BY score DESC, doc_id LIMIT {k}
    """


# ---------------------------------------------------------------------------
# Materialized inverted index (the scale path)
# ---------------------------------------------------------------------------


def _bucket(word: Column) -> Column:
    return F.pmod(F.xxhash64(word), F.lit(N_TOKEN_BUCKETS)).cast("int")


def ensure_token_index(
    df: DataFrame, path: str, text_col: str = "text", id_col: str = "doc_id"
) -> None:
    """Write the inverted index iff absent or stale (``ensure_index``,
    the ANN indexes' lifecycle): one row per (word, doc) posting with
    tf, the doc's length, and the word's df denormalized onto it (df
    rides along so a probe needs no second input), parquet partitioned
    by the 64-way token-hash bucket. Corpus stats (N, avgdl) go in the
    sidecar model JSON. Build cost: one explode + one (doc,word)
    aggregation + one |vocab| window — the same work a single BM25
    query does for ALL terms at once, paid once per corpus version."""
    from cdc_kafka_project_spark.operators.similarity import ensure_index

    def build(path):
        toks = df.select(
            F.col(id_col),
            F.explode(
                F.transform(tokens(text_col), lambda t: F.lower(t))
            ).alias("word"),
        )
        tf = toks.groupBy(id_col, "word").agg(F.count(F.lit(1)).alias("tf"))
        dfreq = tf.groupBy("word").agg(F.count(F.lit(1)).alias("df"))
        dl = df.select(F.col(id_col), token_count(text_col).alias("dl"))
        postings = (
            tf.join(dfreq, "word")
            .join(dl, id_col)
            .select(id_col, "word", "tf", "df", "dl", _bucket(F.col("word")).alias("__tbucket"))
        )
        postings.write.mode("overwrite").partitionBy("__tbucket").parquet(path)
        stats = df.agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(token_count(text_col)).alias("sum_dl"),
        ).collect()[0]
        return {
            "kind": "token_index",
            "n_docs": int(stats["n"]),
            "avgdl": float(stats["sum_dl"]) / float(stats["n"]),
            "n_buckets": N_TOKEN_BUCKETS,
        }

    ensure_index(
        df,
        path,
        {"kind": "token_index", "v": 1, "text_col": text_col, "id_col": id_col},
        build,
    )


def probe_token_index(
    spark,
    path: str,
    query_terms: Sequence[str],
    k: int = 10,
    k1: float = K1,
    b: float = B,
) -> DataFrame:
    """BM25 top-``k`` against the materialized index. The scan filter
    is on the partition column first (`__tbucket IN (...)`) so only
    the probed bucket directories are planned, then the word equality
    prunes within them. Identical scores to ``bm25_topk`` by
    construction (same micro-unit arithmetic, df/dl/N/avgdl read from
    the index instead of recomputed) — pinned by tests."""
    from cdc_kafka_project_spark.operators.similarity import read_model

    terms = sorted({t.lower() for t in query_terms})
    model = read_model(path)
    # bucket predicate as constant-foldable expressions (r16): the
    # bucket function stays defined in exactly one place (_bucket), but
    # applying it to LITERAL terms lets Catalyst constant-fold
    # xxhash64(lit) at optimization time — partition pruning sees plain
    # integer comparisons, and the r15 createDataFrame+collect round
    # trip (one whole Spark job per probe just to hash <= |terms|
    # strings) disappears from the probe path.
    import functools
    import operator

    bucket_pred = functools.reduce(
        operator.or_,
        [F.col("__tbucket") == _bucket(F.lit(t)) for t in terms],
    )
    postings = (
        spark.read.parquet(path)
        .filter(bucket_pred)
        .filter(F.col("word").isin(list(terms)))
    )
    scored = postings.select(
        "doc_id",
        _score_micro(
            F.col("tf"), F.col("dl").cast("double"),
            F.lit(float(model["n_docs"])), F.lit(float(model["avgdl"])),
            F.col("df").cast("double"), k1, b,
        ).alias("__micro"),
    ).groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_terms_hit"),
        (F.sum("__micro") / F.lit(1e6)).alias("score"),
    )
    return scored.orderBy(F.col("score").desc(), "doc_id").limit(k)


def hard_negative_pairs(
    embeddings: DataFrame,
    anchors: DataFrame,
    k: int = 3,
    lo: float = 0.2,
    hi: float = 0.8,
    round_to: int = 4,
) -> DataFrame:
    """Contrastive-training hard-negative mining: per anchor vector,
    the top-``k`` most similar corpus vectors whose cosine falls in
    [lo, hi) — similar enough to be confusable, dissimilar enough to
    be true negatives (the standard recipe for mining negatives from
    an unlabeled corpus). Anchors broadcast (bounded set by contract),
    one corpus scan, per-anchor window top-k; band/rank decisions use
    the ROUNDED cosine with vec_id tiebreak so both engines agree.
    At 100 TB this is the brute-force tier — swap the corpus scan for
    an ANN-index probe per anchor to go sublinear; the band filter and
    ranking are unchanged."""
    from cdc_kafka_project_spark.functions import cosine_pd

    a = anchors.select(
        F.col("vec_id").alias("anchor_id"), F.col("embedding").alias("__ae")
    )
    cos = fround(cosine_pd(F.col("__ae"), F.col("embedding")), round_to)
    pairs = (
        embeddings.join(F.broadcast(a))
        .filter(F.col("vec_id") != F.col("anchor_id"))
        .select("anchor_id", "vec_id", cos.alias("cos_sim"))
        .filter((F.col("cos_sim") >= lo) & (F.col("cos_sim") < hi))
    )
    w = Window.partitionBy("anchor_id").orderBy(
        F.col("cos_sim").desc(), "vec_id"
    )
    return (
        pairs.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= k)
        .select("anchor_id", "vec_id", "cos_sim")
    )
