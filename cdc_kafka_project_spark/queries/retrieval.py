"""Round-5 north-star queries: lexical retrieval (BM25 exact +
materialized inverted-index probe), contrastive hard-negative mining,
incremental dedup against an existing corpus, rolling event-time
features, and temperature-based language mixing.

All oracle-checked except the index probe (engine-side materialized
state), whose scores are pinned equal to the exact BM25 tier by pytest.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from cdc_kafka_project_spark import cache
from cdc_kafka_project_spark.catalog import index_dir, load_table
from cdc_kafka_project_spark.operators import dedup as dd
from cdc_kafka_project_spark.operators import retrieval as rt
from cdc_kafka_project_spark.registry import query

#: fixed query for the retrieval family — common corpus words with
#: distinct document frequencies
QUERY_TERMS = ("spark", "table", "join")
TOP_K = 10

#: incremental-dedup split point: docs below are the "already curated"
#: corpus, docs at/above are the arriving batch (valid at every sf)
INCR_SPLIT = 400

#: temperature-mixing parameters: alpha=0.5 upweights low-resource
#: languages relative to proportional sampling; 200 total slots
MIX_ALPHA_TOTAL = 200


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "documents")


@query("bm25_topk", oracle=rt.bm25_oracle_sql(QUERY_TERMS, k=TOP_K))
def bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact BM25 top-10 for a fixed 3-term query (see
    operators/retrieval.py for the formulation and the micro-unit
    cross-engine determinism argument). Postings are pruned to the
    query terms before the only shuffle."""
    return rt.bm25_topk(_docs(spark, sf_dir), QUERY_TERMS, k=TOP_K)


@query("text_index_topk", oracle=rt.bm25_oracle_sql(QUERY_TERMS, k=TOP_K))
def text_index_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 top-10 served from the MATERIALIZED inverted index
    (parquet partitioned by token bucket, fingerprint-checked rebuild):
    the probe plans only the buckets of the query terms — partition
    pruning makes probe cost O(query postings), independent of corpus
    size. Score-identical to bm25_topk by construction (same micro-unit
    arithmetic, df/dl/N/avgdl read from the index), so it shares
    bm25_topk's DuckDB oracle (round-6 verdict item 4c: the index
    probe is hash-checkable because the scores are exact, not
    approximate — only the SERVING path differs)."""
    docs = _docs(spark, sf_dir)
    path = index_dir(sf_dir, "token_index")
    rt.ensure_token_index(docs, path)
    return rt.probe_token_index(spark, path, QUERY_TERMS, k=TOP_K)


@query(
    "hard_negative_mining",
    oracle="""
    WITH a AS (
        SELECT vec_id AS anchor_id, embedding AS ae
        FROM embeddings WHERE vec_id < 4
    ),
    pairs AS (
        SELECT a.anchor_id, e.vec_id,
               CAST(unnest(e.embedding) AS DOUBLE) AS x,
               CAST(unnest(a.ae) AS DOUBLE) AS y
        FROM embeddings e CROSS JOIN a
        WHERE e.vec_id <> a.anchor_id
    ),
    dots AS (
        SELECT anchor_id, vec_id, SUM(x * y) AS dp,
               SQRT(SUM(x * x)) AS na, SQRT(SUM(y * y)) AS nb
        FROM pairs GROUP BY anchor_id, vec_id
    ),
    sims AS (
        SELECT anchor_id, vec_id, floor((dp / (na * nb)) * 1e4 + 0.5) / 1e4 AS cos_sim
        FROM dots
        WHERE floor((dp / (na * nb)) * 1e4 + 0.5) / 1e4 >= 0.2
          AND floor((dp / (na * nb)) * 1e4 + 0.5) / 1e4 < 0.8
    )
    SELECT anchor_id, vec_id, cos_sim FROM (
        SELECT anchor_id, vec_id, cos_sim,
               row_number() OVER (
                   PARTITION BY anchor_id ORDER BY cos_sim DESC, vec_id
               ) AS rn
        FROM sims
    ) WHERE rn <= 3
    """,
)
def hard_negative_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contrastive hard negatives: per anchor (first 4 vectors), the 3
    most similar corpus vectors with cosine in [0.2, 0.8) — confusable
    but not near-duplicates. Anchors broadcast, one corpus scan,
    per-anchor top-k window; band and rank use the rounded cosine so
    both engines decide identically."""
    emb = load_table(spark, sf_dir, "embeddings")
    anchors = emb.filter(F.col("vec_id") < 4)
    return rt.hard_negative_pairs(emb, anchors, k=3, lo=0.2, hi=0.8)


@query(
    "dedup_incremental_new_docs",
    oracle=f"""
    WITH fp AS (
        SELECT doc_id, md5(trim(text)) AS fp_md5 FROM documents
    ),
    base AS (
        SELECT DISTINCT fp_md5 FROM fp WHERE doc_id < {INCR_SPLIT}
    ),
    firsts AS (
        SELECT fp_md5, MIN(doc_id) AS doc_id
        FROM fp WHERE doc_id >= {INCR_SPLIT} GROUP BY fp_md5
    )
    SELECT f.doc_id, f.fp_md5
    FROM firsts f LEFT JOIN base b USING (fp_md5)
    WHERE b.fp_md5 IS NULL
    """,
)
def dedup_incremental_new_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental dedup — the shape a 100 TB pipeline actually runs:
    an arriving batch (doc_id >= split) is deduplicated within itself
    (min doc_id per digest) and then anti-joined against the EXISTING
    corpus's digest set (doc_id < split). Nothing ever re-deduplicates
    the full corpus: the base side is a 16-byte-digest projection (at
    scale, a maintained digest table), the shuffle is digest-keyed, and
    the batch side is only the new arrivals."""
    fp = _docs(spark, sf_dir).select(
        "doc_id", F.md5(F.trim(F.col("text"))).alias("fp_md5")
    )
    base = fp.filter(F.col("doc_id") < INCR_SPLIT).select("fp_md5").distinct()
    firsts = (
        fp.filter(F.col("doc_id") >= INCR_SPLIT)
        .groupBy("fp_md5")
        .agg(F.min("doc_id").alias("doc_id"))
    )
    return firsts.join(base, "fp_md5", "left_anti").select("doc_id", "fp_md5")


@query(
    "rolling_7d_user_spend",
    oracle="""
    SELECT event_id, user_id,
           strftime(ts, '%Y-%m-%d %H:%M:%S.%f') AS ts,
           CAST(CAST(SUM(CAST(value AS DECIMAL(18,2))) OVER w AS VARCHAR) AS DOUBLE)
               AS spend_7d,
           CAST(COUNT(*) OVER w AS BIGINT) AS n_7d
    FROM events WHERE event_type = 'purchase'
    WINDOW w AS (
        PARTITION BY user_id ORDER BY ts
        RANGE BETWEEN INTERVAL 7 DAYS PRECEDING AND CURRENT ROW
    )
    """,
)
def rolling_7d_user_spend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-purchase trailing-7-day spend and count for the user — the
    rolling event-time feature family (fraud/engagement features, LTV
    inputs). One shuffle on user_id, then a RANGE frame over event-time
    micros per partition; the frame sum is exact DECIMAL so the running
    total is order-independent across engines. At 100 TB: identical
    plan — the window state is one frame per user, never corpus-wide."""
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("event_type") == "purchase"
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.unix_micros("ts"))
        .rangeBetween(-7 * 86400 * 1_000_000, 0)
    )
    return ev.select(
        "event_id",
        "user_id",
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss.SSSSSS").alias("ts"),
        F.sum(F.col("value").cast("decimal(18,2)"))
        .over(w)
        .cast("double")
        .alias("spend_7d"),
        F.count(F.lit(1)).over(w).alias("n_7d"),
    )


@query(
    "lang_temperature_sample",
    oracle=f"""
    WITH counts AS (
        SELECT lang, COUNT(*) AS n FROM documents GROUP BY lang
    ),
    wm AS (
        SELECT lang, n,
               CAST(floor(sqrt(CAST(n AS DOUBLE)) * 1e6 + 0.5) AS BIGINT)
                   AS w_micro
        FROM counts
    ),
    quota AS (
        SELECT lang,
               CAST(floor({MIX_ALPHA_TOTAL}.0 * CAST(w_micro AS DOUBLE)
                          / CAST(CAST((SELECT SUM(w_micro) FROM wm) AS VARCHAR) AS DOUBLE)
                          + 0.5) AS BIGINT) AS q
        FROM wm
    )
    SELECT doc_id, lang FROM (
        SELECT d.doc_id, d.lang,
               row_number() OVER (
                   PARTITION BY d.lang
                   ORDER BY md5('mix' || CAST(d.doc_id AS VARCHAR)), d.doc_id
               ) AS rn,
               q.q
        FROM documents d JOIN quota q USING (lang)
    ) WHERE rn <= q
    """,
)
def lang_temperature_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-based language mixing (multilingual-corpus recipe):
    each language's sample quota is proportional to n^alpha with
    alpha=0.5, flattening the head (en) and boosting the tail — then a
    deterministic salted-md5 rank picks that many docs per language.
    Per-language sqrt weights are rounded to integer micro-units before
    the denominator sum so the quota arithmetic is order-independent
    across engines. Two tiny aggregations + one rank window on lang;
    the per-language count frame is checkpointed (it feeds both the
    weight table and the denominator sum), so the corpus is scanned
    twice total — once for counts, once for the ranked sample (r11,
    was 3)."""
    docs = _docs(spark, sf_dir)
    counts = cache.scoped_localcheckpoint(
        docs.groupBy("lang").agg(F.count(F.lit(1)).alias("n"))
    )
    wm = counts.select(
        "lang",
        F.floor(F.sqrt(F.col("n").cast("double")) * F.lit(1e6) + F.lit(0.5))
        .cast("long")
        .alias("w_micro"),
    )
    denom = wm.agg(F.sum("w_micro").alias("dm"))
    quota = wm.join(F.broadcast(denom)).select(
        "lang",
        F.floor(
            F.lit(float(MIX_ALPHA_TOTAL))
            * F.col("w_micro").cast("double")
            / F.col("dm").cast("double")
            + F.lit(0.5)
        )
        .cast("long")
        .alias("q"),
    )
    rank = F.md5(F.concat(F.lit("mix"), F.col("doc_id").cast("string")))
    w = Window.partitionBy("lang").orderBy(rank, "doc_id")
    return (
        docs.join(F.broadcast(quota), "lang")
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= F.col("q"))
        .select("doc_id", "lang")
    )


@query(
    "purchase_click_attribution",
    oracle="""
    WITH ce AS (
        SELECT event_id, user_id, ts, event_type,
               CAST(epoch_us(ts) AS BIGINT) AS us
        FROM events WHERE event_type IN ('click', 'purchase')
    ),
    feat AS (
        SELECT event_id, user_id, event_type, ts,
               COUNT(CASE WHEN event_type = 'click' THEN 1 END) OVER w
                   AS n_all,
               MIN(CASE WHEN event_type = 'click' THEN us END) OVER w
                   AS first_click_us,
               MAX(CASE WHEN event_type = 'click' THEN us END) OVER w
                   AS last_click_us
        FROM ce
        WINDOW w AS (
            PARTITION BY user_id ORDER BY us
            RANGE BETWEEN 604800000000 PRECEDING AND CURRENT ROW
        )
    )
    SELECT event_id, user_id,
           strftime(ts, '%Y-%m-%d %H:%M:%S.%f') AS purchase_time,
           CAST(n_all AS BIGINT) AS n_clicks_7d,
           first_click_us, last_click_us,
           n_all > 0 AS attributed
    FROM feat WHERE event_type = 'purchase'
    """,
)
def purchase_click_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-touch / last-touch attribution: for every purchase, the
    user's click count and first/last click timestamps within the
    trailing 7 days (ties at the purchase instant included — RANGE
    frame semantics, identical both engines). The standard multi-touch
    attribution feature set, computed without a join: clicks and
    purchases ride ONE user-keyed window as conditional aggregates,
    and only purchase rows project out.

    One shuffle on user_id; window state is a 7-day frame per user.
    The join-free conditional-window form beats click⋈purchase
    interval joins at scale — no pair blowup for heavy clickers.
    """
    ev = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("event_type").isin("click", "purchase"))
        .select(
            "event_id",
            "user_id",
            "ts",
            "event_type",
            F.unix_micros("ts").alias("us"),
        )
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("us")
        .rangeBetween(-7 * 86400 * 1_000_000, 0)
    )
    is_click = F.col("event_type") == "click"
    feat = ev.select(
        "event_id",
        "user_id",
        "event_type",
        "ts",
        F.count(F.when(is_click, 1)).over(w).alias("n_clicks_7d"),
        F.min(F.when(is_click, F.col("us"))).over(w).alias("first_click_us"),
        F.max(F.when(is_click, F.col("us"))).over(w).alias("last_click_us"),
    )
    return feat.filter(F.col("event_type") == "purchase").select(
        "event_id",
        "user_id",
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss.SSSSSS").alias(
            "purchase_time"
        ),
        "n_clicks_7d",
        "first_click_us",
        "last_click_us",
        (F.col("n_clicks_7d") > 0).alias("attributed"),
    )
