"""Similarity-search queries over ``embeddings`` (north-star extension).

The brute-force tier is oracle-checked (cosine recomputed in DuckDB
with the same float64 arithmetic, rounded to 4 decimals); the LSH tier
is Spark-specific (seeded hyperplanes) and gets the rows-only check
plus recall tests in tests/test_similarity.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from cdc_kafka_project_spark import cache
from cdc_kafka_project_spark.catalog import index_dir, load_table, table_rows
from cdc_kafka_project_spark.functions import fround, local_rows_df
from cdc_kafka_project_spark.operators import similarity as sim
from cdc_kafka_project_spark.registry import query

QUERY_VEC_ID = 0
TOP_K = 20


def _emb(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "embeddings")


#: fixture-injected near-duplicates carry NEGATIVE ids (-vec_id - 1,
#: the same scheme the simhash fixtures use): organic vec_ids are
#: non-negative at every sf and in any re-keyed replica, so the
#: injected key space can never collide with organic ids (a fixed
#: additive offset could — e.g. a corpus with organic ids in
#: [1e7, 2e7) would alias an injected id onto a real row)
N_INJECTED_DUPS = 8


def dup_vec_id(i: int) -> int:
    """The injected-copy id for source vec_id ``i`` (collision-free)."""
    return -i - 1


def _with_injected_dups(emb: DataFrame, n: int = N_INJECTED_DUPS) -> DataFrame:
    """Fixture-layer near-duplicate injection (the `_with_synthetic_urls`
    pattern): the synthetic embeddings are near-orthogonal (max pairwise
    cosine ~0.51), so threshold-0.95 queries would return empty/full-
    corpus results that prove nothing at the driver. Re-emit the first
    ``n`` vectors under offset ids, scaled by 1.001 — cosine with the
    source is exactly 1.0 (scale-invariant) while the scaled copy stays
    in the source's k-means cell (0.1%% Euclidean perturbation), so both
    the LSH-bucketed and the cluster-scoped paths must find the pairs.
    One filter + projection — negligible next to the operator it feeds.

    The injected frame is CHECKPOINTED (r11): it is ``n`` rows behind a
    filter-pushed scan, but as a live plan branch it re-scanned the
    corpus inside every consumer that references the union more than
    once (count + pairs + anti-join = 3 extra executed scans in the
    SemDeDup keep policy). One tiny materialization removes the branch
    from every downstream plan."""
    dups = cache.scoped_localcheckpoint(
        emb.filter(F.col("vec_id") < n).select(
            (-F.col("vec_id") - F.lit(1)).alias("vec_id"),
            F.transform(
                "embedding", lambda x: (x * F.lit(1.001)).cast("float")
            ).alias("embedding"),
            "label",
        )
    )
    return emb.select("vec_id", "embedding", "label").unionByName(dups)


#: The standing ANN indexes over ``embeddings``: method -> (index dir
#: name, ensure_* builder, build params). The single-method queries and
#: ann_recall_report share these paths, so they must build with the same
#: params — a drift would make each caller's fingerprint stale for the
#: other and rebuild the index on every call.
_ANN_INDEXES = {
    "lsh": ("lsh_p8", sim.ensure_lsh_index, {"n_planes": 8}),
    "ivf": ("ivf_k16", sim.ensure_ivf_index,
            {"k_centroids": 16, "iters": 2, "max_train": 512}),
    "pq": ("pq_m8k32", sim.ensure_pq_index,
           {"m": 8, "k_codes": 32, "iters": 5, "max_train": 4096}),
}


def _ann_index(emb: DataFrame, sf_dir: str, method: str) -> str:
    """Build the standing ``method`` index iff absent or stale
    (fingerprint-checked: regenerated source data forces a rebuild)
    and return its path."""
    name, ensure, params = _ANN_INDEXES[method]
    path = index_dir(sf_dir, name)
    ensure(emb, path, **params)
    return path


@query(
    "similarity_topk",
    oracle=f"""
    WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = {QUERY_VEC_ID}),
    pairs AS (
        SELECT e.vec_id,
               CAST(unnest(e.embedding) AS DOUBLE) AS x,
               CAST(unnest(q.qe) AS DOUBLE) AS y
        FROM embeddings e, q
    ),
    dots AS (
        SELECT vec_id, SUM(x * y) AS dp,
               SQRT(SUM(x * x)) AS na, SQRT(SUM(y * y)) AS nb
        FROM pairs GROUP BY vec_id
    )
    SELECT vec_id, floor((dp / (na * nb)) * 1e4 + 0.5) / 1e4 AS cos_sim
    FROM dots
    ORDER BY cos_sim DESC, vec_id
    LIMIT {TOP_K}
    """,
)
def similarity_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact cosine top-k (recall-1.0 baseline): one scan, fused vector
    expression, per-partition heaps — no corpus shuffle."""
    emb = _emb(spark, sf_dir)
    qv = sim.query_vector(emb, QUERY_VEC_ID)
    return sim.brute_force_topk(emb, qv, k=TOP_K, round_to=4)


@query(
    "embedding_norms",
    oracle="""
    SELECT vec_id,
           CAST(len(embedding) AS INT) AS dim,
           floor((SQRT(list_sum(list_transform(embedding,
                 u -> CAST(u AS DOUBLE) * CAST(u AS DOUBLE))))) * 1e4 + 0.5) / 1e4 AS l2_norm
    FROM embeddings
    """,
)
def embedding_norms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-vector L2 norms + dimensionality."""
    return sim.embedding_norms(_emb(spark, sf_dir), round_to=4)


#: Pinned per-method recall@20 floors for the drivable ANN gates
#: (similarity_ann_recall + the per-probe contracts below). These are
#: BREAKAGE detectors, not quality targets: a stale or corrupted index
#: probes near-random vec_ids (recall ≈ 0 at corpus scale), while a
#: healthy probe has always measured well above these (observed across
#: sf0.001/0.01/0.1 generations: lsh 0.10-0.20, ivf 0.75-0.80,
#: pq 0.20-0.65; floors also green at the 10x/100x replicas, r11/r12
#: sweeps). r15 (verdict item 7): floors raised to ~0.7x the MINIMUM
#: observed across sf0.001-100x (lsh 0.7*0.10, ivf 0.7*0.75, pq
#: 0.7*0.20) so a 2x quality regression trips the driver gate instead
#: of sliding under a breakage-only floor. Raw recall values stay
#: pytest-pinned (tests/test_similarity.py) because they move with the
#: data generation; the flags are what the driver hash-checks.
ANN_RECALL_FLOORS = {"lsh": 0.07, "ivf": 0.52, "pq": 0.14}

#: PQ asymmetric-distance scores approximate the exact cosine through
#: 8 codebook lookups; measured max |adc - exact| over the top-20 at
#: sf0.001/0.01/0.1 and the 10x/100x replicas: 0.2264-0.2883. The 0.45
#: bound is a BREAKAGE floor (1.5x worst observed): a stale or garbage
#: codebook scores near-orthogonal junk whose |adc - exact| lands
#: ~2-4x higher, while tuning-level drift stays well inside it.
PQ_ADC_ERR_BOUND = 0.45


def _probe_contract(
    emb: DataFrame,
    probe: DataFrame,
    method: str,
    query_vec: list[float],
    err_bound: float,
) -> DataFrame:
    """Fold an ANN probe's top-k into the driver-hashable contract row
    (r12 verdict item 2 — the bound-flag pattern of
    ``similarity_ann_recall``): the probe's vec_ids/scores are
    engine-defined (seeded planes / k-means / codebooks), so the
    drivable surface is the set of invariants every correct probe
    satisfies, each a boolean vs a literal-TRUE oracle row:

    - ``nonempty`` / ``within_k``: 0 < |result| <= k;
    - ``ids_in_corpus``: every returned vec_id joins back to the
      corpus — a re-keyed or stale index misses;
    - ``ids_distinct``: no duplicate ids (a bucket-union or probe-list
      bug double-emits);
    - ``score_exact_ok``: max |probe score - exact cosine recomputed
      from the CORPUS row| <= err_bound. For LSH/IVF the probe scores
      ARE cosines of index-stored vectors, so the bound is 0.0 —
      index-vs-corpus vector drift or any scoring change flips it;
      for PQ the ADC approximation gets PQ_ADC_ERR_BOUND;
    - ``recall_ok``: |result ∩ exact top-k| / k >= the method's pinned
      ANN_RECALL_FLOORS floor (same floors similarity_ann_recall
      hash-checks; proven at the 10x/100x replicas in the r11/r12
      sweeps).

    Built ENGINE-SIDE in one aggregation over (probe ⟕ corpus ⟕ exact
    top-k) so the returned plan still contains the partition-pruned
    probe scan (tests/test_plans.py pins PartitionFilters on it); the
    two corpus joins are k-row broadcasts, never a corpus shuffle.
    Raw top-k rows stay available via operators.similarity.probe_*."""
    score_col = "cos_sim" if "cos_sim" in probe.columns else "adc_sim"
    truth = sim.brute_force_topk(
        emb, query_vec, k=TOP_K, round_to=None
    ).select("vec_id", F.lit(True).alias("__truth"))
    exact = fround(sim.cosine_pd(F.col("embedding"), sim._qcol(query_vec)), 4)
    j = (
        probe.select("vec_id", F.col(score_col).alias("__score"))
        .join(emb.select("vec_id", "embedding"), "vec_id", "left")
        .select("vec_id", "__score", exact.alias("__exact"))
        .join(truth, "vec_id", "left")
    )
    floor = ANN_RECALL_FLOORS[method]
    return (
        j.agg(
            F.count(F.lit(1)).alias("__n"),
            F.count_distinct("vec_id").alias("__nd"),
            F.count("__exact").alias("__nm"),
            F.max(F.abs(F.col("__score") - F.col("__exact"))).alias("__err"),
            F.sum(F.when(F.col("__truth"), 1).otherwise(0)).alias("__hits"),
        ).select(
            F.lit(method).alias("method"),
            F.lit(TOP_K).alias("k"),
            (F.col("__n") > 0).alias("nonempty"),
            (F.col("__n") <= TOP_K).alias("within_k"),
            (F.col("__nm") == F.col("__n")).alias("ids_in_corpus"),
            (F.col("__nd") == F.col("__n")).alias("ids_distinct"),
            (F.col("__err") <= F.lit(err_bound)).alias("score_exact_ok"),
            F.lit(floor).alias("recall_floor"),
            (F.col("__hits") / TOP_K >= floor).alias("recall_ok"),
        )
    )


_PROBE_CONTRACT_ORACLE = """
    SELECT '{method}' AS method, {k} AS k, TRUE AS nonempty,
           TRUE AS within_k, TRUE AS ids_in_corpus, TRUE AS ids_distinct,
           TRUE AS score_exact_ok, {floor} AS recall_floor, TRUE AS recall_ok
"""


def _probe_oracle(method: str) -> str:
    return _PROBE_CONTRACT_ORACLE.format(
        method=method, k=TOP_K, floor=ANN_RECALL_FLOORS[method]
    )


@query(
    "similarity_ann_lsh",
    # Bound-flag oracle (r12 verdict item 2, converted r13 — was
    # rows-only): the seeded-hyperplane model stays engine-side; the
    # probe-contract invariants are driver-hash-checked vs literal
    # TRUE rows (see _probe_contract for what each flag catches).
    oracle=_probe_oracle("lsh"),
)
def similarity_ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate top-k against the *materialized* 8-plane LSH index
    (built once per sf_dir, parquet partitioned by bucket): the probe
    reads only the ~3.5% of partitions within 1 bit of the query's
    bucket — partition pruning, pinned by tests/test_plans.py. Folded
    to the probe-contract row (_probe_contract); recall level vs brute
    force additionally measured in tests/test_similarity.py."""
    emb = _emb(spark, sf_dir)
    qv = sim.query_vector(emb, QUERY_VEC_ID)
    path = _ann_index(emb, sf_dir, "lsh")
    probe = sim.probe_lsh_index(spark, path, qv, k=TOP_K, probe_hamming=1)
    return _probe_contract(emb, probe, "lsh", qv, err_bound=0.0)


@query(
    "similarity_near_dup",
    # Exact-twin oracle (r7, the semdedup argument): the hyperplane
    # LSH is seeded engine-side, but for the injected cos-1.0 pairs
    # the catch is DETERMINISTIC — a positively-scaled copy has the
    # identical sign pattern in every band (p = 1 - theta/pi = 1 at
    # theta 0), so it collides in all 16 bands with probability 1 and
    # the exact verify rounds its cosine to 1.0. No organic pair
    # clears 0.95 (measured max organic cosine 0.51-0.60), so the
    # full result is exactly the N_INJECTED_DUPS (copy, source)
    # pairs — the negative-id copy sorts first in the (a < b) pair
    # convention. A banding, verify, or threshold bug flips the hash.
    oracle=f"""
    SELECT -vec_id - 1 AS vec_a,
           vec_id AS vec_b,
           1.0 AS cos_sim
    FROM embeddings WHERE vec_id < {N_INJECTED_DUPS}
    """,
)
def similarity_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs (cos >= 0.95) via LSH-bucketed
    self-join + exact verify, over the corpus plus injected fixture
    near-duplicates (see _with_injected_dups — the raw synthetic
    embeddings are near-orthogonal, so without injection an empty
    result proved nothing). Each injected copy must pair with exactly
    its source (the hash-checked contract above); recall on
    organically duplicated corpora is pinned by
    tests/test_similarity.py, and the exact-threshold twin below is
    oracle-checked on thresholds this data does exercise."""
    return sim.cosine_near_dup_pairs(
        _with_injected_dups(_emb(spark, sf_dir)), threshold=0.95
    )


@query(
    "similarity_ann_ivf",
    # Bound-flag oracle (r12 verdict item 2, converted r13 — was
    # rows-only): the k-means model stays engine-side; the probe-
    # contract invariants are driver-hash-checked (see _probe_contract).
    oracle=_probe_oracle("ivf"),
)
def similarity_ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF approximate top-k against the *materialized* index:
    deterministic k-means coarse quantizer trained once on a bounded
    sample, inverted lists written parquet partitioned by cid, probe =
    partition-pruned scan of the 4 nearest of 16 lists + exact cosine.
    Folded to the probe-contract row (_probe_contract); recall level
    vs brute force is pinned in tests/test_similarity.py."""
    emb = _emb(spark, sf_dir)
    qv = sim.query_vector(emb, QUERY_VEC_ID)
    path = _ann_index(emb, sf_dir, "ivf")
    probe = sim.probe_ivf_index(spark, path, qv, k=TOP_K, nprobe=4)
    return _probe_contract(emb, probe, "ivf", qv, err_bound=0.0)


@query(
    "embedding_quantize_int8",
    oracle="""
    WITH a AS (
        SELECT vec_id, embedding,
               list_max(list_transform(embedding,
                   u -> abs(CAST(u AS DOUBLE)))) AS absmax
        FROM embeddings
    ), q AS (
        SELECT vec_id,
               absmax / 127.0 AS scale,
               list_transform(embedding, u ->
                   CAST(greatest(-127.0, least(127.0,
                        floor(CAST(u AS DOUBLE) /
                              (CASE WHEN absmax = 0 THEN 1.0
                                    ELSE absmax / 127.0 END)
                              + 0.5))) AS BIGINT)) AS codes
        FROM a
    )
    SELECT vec_id,
           floor((scale) * 1e8 + 0.5) / 1e8 AS scale,
           CAST(list_sum(codes) AS BIGINT) AS code_sum,
           list_min(codes) AS code_min,
           list_max(codes) AS code_max,
           CAST(len(list_filter(codes, c -> c <> 0)) AS BIGINT) AS n_nonzero
    FROM q
    """,
)
def embedding_quantize_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric per-vector int8 quantization (scale = absmax/127,
    floor(x/scale + 0.5) codes) summarized to scalars — the compressed
    storage layout for a 100 TB ANN index, zero-shuffle.

    r15: runs the ``mapInArrow`` twin (pyarrow compute on the raw
    Arrow buffers) — the JVM higher-order-function chain re-evaluates
    the interpreted ``codes`` transform once per consuming aggregate
    (no CSE for HOFs; measured 3.7 s vs 0.28 s on the same input,
    guide §4.2); the two implementations are parity-pinned
    bit-for-bit in tests/test_similarity.py."""
    return sim.quantize_int8_stats_arrow(_emb(spark, sf_dir))


@query(
    "similarity_pairs_above",
    oracle="""
    WITH pairs AS (
        SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
               CAST(unnest(a.embedding) AS DOUBLE) AS x,
               CAST(unnest(b.embedding) AS DOUBLE) AS y
        FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
    ),
    dots AS (
        SELECT vec_a, vec_b, SUM(x * y) AS dp,
               SQRT(SUM(x * x)) AS na, SQRT(SUM(y * y)) AS nb
        FROM pairs GROUP BY vec_a, vec_b
    )
    SELECT vec_a, vec_b, floor((dp / (na * nb)) * 1e4 + 0.5) / 1e4 AS cos_sim
    FROM dots WHERE floor((dp / (na * nb)) * 1e4 + 0.5) / 1e4 >= 0.45
    """,
)
def similarity_pairs_above(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact all-pairs cosine above a threshold the synthetic data does
    exercise (0.45) — the verify-tier ground truth for the LSH pruned
    path (same role jaccard_pairs plays for MinHash). Quadratic by
    construction: at scale run it only on LSH candidate pairs."""
    return sim.all_pairs_cosine_above(_emb(spark, sf_dir), threshold=0.45)


@query(
    "similarity_ann_pq",
    # Bound-flag oracle (r12 verdict item 2, converted r13 — was
    # rows-only): the PQ codebooks stay engine-side; the probe-contract
    # invariants are driver-hash-checked. score_exact_ok uses
    # PQ_ADC_ERR_BOUND (ADC scores approximate the cosine) where the
    # LSH/IVF contracts pin exact 0.0 parity.
    oracle=_probe_oracle("pq"),
)
def similarity_ann_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Compressed-domain ANN: product-quantization codes (m=8 subspaces
    x 32 centroids, trained once on a bounded sample) materialized as a
    (vec_id, codes) table ~8x smaller than the embeddings; the probe is
    an asymmetric-distance scan — m lookup-table adds per row, no float
    vectors touched. Folded to the probe-contract row (_probe_contract);
    recall level vs brute force pinned in tests/test_similarity.py
    (modest on this near-orthogonal synthetic corpus — PQ needs cluster
    structure; high on the clustered fixture)."""
    emb = _emb(spark, sf_dir)
    qv = sim.query_vector(emb, QUERY_VEC_ID)
    path = _ann_index(emb, sf_dir, "pq")
    probe = sim.probe_pq_index(spark, path, qv, k=TOP_K)
    return _probe_contract(emb, probe, "pq", qv, err_bound=PQ_ADC_ERR_BOUND)


@query(
    "embedding_label_centroids",
    oracle="""
    SELECT label, pos,
           floor((CAST(CAST(SUM(CAST(v AS DECIMAL(25,9))) AS VARCHAR) AS DOUBLE) / COUNT(*)) * 1e6 + 0.5) / 1e6 AS avg_v,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM (
        SELECT label, unnest(embedding) AS v,
               unnest(range(1, len(embedding) + 1)) AS pos
        FROM embeddings
    ) GROUP BY label, pos
    """,
)
def embedding_label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label centroids in dim-major form: posexplode -> two-key
    partial agg; the shuffle carries O(labels x dim) decimal partials,
    never vectors, and the answer is partition-count-invariant."""
    return sim.label_centroids(_emb(spark, sf_dir))


@query(
    "similarity_semdedup_keep",
    # Exact-twin oracle (r7; id scheme updated r10): the k-means model
    # is engine-side, but the END RESULT is fully determined by the
    # fixture contract — each (source, injected copy) pair forms one
    # component whose min-id representative is the NEGATIVE-id copy,
    # so the source drops and the copy survives; no organic pair
    # clears the 0.95 threshold (measured max organic cosine: 0.51 at
    # sf0.01, 0.60 at sf0.1 — near-orthogonal-by-construction corpus,
    # enormous margin). Keep set = corpus with the first
    # N_INJECTED_DUPS ids swapped for their negative twins. Any
    # clustering / pair / component / keep-policy bug flips the hash.
    oracle=f"""
    SELECT CASE WHEN vec_id < {N_INJECTED_DUPS} THEN -vec_id - 1
                ELSE vec_id END AS vec_id
    FROM embeddings
    """,
)
def similarity_semdedup_keep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup end-to-end (semantic dedup policy): cluster-scoped
    exact-cosine pairs (operators/similarity.py::semdedup_pairs, the
    public SemDeDup recipe) -> connected components -> keep the
    representative per duplicate group + every unpaired vector, over
    the corpus plus injected fixture near-duplicates (see
    _with_injected_dups — on the raw near-orthogonal embeddings the
    keep set equaled the full corpus, proving nothing about the drop
    path). Exactly one of each (source, copy) pair must drop — the
    min-id keep policy retains the negative-id copy — so expected
    keep size = corpus size with the paired sources swapped for their
    twins; drop behavior on organically duplicated corpora is
    additionally pinned by tests/test_similarity.py."""
    from cdc_kafka_project_spark.operators.dedup import near_dedup_keep

    emb = _with_injected_dups(_emb(spark, sf_dir))
    # k scales with corpus size (semdedup_k_for: ~256 vectors/cluster,
    # clamped to [16, 4096]) so the within-cluster pair scan stays
    # linear in n — every driver-gate sf still resolves to k=16, so
    # gate results and cached models are unchanged; only above-sf0.1
    # corpora get more clusters. Training sample scales with k (>= 16
    # points per centroid), bounded well inside the 100k collect cap.
    # corpus size from parquet footer metadata + the fixed injected
    # count — a catalog-stats read, not a counting scan (r11; the
    # count() job was one of 6 executed embedding scans here)
    n = table_rows(sf_dir, "embeddings") + N_INJECTED_DUPS
    k = sim.semdedup_k_for(n)
    # fingerprint-cached centroids (the ensure_index lifecycle):
    # steady-state runs pay assignment + cluster-scoped pairs only, the
    # bounded retrain happens once per corpus generation
    C = sim.ensure_kmeans_model(
        emb,
        index_dir(sf_dir, f"semdedup_k{k}"),
        k=k,
        iters=2,
        max_train=max(512, 16 * k),
    )
    pairs = sim.semdedup_pairs(
        emb, k=k, threshold=0.95, centroids=C, n_rows=n
    )
    return near_dedup_keep(
        emb, pairs, id_col="vec_id", a_col="vec_a", b_col="vec_b"
    ).select("vec_id")


@query(
    "embedding_pca_project",
    # Invariant-flag oracle (r7; r8 added the mirrored numeric per the
    # round-7 advice): component values are SVD-sign/rotation-defined,
    # but the projection CONTRACT is not — one row per vector
    # (rowcount = |embeddings|), exactly 8 components, and a
    # projection onto orthonormal axes of a CENTERED vector can never
    # exceed the centered vector's own norm. in_l2_norm mirrors the
    # input-side norm numerically (the embedding_norms expression), so
    # the row identity is value-checked, not just counted. A wrong-dim
    # model, non-orthonormal components (norm explosion), or dropped
    # rows flip the rowcount, the numeric, or a flag; the flags'
    # negative cases are pinned in tests/test_similarity.py.
    oracle="""
    SELECT vec_id,
           floor((SQRT(list_sum(list_transform(embedding,
                 u -> CAST(u AS DOUBLE) * CAST(u AS DOUBLE))))) * 1e4 + 0.5) / 1e4
               AS in_l2_norm,
           TRUE AS dims_ok, TRUE AS norm_contract_ok
    FROM embeddings
    """,
)
def embedding_pca_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PCA tier (dimensionality reduction before indexing): model
    trained on the bounded deterministic sample (pca_train — same
    contract as k-means/PQ), corpus projected in one Arrow matmul
    pass. Drivable surface = the mirrored input norm plus per-vector
    invariant flags (8 dims; the projected norm bounded by the
    centered input's norm — the orthonormality contract made
    hash-checkable); component values / variance ordering /
    determinism stay pytest-pinned (tests/test_similarity.py)."""
    from cdc_kafka_project_spark.operators.similarity import (
        l2_norm,
        to_double_array,
    )

    emb = _emb(spark, sf_dir)
    model = sim.pca_train(emb, n_components=8, max_train=512)
    proj = sim.pca_project(emb, model)
    mean = F.array(*[F.lit(float(m)) for m in model["mean"]])
    centered_sq = F.aggregate(
        F.zip_with("embedding", mean, lambda x, m: (x - m) * (x - m)),
        F.lit(0.0),
        lambda a, x: a + x,
    )
    proj_sq = F.aggregate(
        "pca", F.lit(0.0), lambda a, x: a + x * x
    )
    return proj.select(
        "vec_id",
        fround(l2_norm(to_double_array(F.col("embedding"))), 4).alias(
            "in_l2_norm"
        ),
        (F.size("pca") == 8).alias("dims_ok"),
        (proj_sq <= centered_sq + F.lit(1e-6)).alias("norm_contract_ok"),
    )


@query(
    "embedding_matryoshka_fidelity",
    oracle=f"""
    WITH q AS (
        SELECT embedding AS qe FROM embeddings WHERE vec_id = {QUERY_VEC_ID}
    ),
    pairs AS (
        SELECT e.vec_id, i AS pos,
               CAST(e.embedding[i] AS DOUBLE) AS x,
               CAST(q.qe[i] AS DOUBLE) AS y
        FROM embeddings e CROSS JOIN q,
             unnest(range(1, 65)) AS t(i)
    ),
    dots AS (
        SELECT vec_id,
               SUM(x * y) AS dp_full,
               SQRT(SUM(x * x)) AS na_full, SQRT(SUM(y * y)) AS nb_full,
               SUM(CASE WHEN pos <= 16 THEN x * y ELSE 0 END) AS dp_t,
               SQRT(SUM(CASE WHEN pos <= 16 THEN x * x ELSE 0 END)) AS na_t,
               SQRT(SUM(CASE WHEN pos <= 16 THEN y * y ELSE 0 END)) AS nb_t
        FROM pairs GROUP BY vec_id
    )
    SELECT vec_id,
           FLOOR(dp_full / (na_full * nb_full) * 1e4 + 0.5) / 1e4 AS cos_full,
           FLOOR(dp_t / (na_t * nb_t) * 1e4 + 0.5) / 1e4 AS cos_trunc16,
           FLOOR(abs(dp_full / (na_full * nb_full)
                     - dp_t / (na_t * nb_t)) * 1e4 + 0.5) / 1e4 AS fidelity_gap
    FROM dots
    """,
)
def embedding_matryoshka_fidelity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matryoshka-style truncation fidelity: per vector, cosine to the
    query at FULL dimension (64) vs the 16-dim prefix — the measurement
    behind 'how much recall do we buy back by storing only the prefix'
    (4x cheaper index). One scan, two fused vector expressions, no
    shuffle; at 100 TB this is the evaluation pass run before choosing
    a truncated index layout. The per-pair ordering in both engines is
    plain float64 sums in index order; rounding to 4dp uses the
    floor-form (floor(x*1e4+0.5)/1e4, all IEEE float64 ops) instead of
    ROUND because Spark's Round on DOUBLE reads the shortest decimal
    repr (BigDecimal.valueOf) while DuckDB rounds the exact binary
    value — at 200k+ rows a cosine eventually lands between the two
    readings (observed at the 10x scale replica)."""
    from cdc_kafka_project_spark.functions import cosine_pd

    emb = _emb(spark, sf_dir)
    qv = sim.query_vector(emb, QUERY_VEC_ID)
    q_full = F.array(*[F.lit(float(v)) for v in qv])
    q_t = F.array(*[F.lit(float(v)) for v in qv[:16]])
    trunc = F.slice(F.col("embedding"), 1, 16)
    cf = cosine_pd(F.col("embedding"), q_full)
    ct = cosine_pd(trunc, q_t)
    return emb.select(
        "vec_id",
        fround(cf, 4).alias("cos_full"),
        fround(ct, 4).alias("cos_trunc16"),
        fround(F.abs(cf - ct), 4).alias("fidelity_gap"),
    )


def ann_recall_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Raw self-measured recall@20 per ANN method (LSH, IVF, PQ)
    against the exact brute-force top-20 for the standing query vector
    — the continuous-evaluation row an index deployment alerts on.
    The ground-truth and probe sets are k=20 driver-side reads
    (bounded, the documented exception); everything upstream is the
    same partition-pruned probes the individual queries run."""
    emb = _emb(spark, sf_dir)
    qv = sim.query_vector(emb, QUERY_VEC_ID)
    # Build-if-absent through the SAME definitions the individual ANN
    # queries use, so a standalone recall run measures the identical
    # materialized indexes (fingerprint-checked, so this is a no-op
    # when those queries already ran).
    paths = {m: _ann_index(emb, sf_dir, m) for m in _ANN_INDEXES}
    # ONE job for the exact truth scan AND all three probes (r16; was
    # truth-collect + probes-collect = two sequential submit→collect
    # round trips): the tagged union collects ≤ 4k rows in a single
    # action and Spark schedules the four independent subtrees
    # concurrently — the brute-force scan overlaps the probe reads.
    parts = [
        sim.brute_force_topk(emb, qv, k=TOP_K, round_to=None).select(
            F.lit("truth").alias("method"), "vec_id"
        ),
        sim.probe_lsh_index(
            spark, paths["lsh"], qv, k=TOP_K, probe_hamming=1
        ).select(F.lit("lsh").alias("method"), "vec_id"),
        sim.probe_ivf_index(
            spark, paths["ivf"], qv, k=TOP_K, nprobe=4
        ).select(F.lit("ivf").alias("method"), "vec_id"),
        sim.probe_pq_index(
            spark, paths["pq"], qv, k=TOP_K
        ).select(F.lit("pq").alias("method"), "vec_id"),
    ]
    tagged = parts[0]
    for p in parts[1:]:
        tagged = tagged.unionByName(p)
    by_method: dict[str, set] = {
        "truth": set(), "lsh": set(), "ivf": set(), "pq": set()
    }
    for r in tagged.collect():  # ≤ 4k rows — bounded driver read
        by_method[r.method].add(r.vec_id)
    truth = by_method.pop("truth")
    rows = [
        (m, TOP_K, len(ids & truth) / float(TOP_K))
        for m, ids in by_method.items()
    ]
    # local_rows_df: one slice, one worker round trip (not 32) when the
    # consumer materializes this 3-row result
    return local_rows_df(
        spark, rows, "method string, k int, recall double"
    )


@query(
    "similarity_ann_recall",
    # Bound-flag oracle (round-6 verdict item 4b, the
    # sketch_user_overlap pattern): recall values are
    # generation-dependent, so the drivable surface is the per-method
    # floor plus the recall>=floor boolean — literal rows on the
    # DuckDB side. A stale/broken index fails the flag (recall ≈ 0);
    # quality-level tracking stays in pytest and the bench record.
    oracle="""
    SELECT 'ivf' AS method, 20 AS k, 0.52 AS recall_floor, TRUE AS recall_ok
    UNION ALL
    SELECT 'lsh' AS method, 20 AS k, 0.07 AS recall_floor, TRUE AS recall_ok
    UNION ALL
    SELECT 'pq' AS method, 20 AS k, 0.14 AS recall_floor, TRUE AS recall_ok
    """,
)
def similarity_ann_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Drivable ANN quality gate: folds ``ann_recall_report``'s raw
    recall@20 per method to a pinned-floor boolean the driver can
    hash-check against literal TRUE rows (see ANN_RECALL_FLOORS for
    the floor rationale — breakage detection, not tuning)."""
    rep = ann_recall_report(spark, sf_dir)
    floor = F.create_map(
        *[F.lit(x) for kv in ANN_RECALL_FLOORS.items() for x in kv]
    )
    return rep.select(
        "method",
        "k",
        floor[F.col("method")].alias("recall_floor"),
        (F.col("recall") >= floor[F.col("method")]).alias("recall_ok"),
    )


#: Breakage floor for the PCA→IVF composed pipeline's recall@20 vs the
#: FULL-dimension exact top-20 (observed 0.10–0.20 across sf0.001/
#: 0.01/0.1 — 8x compression reshapes the neighborhood, so the level
#: is intentionally modest; a stale or broken index lands ≈ 0).
#: r15: 0.7x the minimum observed, same band discipline as
#: ANN_RECALL_FLOORS.
PIPELINE_RECALL_FLOOR = 0.07


def embedding_index_pipeline_report(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The embedding-side flagship composition (the twin of
    curation_pipeline for the vector stack): PCA-compress the corpus
    8x (64 -> 8 dims), build the IVF index IN THE COMPRESSED SPACE,
    probe it with the PCA-projected query, and report the probe's
    top-k with its recall against the full-dimension exact top-k.

    Why this shape at 100 TB: the IVF lists store 8 doubles per vector
    instead of 64 floats, the k-means trainer and every probe scan run
    at 1/8 width, and the only full-width passes left are the one
    projection scan and (optionally) a final exact re-rank of the
    short candidate list. Each stage is individually pinned
    (tests/test_similarity.py PCA + IVF suites); this report pins the
    COMPOSITION end to end with a self-measuring recall column."""
    import numpy as np

    emb = _emb(spark, sf_dir)
    model = sim.pca_train(emb, n_components=8, max_train=512)
    proj = sim.pca_project(emb, model).select(
        "vec_id", F.col("pca").alias("embedding")
    )
    qv_full = sim.query_vector(emb, QUERY_VEC_ID)
    q_pca = (
        (np.asarray(qv_full, dtype=np.float64)
         - np.asarray(model["mean"], dtype=np.float64))
        @ np.asarray(model["components"], dtype=np.float64).T
    ).tolist()
    path = index_dir(sf_dir, "ivf_pca8_k16")
    sim.ensure_ivf_index(proj, path, k_centroids=16, iters=2, max_train=512)
    probe = sim.probe_ivf_index(spark, path, q_pca, k=TOP_K, nprobe=4)
    truth = {
        r.vec_id
        for r in sim.brute_force_topk(
            emb, qv_full, k=TOP_K, round_to=None
        ).collect()
    }
    got = probe.collect()  # k rows — bounded driver read for the metric
    recall = len({r.vec_id for r in got} & truth) / float(TOP_K)
    return local_rows_df(
        spark,
        [(r.vec_id, float(r.cos_sim), recall) for r in got],
        "vec_id long, cos_pca double, recall_at_k double",
    )


@query(
    "embedding_index_pipeline",
    # Bound-flag oracle (same pattern as similarity_ann_recall): the
    # probe's vec_ids/scores are engine-defined (seeded PCA + k-means
    # in the compressed space), so the drivable surface is the one
    # summary row — k, the pinned floor, and recall>=floor — literal
    # on the DuckDB side. A stale or broken composed index flips the
    # flag; quality-level tracking stays in pytest.
    oracle=f"""
    SELECT 20 AS k,
           {PIPELINE_RECALL_FLOOR} AS recall_floor,
           TRUE AS recall_ok
    """,
)
def embedding_index_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Drivable gate for the PCA→IVF composed pipeline: folds
    ``embedding_index_pipeline_report``'s self-measured recall@20 to
    the pinned-floor boolean (see PIPELINE_RECALL_FLOOR)."""
    rep = embedding_index_pipeline_report(spark, sf_dir)
    return rep.groupBy().agg(
        F.max("recall_at_k").alias("__recall")
    ).select(
        F.lit(TOP_K).alias("k"),
        F.lit(PIPELINE_RECALL_FLOOR).alias("recall_floor"),
        (F.col("__recall") >= PIPELINE_RECALL_FLOOR).alias("recall_ok"),
    )


def _duck_bits(lo: int, hi: int) -> str:
    """DuckDB expression for one packed 32-bit sign word (1-based
    inclusive slice [lo:hi]), mirroring operators.similarity.binary_quantize."""
    return (
        f"CAST(list_sum(list_transform(embedding[{lo}:{hi}], "
        "(e,i) -> CASE WHEN e >= 0 THEN (1::BIGINT << (i-1)) ELSE 0 END)) "
        "AS BIGINT)"
    )


@query(
    "embedding_binary_quantize",
    oracle=f"""
    SELECT vec_id,
           {_duck_bits(1, 32)} AS bits_w0,
           {_duck_bits(33, 64)} AS bits_w1,
           CAST(len(list_filter(embedding, e -> e >= 0)) AS INT) AS n_positive
    FROM embeddings
    """,
)
def embedding_binary_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1-bit sign quantization: 64 dims -> two packed 32-bit words
    (32x smaller than float32). Zero shuffle, one codegen'd projection;
    the storage tier under the Hamming ANN prefilter."""
    bits = sim.binary_quantize(_emb(spark, sf_dir), dim=64)
    n_pos = (F.bit_count("bits_w0") + F.bit_count("bits_w1")).cast("int")
    return bits.select(
        "vec_id", "bits_w0", "bits_w1", n_pos.alias("n_positive")
    )


@query(
    "similarity_hamming_rerank",
    oracle=f"""
    WITH bits AS (
        SELECT vec_id, embedding,
               {_duck_bits(1, 32)} AS w0,
               {_duck_bits(33, 64)} AS w1
        FROM embeddings
    ),
    q AS (SELECT w0, w1, embedding AS qe FROM bits WHERE vec_id = {QUERY_VEC_ID}),
    cand AS (
        SELECT b.vec_id, b.embedding, q.qe,
               CAST(bit_count(xor(b.w0, q.w0))
                    + bit_count(xor(b.w1, q.w1)) AS INT) AS hamming
        FROM bits b, q
        ORDER BY hamming, b.vec_id
        LIMIT 64
    ),
    pairs AS (
        SELECT vec_id, hamming,
               CAST(unnest(embedding) AS DOUBLE) AS x,
               CAST(unnest(qe) AS DOUBLE) AS y
        FROM cand
    ),
    dots AS (
        SELECT vec_id, hamming, SUM(x * y) AS dp,
               SQRT(SUM(x * x)) AS na, SQRT(SUM(y * y)) AS nb
        FROM pairs GROUP BY vec_id, hamming
    )
    SELECT vec_id, hamming, floor((dp / (na * nb)) * 1e4 + 0.5) / 1e4 AS cos_sim
    FROM dots
    ORDER BY cos_sim DESC, vec_id
    LIMIT 10
    """,
)
def similarity_hamming_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-tier ANN: XOR+popcount Hamming shortlist over the packed
    sign bits (64 candidates, TakeOrdered — no corpus shuffle), exact
    Arrow-cosine rerank of the shortlist only. The oracle recomputes
    both tiers end to end, so the row is a real hash check (unlike the
    seeded-model LSH/IVF/PQ tiers, which are rows-only)."""
    emb = _emb(spark, sf_dir)
    qv = sim.query_vector(emb, QUERY_VEC_ID)
    return sim.hamming_rerank_topk(
        emb, qv, dim=64, n_candidates=64, k=10, round_to=4
    )


SEMANTIC_DECON_THRESHOLD = 0.95

#: fixed eval-set cap (r11): a real deployment decontaminates against
#: a FIXED benchmark, so the fixture's eval side must not scale with
#: the corpus — uncapped, the oracle's cross join went quadratic at
#: the 100x replica (~20k x 2M) and OOM'd DuckDB while the engine
#: (broadcast nested-loop) completed fine. 256 leaves every sf <= 0.1
#: result unchanged (their organic eval splits are smaller) and keeps
#: the oracle linear in the corpus at any replica scale.
SEMANTIC_DECON_EVAL_CAP = 256


@query(
    "semantic_decontaminate",
    oracle=f"""
    WITH ev AS (
        SELECT vec_id, embedding FROM embeddings WHERE vec_id % 97 = 0
        ORDER BY vec_id LIMIT {SEMANTIC_DECON_EVAL_CAP}
    ),
    injected AS (
        -- order on the ORGANIC id before negating (the output alias
        -- would capture the ORDER BY otherwise)
        SELECT -vec_id - 1 AS vec_id,
               list_transform(embedding, x -> CAST(x * 1.001 AS FLOAT))
                   AS embedding
        FROM (SELECT vec_id, embedding FROM ev ORDER BY vec_id LIMIT 3)
    ),
    train AS (
        SELECT vec_id, embedding FROM embeddings WHERE vec_id % 97 <> 0
        UNION ALL SELECT vec_id, embedding FROM injected
    ),
    pairs AS (
        SELECT t.vec_id,
               CAST(unnest(t.embedding) AS DOUBLE) AS x,
               CAST(unnest(e.embedding) AS DOUBLE) AS y,
               e.vec_id AS ev_id
        FROM train t CROSS JOIN ev e
    ),
    dots AS (
        SELECT vec_id, ev_id, SUM(x * y) AS dp,
               SQRT(SUM(x * x)) AS na, SQRT(SUM(y * y)) AS nb
        FROM pairs GROUP BY vec_id, ev_id
    ),
    best AS (
        SELECT vec_id, MAX(floor((dp / (na * nb)) * 1e4 + 0.5) / 1e4) AS max_eval_cos
        FROM dots GROUP BY vec_id
    )
    SELECT vec_id, max_eval_cos,
           max_eval_cos >= {SEMANTIC_DECON_THRESHOLD} AS contaminated
    FROM best
    """,
)
def semantic_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SEMANTIC decontamination: flag training vectors whose embedding
    is near-identical (cosine >= 0.95) to any eval-set vector — the
    embedding-space sibling of the n-gram `doc_decontaminate` tier,
    catching paraphrased/reformatted eval leakage that exact shingles
    miss. Three eval near-copies are fixture-injected into the train
    side (scaled 1.001 — cosine exactly 1.0) so the flag path is
    non-vacuous on the near-orthogonal synthetic corpus.

    Shape: the eval set is SMALL by construction (the thing you
    decontaminate against is a benchmark, not a corpus), so it
    broadcasts and the train side is scanned once — a broadcast
    nested-loop over |eval| vectors per row, max-aggregated on the
    spot. Fully oracle-checked (exact cosine, no model state).
    """
    emb = _emb(spark, sf_dir)
    from cdc_kafka_project_spark.functions import cosine_pd

    # the CAPPED eval set is tiny and referenced twice (the injected
    # near-copies + the broadcast side); checkpoint it so embeddings
    # is scanned once for eval + once for train (2 executed scans,
    # was 3) — and the cap itself keeps the fixture's eval side fixed
    # as the corpus scales (see SEMANTIC_DECON_EVAL_CAP)
    ev = cache.scoped_localcheckpoint(
        emb.filter(F.col("vec_id") % 97 == 0)
        .select(
            F.col("vec_id").alias("ev_id"), F.col("embedding").alias("ev_emb")
        )
        .orderBy("ev_id")
        .limit(SEMANTIC_DECON_EVAL_CAP)
    )
    injected = (
        ev.orderBy("ev_id")
        .limit(3)
        .select(
            (-F.col("ev_id") - F.lit(1)).alias("vec_id"),
            F.transform(
                "ev_emb", lambda x: (x * F.lit(1.001)).cast("float")
            ).alias("embedding"),
        )
    )
    train = (
        emb.filter(F.col("vec_id") % 97 != 0)
        .select("vec_id", "embedding")
        .unionByName(injected)
    )
    cos = fround(cosine_pd(F.col("embedding"), F.col("ev_emb")), 4)
    best = (
        sim.spread(train)
        .crossJoin(F.broadcast(ev))
        .select("vec_id", cos.alias("c"))
        .groupBy("vec_id")
        .agg(F.max("c").alias("max_eval_cos"))
    )
    return best.select(
        "vec_id",
        "max_eval_cos",
        (F.col("max_eval_cos") >= F.lit(SEMANTIC_DECON_THRESHOLD)).alias(
            "contaminated"
        ),
    )


OUTLIERS_PER_LABEL = 5


@query(
    "embedding_label_outliers",
    oracle=f"""
    WITH pe AS (
        SELECT vec_id, label, CAST(unnest(embedding) AS DOUBLE) AS v,
               unnest(range(1, len(embedding) + 1)) AS pos
        FROM embeddings
    ),
    cent AS (
        SELECT label, pos,
               floor((CAST(CAST(SUM(CAST(v AS DECIMAL(25,9))) AS VARCHAR) AS DOUBLE)
                     / COUNT(*)) * 1e6 + 0.5) / 1e6 AS c
        FROM pe GROUP BY label, pos
    ),
    dots AS (
        SELECT pe.vec_id, pe.label,
               CAST(CAST(SUM(CAST(pe.v * cent.c AS DECIMAL(25,12))) AS VARCHAR) AS DOUBLE)
                   AS dp,
               CAST(CAST(SUM(CAST(pe.v * pe.v AS DECIMAL(25,12))) AS VARCHAR) AS DOUBLE)
                   AS na,
               CAST(CAST(SUM(CAST(cent.c * cent.c AS DECIMAL(25,12))) AS VARCHAR) AS DOUBLE)
                   AS nb
        FROM pe JOIN cent ON pe.label = cent.label AND pe.pos = cent.pos
        GROUP BY pe.vec_id, pe.label
    ),
    scored AS (
        SELECT vec_id, label,
               floor(dp / (sqrt(na) * sqrt(nb)) * 1e4 + 0.5) / 1e4
                   AS cos_to_centroid
        FROM dots
    )
    SELECT vec_id, label, cos_to_centroid,
           row_number() OVER (PARTITION BY label
                              ORDER BY cos_to_centroid, vec_id)
               <= {OUTLIERS_PER_LABEL} AS is_outlier
    FROM scored
    """,
)
def embedding_label_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-space quality filter: cosine of every vector to its
    label centroid, flagging the {OUTLIERS_PER_LABEL} least-central
    vectors per label — the "mislabeled / off-distribution sample"
    screen run before training on labeled embeddings.

    Scale shape: the centroid is the dim-major partial agg
    (`label_centroids` — shuffle carries labels × dims partials, never
    vectors); the score join is posexploded-scalar against the tiny
    centroid table (broadcastable), and every per-vector reduction is
    a decimal-exact sum over the 64 dims. The outlier rank runs per
    label over |vectors| scored rows. Exact-oracle cosine end-to-end —
    the ANN tiers get their recall measured against exactly this kind
    of ground truth.
    """
    from cdc_kafka_project_spark.functions import to_double_array
    from cdc_kafka_project_spark.operators.similarity import (
        label_centroids,
        spread,
    )

    emb = _emb(spark, sf_dir)
    pe = spread(emb).select(
        "vec_id",
        "label",
        F.posexplode(to_double_array("embedding")).alias("pos0", "v"),
    ).select(
        "vec_id", "label", (F.col("pos0") + 1).alias("pos"), "v"
    )
    cent = label_centroids(emb).select(
        "label", "pos", F.col("avg_v").alias("c")
    )
    dots = (
        pe.join(F.broadcast(cent), on=["label", "pos"])
        .groupBy("vec_id", "label")
        .agg(
            F.sum((F.col("v") * F.col("c")).cast("decimal(25,12)"))
            .cast("double")
            .alias("dp"),
            F.sum((F.col("v") * F.col("v")).cast("decimal(25,12)"))
            .cast("double")
            .alias("na"),
            F.sum((F.col("c") * F.col("c")).cast("decimal(25,12)"))
            .cast("double")
            .alias("nb"),
        )
    )
    scored = dots.select(
        "vec_id",
        "label",
        (
            F.floor(
                F.col("dp") / (F.sqrt("na") * F.sqrt("nb")) * 1e4 + F.lit(0.5)
            )
            / 1e4
        ).alias("cos_to_centroid"),
    )
    from pyspark.sql import Window as W

    rn = F.row_number().over(
        W.partitionBy("label").orderBy("cos_to_centroid", "vec_id")
    )
    return scored.select(
        "vec_id",
        "label",
        "cos_to_centroid",
        (rn <= OUTLIERS_PER_LABEL).alias("is_outlier"),
    )


# docstring is a plain string (not an f-string) so the constant renders;
# guard for python -OO, where docstrings are stripped to None
if embedding_label_outliers.__doc__:
    embedding_label_outliers.__doc__ = embedding_label_outliers.__doc__.replace(
        "{OUTLIERS_PER_LABEL}", str(OUTLIERS_PER_LABEL)
    )
