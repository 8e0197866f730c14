"""Similarity-search semantics on synthesized vectors with known
structure (clustered + noise), plus recall of the ANN tier."""

import math
import random

import pytest
from pyspark.sql import functions as F

from cdc_kafka_project_spark.operators import similarity as sim

EMB_SCHEMA = "vec_id long, embedding array<float>"
DIM = 16


def _unit(rng):
    v = [rng.gauss(0, 1) for _ in range(DIM)]
    n = math.sqrt(sum(x * x for x in v))
    return [x / n for x in v]


def _perturb(v, rng, eps=0.05):
    out = [x + rng.gauss(0, eps) for x in v]
    n = math.sqrt(sum(x * x for x in out))
    return [x / n for x in out]


@pytest.fixture(scope="module")
def corpus(spark):
    rng = random.Random(7)
    q = _unit(rng)
    rows = [(0, q)]
    # 10 near-neighbors of the query vector
    rows += [(i, _perturb(q, rng)) for i in range(1, 11)]
    # 200 random distractors
    rows += [(i, _unit(rng)) for i in range(11, 211)]
    # one exact duplicate pair among the distractors
    dup = _unit(rng)
    rows += [(300, dup), (301, dup)]
    return spark.createDataFrame(rows, EMB_SCHEMA), q


def _cos(a, b):
    return sum(x * y for x, y in zip(a, b)) / (
        math.sqrt(sum(x * x for x in a)) * math.sqrt(sum(x * x for x in b))
    )


def test_brute_force_topk_matches_python_reference(corpus):
    emb, q = corpus
    got = sim.brute_force_topk(emb, q, k=11, round_to=None).collect()
    # python reference ranking
    rows = [(r.vec_id, list(r.embedding)) for r in emb.collect()]
    expect = sorted(
        ((vid, _cos(v, q)) for vid, v in rows), key=lambda t: (-t[1], t[0])
    )[:11]
    assert [r.vec_id for r in got] == [vid for vid, _ in expect]
    for r, (_, c) in zip(got, expect):
        assert r.cos_sim == pytest.approx(c, abs=1e-6)
    # the query itself ranks first with cos 1.0
    assert got[0].vec_id == 0 and got[0].cos_sim == pytest.approx(1.0, abs=1e-9)


def test_query_vector_lookup(corpus):
    emb, q = corpus
    assert sim.query_vector(emb, 0) == pytest.approx(q, abs=1e-6)
    with pytest.raises(KeyError):
        sim.query_vector(emb, 99999)


def test_ann_lsh_recall_on_clustered_neighbors(corpus, tmp_path):
    """Tight cluster around the query: LSH with multi-probe must find
    most of the true top-11 (the 10 perturbed copies + query)."""
    emb, q = corpus
    path = str(tmp_path / "lsh")
    sim.ensure_lsh_index(emb, path, n_planes=8)
    truth = {r.vec_id for r in sim.brute_force_topk(emb, q, k=11).collect()}
    ann = {
        r.vec_id
        for r in sim.probe_lsh_index(emb.sparkSession, path, q, k=11).collect()
    }
    recall = len(truth & ann) / len(truth)
    assert 0 in ann  # the query's own bucket is always probed
    assert recall >= 0.6, f"recall {recall} too low for a tight cluster"


def test_ann_results_subset_of_brute_force_ranking(corpus, tmp_path):
    """ANN scores must be exact cosines (only the candidate set is
    approximate)."""
    emb, q = corpus
    path = str(tmp_path / "lsh")
    sim.ensure_lsh_index(emb, path)
    brute = {r.vec_id: r.cos_sim for r in sim.brute_force_topk(emb, q, k=250).collect()}
    for r in sim.probe_lsh_index(emb.sparkSession, path, q, k=11).collect():
        assert r.cos_sim == pytest.approx(brute[r.vec_id], abs=1e-9)


def test_cosine_near_dup_finds_exact_duplicate_pair(corpus):
    emb, _ = corpus
    pairs = {
        (r.vec_a, r.vec_b): r.cos_sim
        for r in sim.cosine_near_dup_pairs(emb, threshold=0.95).collect()
    }
    assert (300, 301) in pairs
    assert pairs[(300, 301)] == pytest.approx(1.0, abs=1e-6)


def test_cosine_near_dup_recall_vs_exact_all_pairs(corpus):
    """OR-amplified banding (16 bands x 16 planes) vs the exact verify
    tier at a threshold the corpus exercises: the query's perturbed
    cluster yields dozens of true pairs above 0.95; the banded
    candidate join must recover nearly all of them, and everything it
    returns must be a true pair (exact-cosine verified)."""
    emb, _ = corpus
    truth = {
        (r.vec_a, r.vec_b)
        for r in sim.all_pairs_cosine_above(
            emb, threshold=0.95, block_rows=64
        ).collect()
    }
    assert len(truth) >= 10  # the corpus really exercises the threshold
    got = {
        (r.vec_a, r.vec_b)
        for r in sim.cosine_near_dup_pairs(emb, threshold=0.95).collect()
    }
    assert got <= truth  # verify step: no false positives
    recall = len(got & truth) / len(truth)
    assert recall >= 0.9, f"recall {recall} too low for 16x16 banding"


def test_embedding_norms_unit_vectors(corpus):
    emb, _ = corpus
    out = sim.embedding_norms(emb).collect()
    assert all(r.dim == DIM for r in out)
    assert all(abs(r.l2_norm - 1.0) < 1e-3 for r in out)

def test_ivf_full_probe_equals_brute_force(corpus, tmp_path):
    """nprobe = k_centroids scans every inverted list — recall 1.0 by
    construction (partition of the corpus)."""
    emb, q = corpus
    path = str(tmp_path / "ivf")
    sim.ensure_ivf_index(emb, path, k_centroids=8, iters=2)
    truth = [r.vec_id for r in sim.brute_force_topk(emb, q, k=11).collect()]
    full = [
        r.vec_id
        for r in sim.probe_ivf_index(
            emb.sparkSession, path, q, k=11, nprobe=8
        ).collect()
    ]
    assert full == truth


def test_ivf_probed_recall_on_clustered_neighbors(corpus, tmp_path):
    """The query's tight cluster lands in few lists: probing 2 of 8
    must recover most of the true top-11."""
    emb, q = corpus
    path = str(tmp_path / "ivf")
    sim.ensure_ivf_index(emb, path, k_centroids=8, iters=3)
    truth = {r.vec_id for r in sim.brute_force_topk(emb, q, k=11).collect()}
    got = sim.probe_ivf_index(
        emb.sparkSession, path, q, k=11, nprobe=2
    ).collect()
    recall = len(truth & {r.vec_id for r in got}) / len(truth)
    assert recall >= 0.6, f"recall {recall} too low"
    # scores are exact cosines (candidate set is the only approximation)
    brute = {r.vec_id: r.cos_sim for r in sim.brute_force_topk(emb, q, k=250).collect()}
    for r in got:
        assert r.cos_sim == pytest.approx(brute[r.vec_id], abs=1e-9)


def test_quantize_int8_reconstruction_bound(corpus):
    """Codes stay in [-127, 127]; dequantized values reconstruct the
    original within scale/2 per dimension (the symmetric-quantization
    error bound), verified here via the summary stats."""
    emb, _ = corpus
    out = sim.quantize_int8_stats(emb).collect()
    assert len(out) == emb.count()
    rows = {r.vec_id: r for r in out}
    orig = {r.vec_id: list(r.embedding) for r in emb.collect()}
    for vid, r in rows.items():
        assert -127 <= r.code_min <= r.code_max <= 127
        v = orig[vid]
        scale = max(abs(x) for x in v) / 127.0
        codes = [
            max(-127, min(127, int(math.floor(x / scale + 0.5)))) for x in v
        ]
        assert r.code_sum == sum(codes)
        assert r.n_nonzero == sum(1 for c in codes if c != 0)
        # unit vectors: the absmax dimension quantizes to +/-127
        assert max(abs(r.code_min), abs(r.code_max)) == 127


def test_ivf_index_probe_recall(corpus, tmp_path):
    """Materialized IVF probe: recall vs brute force on the clustered
    corpus, scores exact, model persisted/reloaded."""
    emb, q = corpus
    path = str(tmp_path / "ivf")
    sim.ensure_ivf_index(emb, path, k_centroids=8, iters=3, max_train=1000)
    assert sim.index_exists(path)
    assert sim.read_model(path)["kind"] == "ivf"
    spark = emb.sparkSession
    truth = {r.vec_id for r in sim.brute_force_topk(emb, q, k=11).collect()}
    ann = {
        r.vec_id
        for r in sim.probe_ivf_index(spark, path, q, k=11, nprobe=2).collect()
    }
    recall = len(truth & ann) / len(truth)
    assert recall >= 0.6, f"recall {recall} too low"


def test_training_sample_bounds_collect(corpus, spark):
    """No k-means code path may collect an unbounded corpus: the
    training sample caps rows near max_train regardless of input size,
    passes small corpora through untouched, and rejects nonsense."""
    emb, _ = corpus
    n = emb.count()
    small = sim.training_sample(emb, max_train=50).count()
    # hash-sample keeps ~1/m of rows (m = n // max_train >= 2)
    assert small < n
    assert small <= 3 * 50  # loose: Bernoulli tail, deterministic seed
    assert sim.training_sample(emb, max_train=10 * n).count() == n
    with pytest.raises(ValueError):
        sim.training_sample(emb, max_train=0)
    # kmeans trained on the bounded default still returns k centroids
    cents = sim.kmeans_centroids(emb, k=4, iters=1)
    assert len(cents) == 4 and len(cents[0]) == DIM


def test_ivf_index_partitions_corpus(corpus):
    """Every vector lands in exactly one inverted list."""
    emb, _ = corpus
    cents = sim.kmeans_centroids(emb, k=8, iters=2)
    index = sim.ivf_index(emb, cents)
    assert index.count() == emb.count()
    assert index.filter(F.col("cid").isNull()).count() == 0
    assert index.select("cid").distinct().count() <= 8


def test_training_sample_expected_size_within_max_train(corpus, spark):
    """m must be ceil(n / max_train): with n=213 and max_train=73
    (ratio 2.92) the modulus is 3 (expected ~71 rows) — the old floor
    gave 2 (expected ~106, a 45% overshoot of the documented bound)."""
    emb, _ = corpus
    n = emb.count()
    assert n == 213
    got = sim.training_sample(emb, max_train=73).count()
    assert got <= 90, f"sample {got} exceeds ceil-bound expectation"


def _emb_rows(rng):
    return [(i, _unit(rng)) for i in range(40)], EMB_SCHEMA


def _doc_rows(rng):
    words = [f"w{i}" for i in range(30)]
    return [
        (i, " ".join(rng.choice(words) for _ in range(12))) for i in range(20)
    ], "doc_id long, text string"


def _index_lifecycle_kinds():
    """kind -> (source rows, ensure(df, path, param), param, changed
    param). The token index's only fingerprint params are its column
    names, so its changed-params case lives in test_retrieval.py
    (``test_token_index_rebuilds_when_text_col_changes``)."""
    from cdc_kafka_project_spark.operators import dedup as dd
    from cdc_kafka_project_spark.operators import retrieval as rt

    return {
        "lsh": (_emb_rows, lambda df, p, v: sim.ensure_lsh_index(
            df, p, n_planes=v), 4, 5),
        "ivf": (_emb_rows, lambda df, p, v: sim.ensure_ivf_index(
            df, p, k_centroids=v, iters=2, max_train=512), 4, 5),
        "pq": (_emb_rows, lambda df, p, v: sim.ensure_pq_index(
            df, p, m=4, k_codes=v, iters=2, max_train=512), 4, 8),
        "kmeans": (_emb_rows, lambda df, p, v: sim.ensure_kmeans_model(
            df, p, k=v, iters=2, max_train=512), 4, 5),
        "minhash": (_doc_rows, lambda df, p, v: dd.ensure_minhash_index(
            df, p, num_perm=v, bands=v // 4, rows=4), 64, 32),
        "token": (_doc_rows, lambda df, p, v: rt.ensure_token_index(df, p),
                  None, None),
    }


def test_index_fingerprint_staleness_forces_rebuild(spark, tmp_path):
    """Every ensure_* runs the one ensure_index lifecycle: no rebuild
    while the source parquet and params are unchanged (model mtime
    fixed), a rebuild when the source is rewritten or a param changes,
    and a rebuild for every in-memory source (no file identity, so
    index_exists(path, None) is False). Silently serving an index built
    from old data is the bug this pins — for all six index kinds."""
    import os
    import time

    for kind, (make_rows, ensure, param, changed) in (
        _index_lifecycle_kinds().items()
    ):
        src = str(tmp_path / f"{kind}_src.parquet")
        idx = str(tmp_path / kind)
        model_file = os.path.join(idx, "_ann_model.json")
        rng = random.Random(3)

        def write_source():
            rows, schema = make_rows(rng)  # rng advances: new content
            spark.createDataFrame(rows, schema).coalesce(1).write.mode(
                "overwrite"
            ).parquet(src)

        def rebuilt_since(t):
            return os.path.getmtime(model_file) > t

        write_source()
        ensure(spark.read.parquet(src), idx, param)
        t0 = os.path.getmtime(model_file)
        fp0 = sim.read_model(idx)["fingerprint"]
        assert fp0, kind  # file-backed input -> identity established
        assert sim.index_exists(idx, fp0), kind

        ensure(spark.read.parquet(src), idx, param)
        assert not rebuilt_since(t0), f"{kind}: unchanged source rebuilt"

        time.sleep(0.05)  # ensure distinguishable mtime on rewrite
        write_source()
        ensure(spark.read.parquet(src), idx, param)
        assert rebuilt_since(t0), f"{kind}: rewritten source not rebuilt"
        assert sim.read_model(idx)["fingerprint"] not in (None, fp0), kind

        if changed is not None:
            t1 = os.path.getmtime(model_file)
            time.sleep(0.05)
            ensure(spark.read.parquet(src), idx, changed)
            assert rebuilt_since(t1), f"{kind}: changed params not rebuilt"

        # in-memory input can't be fingerprinted -> conservative rebuild
        mem = spark.createDataFrame(*make_rows(rng))
        assert sim.corpus_fingerprint(mem, {"kind": kind}) is None, kind
        assert sim.index_exists(idx, None) is False, kind
        t2 = os.path.getmtime(model_file)
        time.sleep(0.05)
        ensure(mem, idx, param)
        assert rebuilt_since(t2), f"{kind}: in-memory source not rebuilt"
        assert sim.read_model(idx)["fingerprint"] is None, kind


def test_ensure_index_failed_build_is_retried(spark, tmp_path, monkeypatch):
    """A build that raises leaves no model that matches: ensure_*
    propagates the error, and the next call with the same source builds
    again — on an empty path and over a stale index alike."""
    import os

    src = str(tmp_path / "emb.parquet")
    idx = str(tmp_path / "ivf")
    rng = random.Random(5)

    def write_source():
        spark.createDataFrame(*_emb_rows(rng)).coalesce(1).write.mode(
            "overwrite"
        ).parquet(src)

    def ensure():
        sim.ensure_ivf_index(
            spark.read.parquet(src), idx, k_centroids=4, iters=2,
            max_train=512,
        )

    def failing_training(*args, **kwargs):
        raise RuntimeError("training failed")

    write_source()
    real_training = sim.kmeans_centroids
    monkeypatch.setattr(sim, "kmeans_centroids", failing_training)
    with pytest.raises(RuntimeError, match="training failed"):
        ensure()
    assert not sim.index_exists(idx)
    monkeypatch.setattr(sim, "kmeans_centroids", real_training)
    ensure()
    fp0 = sim.read_model(idx)["fingerprint"]
    assert fp0 and sim.index_exists(idx, fp0)

    write_source()  # the standing index is now stale
    monkeypatch.setattr(sim, "kmeans_centroids", failing_training)
    with pytest.raises(RuntimeError, match="training failed"):
        ensure()
    assert sim.read_model(idx)["fingerprint"] == fp0  # stale model kept
    fp1 = sim.corpus_fingerprint(
        spark.read.parquet(src),
        {"kind": "ivf", "k": 4, "iters": 2, "max_train": 512},
    )
    assert fp1 != fp0 and not sim.index_exists(idx, fp1)
    monkeypatch.setattr(sim, "kmeans_centroids", real_training)
    ensure()
    assert sim.read_model(idx)["fingerprint"] == fp1
    assert spark.read.parquet(idx).count() == 40
    assert os.path.exists(os.path.join(idx, "_SUCCESS"))


def test_pq_codes_shape_and_range(corpus):
    emb, _ = corpus
    books = sim.pq_train(emb, m=4, k_codes=8, iters=3, max_train=512)
    assert len(books) == 4 and all(len(b) == 8 for b in books)
    assert all(len(c) == DIM // 4 for b in books for c in b)
    codes = emb.select(
        "vec_id", sim.pq_code_expr(F.col("embedding"), books).alias("codes")
    ).collect()
    for r in codes:
        assert len(r.codes) == 4
        assert all(0 <= c < 8 for c in r.codes)


def test_pq_adc_recall_on_clustered_neighbors(corpus):
    """The 10 perturbed copies of the query form a tight cluster — the
    regime PQ is built for. ADC over 4x8 codebooks must keep most of
    the true top-11 and rank the query's own (exactly reconstructible
    neighborhood) cluster on top."""
    emb, q = corpus
    truth = {r.vec_id for r in sim.brute_force_topk(emb, q, k=11).collect()}
    books = sim.pq_train(emb, m=4, k_codes=16, iters=5, max_train=512)
    codes = emb.select(
        "vec_id", sim.pq_code_expr(F.col("embedding"), books).alias("codes")
    )
    got = sim.pq_adc_topk(codes, books, q, k=11).collect()
    ann = {r.vec_id for r in got}
    recall = len(truth & ann) / len(truth)
    assert recall >= 0.7, f"PQ recall {recall} too low for a tight cluster"
    # ADC sims are cosines of reconstructions: bounded and high for
    # the cluster it was trained on
    assert all(-1.001 <= r.adc_sim <= 1.001 for r in got)
    assert got[0].adc_sim > 0.8


def test_pq_index_build_probe_and_staleness(corpus, tmp_path):
    emb, q = corpus
    path = str(tmp_path / "pq")
    sim.ensure_pq_index(emb, path, m=4, k_codes=16, iters=3, max_train=512)
    got = sim.probe_pq_index(emb.sparkSession, path, q, k=11)
    assert got.count() == 11
    # in-memory frames have no file identity -> fingerprint None ->
    # ensure must rebuild rather than trust a possibly-stale index
    assert sim.corpus_fingerprint(emb, {}) is None
    assert not sim.index_exists(path, None)


def test_pq_single_subspace_equals_kmeans(corpus):
    """One Lloyd core: a single-subspace PQ codebook is exactly the
    k-means centroid set trained on the same sample."""
    emb, _ = corpus
    k, iters, n = 8, 3, 150
    book = sim.pq_train(emb, m=1, k_codes=k, iters=iters, max_train=n)[0]
    assert book == sim.kmeans_centroids(emb, k=k, iters=iters, max_train=n)


def test_kmeans_raises_when_sample_smaller_than_k(corpus):
    """Short training sample must raise, not silently train < k
    centroids (carried r2 advice)."""
    emb, _ = corpus
    tiny = emb.limit(5)
    with pytest.raises(ValueError, match="lower k or raise max_train"):
        sim.kmeans_centroids(tiny, k=16, iters=1)
    with pytest.raises(ValueError, match="lower k_codes"):
        sim.pq_train(tiny, m=4, k_codes=16, iters=1)


def test_quantize_int8_zero_vector_yields_zero_codes(spark):
    """All-zero embedding: scale 0.0 and all-zero codes — not a 0/0
    NaN/NULL divergence (carried r2 advice, oracle-mirrored)."""
    df = spark.createDataFrame(
        [(1, [0.0] * DIM), (2, [1.0] + [0.0] * (DIM - 1))], EMB_SCHEMA
    )
    got = {r.vec_id: r for r in sim.quantize_int8_stats(df).collect()}
    z = got[1]
    assert z.scale == 0.0
    assert (z.code_sum, z.code_min, z.code_max, z.n_nonzero) == (0, 0, 0, 0)
    nz = got[2]
    assert nz.code_max == 127 and nz.n_nonzero == 1


def test_semdedup_drops_within_cluster_duplicates(corpus, spark):
    """SemDeDup: exact duplicates and tight near-neighbors share a
    k-means cluster, so the cluster-scoped pair scan finds them; the
    keep policy drops all but one per group and keeps everything
    unpaired."""
    from cdc_kafka_project_spark.operators.dedup import near_dedup_keep

    emb, _ = corpus
    pairs = sim.semdedup_pairs(emb, k=4, iters=2, max_train=512, threshold=0.999)
    got = {(r.vec_a, r.vec_b) for r in pairs.collect()}
    assert (300, 301) in got  # the exact-duplicate pair
    kept = {
        r.vec_id
        for r in near_dedup_keep(
            emb, pairs, id_col="vec_id", a_col="vec_a", b_col="vec_b"
        ).select("vec_id").collect()
    }
    assert 300 in kept and 301 not in kept  # representative = min id
    assert len(kept) == emb.count() - len({b for _, b in got})


def test_semdedup_matches_global_tier_within_clusters(corpus):
    """Every pair SemDeDup emits must also be found by the exact global
    tier at the same threshold (soundness: cluster scoping only
    *removes* candidate pairs, never invents similarity)."""
    emb, _ = corpus
    sd = {
        (r.vec_a, r.vec_b, r.cos_sim)
        for r in sim.semdedup_pairs(
            emb, k=4, iters=2, max_train=512, threshold=0.9
        ).collect()
    }
    exact = {
        (r.vec_a, r.vec_b, r.cos_sim)
        for r in sim.all_pairs_cosine_above(emb, threshold=0.9).collect()
    }
    assert sd <= exact
    assert (300, 301, 1.0) in sd


def test_pca_orders_variance_and_projects_deterministically(corpus, spark):
    """PCA contract: explained variance is non-increasing, components
    are orthonormal, projection is reproducible across partitionings,
    and reconstruction error shrinks as k grows."""
    import numpy as np

    emb, _ = corpus
    m4 = sim.pca_train(emb, n_components=4, max_train=512)
    m8 = sim.pca_train(emb, n_components=8, max_train=512)
    ev = m8["explained_var"]
    assert all(ev[i] >= ev[i + 1] - 1e-12 for i in range(len(ev) - 1))
    C = np.asarray(m8["components"])
    assert np.allclose(C @ C.T, np.eye(len(C)), atol=1e-8)

    a = {r.vec_id: r.pca for r in sim.pca_project(emb, m8).collect()}
    b = {
        r.vec_id: r.pca
        for r in sim.pca_project(emb.repartition(7), m8).collect()
    }
    assert a.keys() == b.keys()
    some = list(a)[:20]
    assert all(np.allclose(a[k], b[k]) for k in some)

    X = np.array([list(r.embedding) for r in emb.orderBy("vec_id").collect()],
                 dtype=np.float64)
    def recon_err(m):
        mean = np.asarray(m["mean"]); Cm = np.asarray(m["components"])
        Y = (X - mean) @ Cm.T
        return float(((X - mean - Y @ Cm) ** 2).sum())
    assert recon_err(m8) < recon_err(m4)


def test_pca_train_raises_on_tiny_sample(corpus):
    emb, _ = corpus
    with pytest.raises(ValueError, match="at least 2"):
        sim.pca_train(emb.limit(1), n_components=2)


def test_pca_ann_recall_vs_full_dim(corpus):
    """Search in PCA space (8 of 16 dims) must still place most true
    near-neighbors in the top-k: recall >= 0.8 vs full-dim brute force
    on the clustered fixture — the accuracy/width trade the PCA tier
    exists for."""
    from pyspark.sql import functions as F

    emb, q = corpus
    truth = {r.vec_id for r in sim.brute_force_topk(emb, q, k=11).collect()}
    model = sim.pca_train(emb, n_components=8, max_train=512)
    proj = sim.pca_project(emb, model).select(
        "vec_id", F.col("pca").alias("embedding")
    )
    import numpy as np

    qp = ((np.asarray(q) - np.asarray(model["mean"]))
          @ np.asarray(model["components"]).T).tolist()
    got = {r.vec_id for r in sim.brute_force_topk(proj, qp, k=11).collect()}
    assert len(truth & got) / len(truth) >= 0.8


def test_ivf_incremental_append(corpus, spark, tmp_path):
    """Appending a delta must make its vectors probeable WITHOUT
    rewriting the standing lists (file set for old data unchanged),
    using the existing centroid model."""
    import glob

    emb, q = corpus
    path = str(tmp_path / "ivf_incr")
    base = emb.filter(F.col("vec_id") < 200)
    delta = emb.filter(F.col("vec_id") >= 200)
    sim.ensure_ivf_index(base, path, k_centroids=4, iters=2, max_train=512)
    files_before = set(glob.glob(path + "/cid=*/part-*.parquet"))

    # a probe for an exact-duplicate pair that lives ONLY in the delta
    dup_vec = sim.query_vector(emb, 300)
    pre = {r.vec_id for r in sim.probe_ivf_index(spark, path, dup_vec, k=5, nprobe=4).collect()}
    assert 300 not in pre and 301 not in pre

    sim.append_to_ivf_index(delta, path)
    files_after = set(glob.glob(path + "/cid=*/part-*.parquet"))
    assert files_before <= files_after          # old files untouched
    assert len(files_after) > len(files_before)  # delta appended

    post = {r.vec_id for r in sim.probe_ivf_index(spark, path, dup_vec, k=5, nprobe=4).collect()}
    assert {300, 301} <= post

    # appended rows were assigned with the SAME model: full-probe scan
    # equals base+delta corpus
    total = spark.read.parquet(path).count()
    assert total == emb.count()


def test_ivf_append_rejects_wrong_index_kind(corpus, tmp_path):
    emb, _ = corpus
    path = str(tmp_path / "lsh_not_ivf")
    sim.ensure_lsh_index(emb.limit(50), path, n_planes=4)
    with pytest.raises(ValueError, match="not an IVF index"):
        sim.append_to_ivf_index(emb.limit(5), path)


def test_driver_near_dup_fixtures_are_not_vacuous(spark):
    """Round-4 verdict: the raw synthetic embeddings are near-orthogonal,
    so the registered near-dup/SemDeDup queries passed at the driver
    without ever exercising a drop. The fixture-injected duplicates must
    make both non-vacuous: each injected copy (negative id, -i - 1)
    pairs with exactly its source, and SemDeDup drops exactly one of
    each (source, copy) pair — the min-id policy keeps the copy."""
    from tests.conftest import SF_SMOKE
    from cdc_kafka_project_spark.queries.similarity import (
        N_INJECTED_DUPS,
        dup_vec_id,
        similarity_near_dup,
        similarity_semdedup_keep,
    )

    pairs = similarity_near_dup(spark, SF_SMOKE).collect()
    assert len(pairs) == N_INJECTED_DUPS
    assert all(r.vec_a == dup_vec_id(r.vec_b) for r in pairs)

    corpus_n = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet").count()
    kept = {r.vec_id for r in similarity_semdedup_keep(spark, SF_SMOKE).collect()}
    assert len(kept) == corpus_n          # exactly one of each pair dropped
    # the negative-id copies won their groups; their sources dropped
    assert {v for v in kept if v < 0} == {
        dup_vec_id(i) for i in range(N_INJECTED_DUPS)
    }
    assert not (kept & set(range(N_INJECTED_DUPS)))


def test_ann_recall_query_bounds_and_determinism(spark):
    """The self-measuring recall row: one row per index method, recall
    in [0,1], repeat run identical (indexes are materialized and the
    probes deterministic); the raw recalls clear the pinned floors the
    drivable flag query folds to (ANN_RECALL_FLOORS)."""
    from tests.conftest import SF_SMOKE
    from cdc_kafka_project_spark.queries.similarity import (
        ANN_RECALL_FLOORS,
        ann_recall_report,
        similarity_ann_recall,
    )

    a = sorted((r.method, r.k, r.recall)
               for r in ann_recall_report(spark, SF_SMOKE).collect())
    assert [m for m, _, _ in a] == ["ivf", "lsh", "pq"]
    assert all(k == 20 and 0.0 <= rec <= 1.0 for _, k, rec in a)
    assert all(rec >= ANN_RECALL_FLOORS[m] for m, _, rec in a), a
    b = sorted((r.method, r.k, r.recall)
               for r in ann_recall_report(spark, SF_SMOKE).collect())
    assert a == b
    # the registered (drivable) projection folds the same floors to
    # flags — all TRUE, matching the oracle's literal rows
    d = sorted((r.method, r.k, r.recall_floor, r.recall_ok)
               for r in similarity_ann_recall(spark, SF_SMOKE).collect())
    # exact floor values pinned on purpose (r15: 0.7x the minimum
    # recall observed across sf0.001-100x) — a silent floor change
    # must fail here, not slide through the driver gate
    assert d == [("ivf", 20, 0.52, True), ("lsh", 20, 0.07, True),
                 ("pq", 20, 0.14, True)]


def test_matryoshka_full_dim_is_exact_on_query_vector(spark):
    """The query vector itself must score cos_full == 1.0 and a
    fidelity gap equal to |1 - cos_trunc16| (sanity of the two fused
    expressions)."""
    from tests.conftest import SF_SMOKE
    from cdc_kafka_project_spark.queries.similarity import (
        QUERY_VEC_ID,
        embedding_matryoshka_fidelity,
    )
    import pyspark.sql.functions as F

    row = (
        embedding_matryoshka_fidelity(spark, SF_SMOKE)
        .filter(F.col("vec_id") == QUERY_VEC_ID)
        .collect()[0]
    )
    assert row.cos_full == 1.0
    assert row.cos_trunc16 == 1.0       # prefix of itself
    assert row.fidelity_gap == 0.0


def test_embedding_index_pipeline_recall_and_determinism(spark):
    """The PCA->IVF composition must return k rows, a recall in (0,1]
    (8-dim compression of near-orthogonal vectors keeps the top
    neighborhood imperfect but non-empty), and repeat identically
    (materialized index + deterministic models); the registered query
    folds that recall to the pinned-floor flag (TRUE, matching the
    oracle's literal row)."""
    from tests.conftest import SF_SMOKE
    from cdc_kafka_project_spark.queries.similarity import (
        PIPELINE_RECALL_FLOOR,
        TOP_K,
        embedding_index_pipeline,
        embedding_index_pipeline_report,
    )

    a = sorted(
        (r.vec_id, r.cos_pca, r.recall_at_k)
        for r in embedding_index_pipeline_report(spark, SF_SMOKE).collect()
    )
    assert len(a) == TOP_K
    recalls = {r[2] for r in a}
    assert len(recalls) == 1
    assert 0.0 < a[0][2] <= 1.0
    assert a[0][2] >= PIPELINE_RECALL_FLOOR
    b = sorted(
        (r.vec_id, r.cos_pca, r.recall_at_k)
        for r in embedding_index_pipeline_report(spark, SF_SMOKE).collect()
    )
    assert a == b
    d = embedding_index_pipeline(spark, SF_SMOKE).collect()
    assert [(r.k, r.recall_floor, r.recall_ok) for r in d] == [
        (TOP_K, PIPELINE_RECALL_FLOOR, True)
    ]


class TestBinaryQuantize:
    DIM32 = 32

    @pytest.fixture(scope="class")
    def corpus32(self, spark):
        rng = random.Random(11)

        def unit():
            v = [rng.gauss(0, 1) for _ in range(self.DIM32)]
            n = math.sqrt(sum(x * x for x in v))
            return [x / n for x in v]

        def perturb(v, eps=0.04):
            out = [x + rng.gauss(0, eps) for x in v]
            n = math.sqrt(sum(x * x for x in out))
            return [x / n for x in out]

        q = unit()
        rows = [(0, q)] + [(i, perturb(q)) for i in range(1, 9)]
        rows += [(i, unit()) for i in range(9, 150)]
        return spark.createDataFrame(rows, EMB_SCHEMA), q

    def test_packed_bits_match_driver_twin(self, spark, corpus32):
        df, _ = corpus32
        got = {
            r["vec_id"]: [r["bits_w0"]]
            for r in sim.binary_quantize(df, dim=self.DIM32).collect()
        }
        for row in df.collect():
            assert got[row["vec_id"]] == sim.binary_quantize_vec(
                row["embedding"]
            ), f"packed bits diverge for vec {row['vec_id']}"

    def test_rerank_query_is_top1_and_neighbors_dominate(self, spark, corpus32):
        df, q = corpus32
        out = sim.hamming_rerank_topk(
            df, q, dim=self.DIM32, n_candidates=32, k=5
        ).collect()
        assert out[0]["vec_id"] == 0
        assert out[0]["hamming"] == 0
        assert out[0]["cos_sim"] == pytest.approx(1.0, abs=1e-4)
        # cosine rerank is descending and the shortlist keeps the planted
        # near-neighbors (ids 1..8) ahead of random distractors
        sims = [r["cos_sim"] for r in out]
        assert sims == sorted(sims, reverse=True)
        assert all(r["vec_id"] <= 8 for r in out), out

    def test_dim_must_be_word_aligned(self, spark, corpus32):
        df, _ = corpus32
        with pytest.raises(ValueError, match="multiple of 32"):
            sim.binary_quantize(df, dim=17)


def test_quantize_int8_arrow_twin_bit_parity(spark):
    """mapInArrow and JVM-expression implementations of int8
    quantization agree bit-for-bit on real data (incl. rounded scale),
    so either surface can serve the same contract."""
    from cdc_kafka_project_spark.catalog import load_table
    from tests.conftest import SF_SMOKE

    emb = load_table(spark, SF_SMOKE, "embeddings")
    jvm = {r["vec_id"]: tuple(r)[1:] for r in sim.quantize_int8_stats(emb).collect()}
    arrow = {
        r["vec_id"]: tuple(r)[1:]
        for r in sim.quantize_int8_stats_arrow(emb).collect()
    }
    assert jvm == arrow


def test_quantize_int8_arrow_twin_parity_on_rounding_boundary(spark):
    """Bit parity on a CONSTRUCTED boundary straddle, not just organic
    data: absmax 3.1749999999999997e-06 makes scale exactly 2.5e-8
    after the /127 divide, where Python's half-even round() gives
    2e-8 but the shared floor form gives 3e-8 — the exact divergence
    class that would split the twins if either side regressed to
    round()/F.round."""
    boundary = [
        (1, [3.1749999999999997e-06, -1e-07, 0.0]),
        (2, [5.7149999999999995e-06, 2e-06, -5.7149999999999995e-06]),
        (3, [0.5, -0.25, 0.125]),  # ordinary vector as control
    ]
    df = spark.createDataFrame(boundary, "vec_id long, embedding array<double>")
    jvm = {r["vec_id"]: tuple(r)[1:] for r in sim.quantize_int8_stats(df).collect()}
    arrow = {
        r["vec_id"]: tuple(r)[1:]
        for r in sim.quantize_int8_stats_arrow(df).collect()
    }
    assert jvm == arrow
    # and the straddle really is a straddle: half-even round() disagrees
    assert round(3.1749999999999997e-06 / 127.0, 8) != jvm[1][0]


def test_label_outliers_flag_bottom_five(spark):
    from cdc_kafka_project_spark.queries.similarity import (
        OUTLIERS_PER_LABEL,
        embedding_label_outliers,
    )

    rows = embedding_label_outliers(spark, "/root/testdata/sf0.001").collect()
    assert rows
    from collections import defaultdict

    by_label = defaultdict(list)
    for r in rows:
        assert -1.0001 <= r["cos_to_centroid"] <= 1.0001
        by_label[r["label"]].append(r)
    for label, rs in by_label.items():
        flagged = [r for r in rs if r["is_outlier"]]
        assert len(flagged) == min(OUTLIERS_PER_LABEL, len(rs))
        worst = sorted(rs, key=lambda r: (r["cos_to_centroid"], r["vec_id"]))
        assert {r["vec_id"] for r in flagged} == {
            r["vec_id"] for r in worst[: len(flagged)]
        }


def test_fixture_margins_for_exact_twin_oracles(spark):
    """Round-7 advice item 1: the near_dup/semdedup exact-twin oracles
    encode two data-generation assumptions — no organic pair clears
    cos 0.95 (we pin the much tighter < 0.8) and every 0.1%-scaled
    copy stays in its source's k-means cell. Pin both per generation
    so a fixture-margin erosion fails HERE before the driver gate."""
    import numpy as np

    from tests.conftest import SF_SMOKE
    from cdc_kafka_project_spark.catalog import index_dir
    from cdc_kafka_project_spark.queries.similarity import (
        N_INJECTED_DUPS,
        _emb,
        _with_injected_dups,
        dup_vec_id,
    )

    emb = _emb(spark, SF_SMOKE)
    pdf = emb.select("vec_id", "embedding").orderBy("vec_id").toPandas()
    M = np.stack([np.asarray(v, dtype=np.float64) for v in pdf["embedding"]])
    M = M / np.linalg.norm(M, axis=1, keepdims=True)
    cos = M @ M.T
    np.fill_diagonal(cos, -1.0)
    assert cos.max() < 0.8, (
        f"organic cosine margin eroded: max {cos.max():.3f} — the 0.95 "
        "exact-twin oracles are at risk; regenerate or re-derive"
    )

    inj = _with_injected_dups(emb)
    C = sim.ensure_kmeans_model(
        inj, index_dir(SF_SMOKE, "semdedup_k16"), k=16, iters=2,
        max_train=512,
    )
    cid = inj.select(
        "vec_id", sim._assign_expr(F.col("embedding"), C).alias("cid")
    )
    a = {r.vec_id: r.cid for r in cid.collect()}
    for i in range(N_INJECTED_DUPS):
        assert a[i] == a[dup_vec_id(i)], (
            f"injected copy {i} left its source's k-means cell — the "
            "semdedup exact-twin oracle no longer holds"
        )


def test_pca_flag_negative_cases(spark, monkeypatch):
    """Round-7 advice item 2: the embedding_pca_project flags must be
    falsifiable. A tampered model (components scaled 10x — grossly
    non-orthonormal) must flip norm_contract_ok on the REGISTERED
    query; a narrow model must flip dims_ok."""
    from tests.conftest import SF_SMOKE
    from cdc_kafka_project_spark.queries import similarity as qsim

    real = sim.pca_train

    def tampered(emb, n_components=8, max_train=512):
        m = real(emb, n_components=n_components, max_train=max_train)
        return {
            **m,
            "components": [[x * 10.0 for x in row] for row in m["components"]],
        }

    monkeypatch.setattr(qsim.sim, "pca_train", tampered)
    out = qsim.embedding_pca_project(spark, SF_SMOKE)
    n_bad = out.filter(~F.col("norm_contract_ok")).count()
    assert n_bad > 0, "scaled components did not flip norm_contract_ok"

    def narrow(emb, n_components=8, max_train=512):
        return real(emb, n_components=4, max_train=max_train)

    monkeypatch.setattr(qsim.sim, "pca_train", narrow)
    out = qsim.embedding_pca_project(spark, SF_SMOKE)
    assert out.filter(~F.col("dims_ok")).count() > 0


def test_ann_recall_flag_negative_case(spark, monkeypatch):
    """recall_ok folds recall >= floor; pin that an impossible floor
    (1.01) flips it FALSE through the registered query — the flag is
    not vacuously TRUE."""
    from tests.conftest import SF_SMOKE
    from cdc_kafka_project_spark.queries import similarity as qsim

    monkeypatch.setattr(
        qsim, "ANN_RECALL_FLOORS", {"lsh": 1.01, "ivf": 1.01, "pq": 1.01}
    )
    out = qsim.similarity_ann_recall(spark, SF_SMOKE)
    assert out.filter(F.col("recall_ok")).count() == 0
