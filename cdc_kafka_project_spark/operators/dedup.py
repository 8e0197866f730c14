"""Deduplication for training-data pipelines (north-star extension).

Four tiers, each with a different cost/recall point at 100 TB. All are
column expressions and joins except MinHash signing, which is one
map-only ``mapInPandas`` pass per document:

1. **exact** — group on an 8-byte content hash (xxhash64), confirm on
   full text. Shuffles hashes, not documents.
2. **n-gram Jaccard (exact)** — word-shingle self-join; exact but
   quadratic in the worst case. Used as the oracle-checkable ground
   truth and as the *verify* step after LSH pruning.
3. **MinHash + LSH** — 64-permutation signatures, banded bucketing;
   candidate pairs come from equi-joins on (band, band_hash), so the
   all-pairs blowup never materializes. The scale path.
4. **SimHash** — 64-bit weighted fingerprint; near-dups are pairs
   within small Hamming distance, found via band equi-joins too.

Every banded generator (MinHash, SimHash, pHash in ``multimodal``,
embedding LSH in ``similarity``) finds its candidates through one
self-join, ``_band_join``; verification and pair dedup stay with each
caller.

MinHash permutations use (a*h + b) mod p with p = 2^31 - 1 — all
intermediates fit in int64 so ANSI-mode overflow checking stays happy,
and the same arithmetic is reproducible anywhere.
"""

from __future__ import annotations

import random

from pyspark.sql import Column, DataFrame, Window, functions as F

from cdc_kafka_project_spark import cache
from cdc_kafka_project_spark.functions import fround, tokens
from cdc_kafka_project_spark.operators.text import py_tokens

MERSENNE_P = (1 << 31) - 1


def exact_dedup_groups(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Duplicate groups by exact content: (fp_md5, keep_doc_id, n_dups).

    The representative is min(doc_id) — deterministic under any
    partitioning. Grouping key is the hash, so the shuffle moves 16-byte
    digests instead of document bodies.
    """
    c = F.trim(F.col(text_col))
    return (
        df.select("doc_id", F.md5(c).alias("fp_md5"))
        .groupBy("fp_md5")
        .agg(
            F.min("doc_id").alias("keep_doc_id"),
            F.count(F.lit(1)).alias("n_dups"),
        )
    )


def exact_dedup(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Keep one representative (min doc_id) per exact trimmed text.

    Digest-first, collision-safe: the exchange partitions on
    ``md5(trim(text))`` — a 32-char key, so routing and partition
    assignment never hash multi-KB document bodies — and full-text
    equality is then verified WITHIN each digest group by sorting on
    (text, doc_id) and keeping each text-run's first row. Two distinct
    texts that collided on md5 would land in one partition but form two
    runs, so both representatives survive — identical output to a
    window keyed on the raw text (which round 4 flagged as shuffling
    whole documents as the exchange key). Within-group comparisons
    touch full text, but only among rows that are (collisions aside)
    duplicates of each other.
    """
    c = F.trim(F.col(text_col))
    w = Window.partitionBy("__fp").orderBy(c.asc(), F.col("doc_id").asc())
    # first row of the partition, or first row of a new text-run
    # (eqNullSafe so a NULL-text run still keeps exactly one row)
    is_rep = (F.row_number().over(w) == 1) | ~F.lag(c).over(w).eqNullSafe(c)
    return (
        df.withColumn("__fp", F.md5(c))
        .withColumn("__rep", is_rep)
        .filter(F.col("__rep"))
        .drop("__fp", "__rep")
    )


def word_shingles(
    df: DataFrame, text_col: str = "text", n: int = 3, distinct: bool = True
) -> DataFrame:
    """Word n-gram shingles per doc: (doc_id, shingle), distinct by
    default (``distinct=False`` keeps positional duplicates AND skips
    the dedup shuffle — callers that filter the shingle stream before
    aggregating, like contamination_hits, stay map-only that way).

    Built with sequence+transform (codegen'd) then one explode — no
    Python. Documents shorter than n words produce no shingles.

    The token array is written through an exchange (spread) before
    the transform: codegen otherwise inlines the split() into every
    ``__ws[i]`` access, turning shingling O(len^2) — and a single-file
    local read would run it all on one core.
    """
    from cdc_kafka_project_spark.functions import spread

    words = df.select("doc_id", tokens(text_col).alias("__ws")).filter(
        F.size("__ws") >= n
    )
    words = spread(words)
    out = words.select("doc_id", F.explode(_shingle_expr(n)).alias("shingle"))
    return out.distinct() if distinct else out


def _shingle_expr(n: int) -> Column:
    """array<string> of the word ``n``-grams of the token array
    ``__ws`` (positions 0 .. size - n, words joined by one space). The
    one shingle definition behind ``word_shingles`` and the one-pass
    ``decontaminate``; callers guard ``size(__ws) >= n``."""
    refs = ", ".join(f"__ws[i + {k}]" for k in range(n))
    return F.expr(
        f"transform(sequence(0, size(__ws) - {n}), i -> concat_ws(' ', {refs}))"
    )


def jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.5,
    max_df: int | None = None,
) -> DataFrame:
    """Exact n-gram Jaccard similarity pairs above ``threshold``.

    shingle self-join -> per-pair intersection count -> |A|+|B|-inter.
    Exact but join-fanout-bound: a shingle shared by k docs contributes
    k^2 rows, so at scale run this only on LSH candidates (see
    minhash_lsh_candidates) — identical results, bounded cost.

    ``max_df`` is the hot-shingle skew cap (standard MinHash-LSH
    practice): shingles appearing in more than ``max_df`` documents —
    boilerplate headers/footers, stopword n-grams — are dropped before
    BOTH the self-join and the per-doc size counts, so the Jaccard
    stays a true set similarity over the surviving (discriminative)
    shingles. This bounds every join key's fanout at max_df^2: at
    100 TB one viral boilerplate line otherwise lands a single reducer
    with billions of rows. Near-dup recall is unaffected — a shingle
    shared by thousands of documents carries no pair-discriminating
    signal (pinned by tests/test_dedup.py).

    Every exchange carries an int64 xxhash64 of the shingle, never the
    raw string: the per-doc distinct, the self-join and the size count
    all operate on the hash, so shuffle width drops from ~40 B of text
    to 8 B per row (~4x less spill — at the 1000x replica the string
    variant's self-join shuffle exhausted the sandbox's disk, and at
    100 TB it would dominate the job's I/O). Set semantics are
    unchanged up to 64-bit hash collisions: ~27 M distinct shingles
    per 5 M-doc corpus puts a single colliding pair at ~2e-5
    probability, and the oracle comparison would surface one as a
    deterministic count mismatch.
    """
    sh = word_shingles(df, text_col, n, distinct=False).select(
        "doc_id", F.xxhash64("shingle").alias("shingle")
    ).distinct()
    if max_df is not None:
        hot = (
            sh.groupBy("shingle")
            .agg(F.count(F.lit(1)).alias("__df"))
            .filter(F.col("__df") > max_df)
            .select("shingle")
        )
        # anti-join against the (tiny) hot-shingle list; AQE broadcasts
        sh = sh.join(hot, "shingle", "left_anti")
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_shingles"))
    a = sh.alias("a")
    b = sh.alias("b")
    inter = (
        a.join(b, (F.col("a.shingle") == F.col("b.shingle")))
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .groupBy(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    sa = sizes.select(
        F.col("doc_id").alias("doc_a"), F.col("n_shingles").alias("n_a")
    )
    sb = sizes.select(
        F.col("doc_id").alias("doc_b"), F.col("n_shingles").alias("n_b")
    )
    out = (
        inter.join(sa, "doc_a")
        .join(sb, "doc_b")
        .withColumn(
            "jaccard",
            F.col("n_inter")
            / (F.col("n_a") + F.col("n_b") - F.col("n_inter")).cast("double"),
        )
        .filter(F.col("jaccard") >= threshold)
    )
    return out.select("doc_a", "doc_b", "jaccard")


def _perm_coeffs(num_perm: int, seed: int = 42) -> list[tuple[int, int]]:
    rng = random.Random(seed)
    return [
        (rng.randrange(1, MERSENNE_P), rng.randrange(0, MERSENNE_P))
        for _ in range(num_perm)
    ]


#: Polynomial shingle-hash parameters (same family as text.winnowing's
#: rolling hash: all intermediates < 2^62, int64-exact, reproducible on
#: any engine — no Spark-specific hash in the signature math).
SHINGLE_B = 1_000_003


def minhash_signatures(
    df: DataFrame,
    text_col: str = "text",
    n: int = 3,
    num_perm: int = 64,
    with_digest: bool = False,
) -> DataFrame:
    """(doc_id, sig array<int>) MinHash signatures over word shingles.

    **Zero-shuffle, one Arrow pass.** A MinHash signature is a
    per-document value, so the whole computation — whitespace
    tokenize, n-gram shingles, shingle hash, per-permutation min —
    runs inside a single mapInPandas kernel: per document, token
    hashes fold into shingle hashes with a polynomial combine
    (``h = h*B + tok_hash mod p``, int64-exact, engine-independent —
    the earlier formulation's JVM ``concat_ws``/``xxhash64`` transform
    lambdas evaluated *interpreted*, re-walking every token array
    several times per row), then the distinct shingles hit the
    ``(|shingles| x num_perm)`` affine-min matmul. The corpus is
    touched exactly once, map-only; the only shuffle in the whole LSH
    pipeline is the band equi-join that needs to move data anyway.

    Docs with fewer than ``n`` words have no shingle set and are
    dropped.

    ``with_digest`` adds a ``digest`` column (sha-256 hex of the raw
    text) from the SAME kernel pass — the exact-duplicate tier of any
    downstream consumer (index probes, pair verification) then never
    re-reads the corpus for text comparison.
    """
    from cdc_kafka_project_spark.functions import spread

    import numpy as np

    coeffs = _perm_coeffs(num_perm)
    A = np.array([a for a, _ in coeffs], dtype=np.int64)
    B = np.array([b for _, b in coeffs], dtype=np.int64)

    def fn(batches):
        import hashlib

        import pandas as pd

        for pdf in batches:
            ids, sigs, digests = [], [], []
            for did, text in zip(pdf["doc_id"], pdf[text_col]):
                ws = py_tokens(text)  # ASCII-\s+, == tokens()/oracle split
                if len(ws) < n:
                    continue
                # per-token polynomial hash (chars folded, mod p), then
                # shingle hash = tokens folded with SHINGLE_B — two
                # nested folds, everything < 2^62 so int64 is exact
                th = np.fromiter(
                    (
                        _py_token_hash(w)
                        for w in ws
                    ),
                    dtype=np.int64,
                    count=len(ws),
                )
                npos = len(ws) - n + 1
                sh = np.zeros(npos, dtype=np.int64)
                for k in range(n):
                    sh = (sh * SHINGLE_B + th[k : k + npos]) % MERSENNE_P
                hh = np.unique(sh)
                s = (
                    (hh[:, None] * A[None, :] + B[None, :]) % MERSENNE_P
                ).min(axis=0)
                ids.append(int(did))
                sigs.append(s.astype(np.int32))
                if with_digest:
                    digests.append(
                        hashlib.sha256(str(text).encode("utf-8")).hexdigest()
                    )
            out = {"doc_id": ids, "sig": sigs}
            if with_digest:
                out["digest"] = digests
            yield pd.DataFrame(out)

    schema = "doc_id long, sig array<int>"
    if with_digest:
        schema += ", digest string"
    src = spread(df.select("doc_id", text_col))
    return src.mapInPandas(fn, schema)


def _py_token_hash(w: str, b: int = 257, p: int = MERSENNE_P) -> int:
    """Polynomial char hash (acc*b + ord(c) mod p) — matches the
    winnowing rolling-hash family; pure-Python ints never overflow."""
    acc = 0
    for ch in w:
        acc = (acc * b + ord(ch)) % p
    return acc


def _band_join(
    df: DataFrame,
    id_col: str,
    band_keys: Column,
    pair: tuple[str, str],
    carry: tuple[str, ...] = (),
) -> DataFrame:
    """The one banded candidate join of every near-dup generator
    (MinHash, SimHash and pHash here and in ``multimodal``, embedding
    LSH in ``similarity``).

    ``band_keys`` is a per-row array holding one key per band. It is
    posexploded and self-joined on (band_id, key) with
    ``a.<id_col> < b.<id_col>`` — a pure equi-join, shuffle-partitioned
    on the band key, so the all-pairs blowup never materializes.
    Returns ``pair[0]``, ``pair[1]`` (the two ids) and ``<c>_a``,
    ``<c>_b`` for each ``carry`` column. A pair that collides in k
    bands appears k times: verification and pair dedup are the
    caller's, in the order its cost profile wants. ``df`` is read by
    both join sides, so a caller whose ``df`` is more than a scan
    materializes it first."""
    banded = df.select(
        id_col, *carry, F.posexplode(band_keys).alias("band_id", "key")
    )
    a, b = banded.alias("a"), banded.alias("b")
    return a.join(
        b,
        (F.col("a.band_id") == F.col("b.band_id"))
        & (F.col("a.key") == F.col("b.key"))
        & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
    ).select(
        F.col(f"a.{id_col}").alias(pair[0]),
        F.col(f"b.{id_col}").alias(pair[1]),
        *[F.col(f"{s}.{c}").alias(f"{c}_{s}") for c in carry for s in "ab"],
    )


def minhash_lsh_candidates(
    signatures: DataFrame, bands: int = 16, rows: int = 4
) -> DataFrame:
    """Candidate pairs via banded LSH: (doc_a, doc_b, est_jaccard).

    Each signature splits into ``bands`` bands of ``rows`` values; a
    pair becomes a candidate iff some band hash (``_band_hash_array``,
    the same keys the stored index holds) is equal. Pairs dedup before
    scoring, so each pair's signatures are compared once;
    est_jaccard = fraction of equal signature slots
    (``est_jaccard_expr``). The caller materializes ``signatures``
    (the band join reads it twice)."""
    cand = _band_join(
        signatures, "doc_id", _band_hash_array(bands, rows),
        ("doc_a", "doc_b"), carry=("sig",),
    ).dropDuplicates(["doc_a", "doc_b"])
    return cand.select(
        "doc_a",
        "doc_b",
        est_jaccard_expr(F.col("sig_a"), F.col("sig_b")).alias("est_jaccard"),
    )


def simhash(
    df: DataFrame,
    text_col: str = "text",
    bits: int = 64,
    carry: tuple[str, ...] = (),
    with_distinct_tokens: bool = False,
) -> DataFrame:
    """(doc_id, [carry...,] [n_distinct_tokens,] simhash long):
    weighted 64-bit SimHash over tokens.

    Token hash bits vote +count/-count per position; the sign vector
    packs back into one int64 with bitwise shifts (no arithmetic
    overflow). Near-dup = small Hamming distance between fingerprints.

    ``carry`` columns (functions of the document, e.g. a content
    digest) ride the same shuffle keys through the one token pass, and
    ``with_distinct_tokens`` emits the per-doc distinct-token count
    from the same aggregation — both exist so callers never have to
    re-scan the corpus for per-doc metadata next to the signature (at
    100 TB every avoided corpus reference is a saved scan).
    """
    from cdc_kafka_project_spark.functions import spread

    keys = ["doc_id", *carry]
    # The vote math only ever consumes xxhash64(word), so hash BEFORE
    # the (doc, word) exchange: the count groupBy and the doc
    # repartition below then shuffle (int64, int64) rows instead of
    # raw token strings — at the 1000x replica the string variant's
    # two full-corpus shuffles were a disk-spill multiple of this.
    # Distinct-token counts become distinct-hash counts (identical up
    # to in-doc 64-bit collisions, ~1e-13 per doc).
    tok = (
        spread(df.select(*keys, F.col(text_col)))
        .select(*keys, F.explode(tokens(text_col)).alias("word"))
        .select(*keys, F.xxhash64("word").alias("h"))
        .groupBy(*keys, "h")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    # Re-cluster the REDUCED (doc, word, cnt) table on the doc key
    # before the votes aggregation: the (doc, word) exchange above
    # hash-partitions on BOTH columns, so every downstream task sees
    # (nearly) every doc_id and the 64-column partial-agg hash map
    # grows to |corpus| x ~600 B PER TASK — measured Java-heap OOM at
    # the 100x replica (1 M docs x 32 tasks). Partitioned by doc, the
    # map is bounded by docs-per-partition; the votes groupBy then
    # needs no further exchange (hash(keys) satisfies its clustering).
    tok = tok.repartition(*[F.col(k) for k in keys])
    aggs = [
        F.sum(
            F.when(
                F.shiftrightunsigned(F.col("h"), i).bitwiseAND(F.lit(1)) == 1,
                F.col("cnt"),
            ).otherwise(-F.col("cnt"))
        ).alias(f"__v{i}")
        for i in range(bits)
    ]
    if with_distinct_tokens:
        # one row per (doc, distinct token hash) reaches this agg, so a
        # plain count IS the distinct-token count — no second tokenize
        # pass (identical up to in-doc 64-bit collisions)
        aggs.append(F.count(F.lit(1)).alias("n_distinct_tokens"))
    votes = tok.groupBy(*keys).agg(*aggs)
    packed = None
    for i in range(bits):
        bit = F.shiftleft((F.col(f"__v{i}") > 0).cast("long"), i)
        packed = bit if packed is None else packed.bitwiseOR(bit)
    out_cols = list(keys)
    if with_distinct_tokens:
        out_cols.append("n_distinct_tokens")
    return votes.select(*out_cols, packed.alias("simhash"))


def simhash_hamming_pairs(
    fingerprints: DataFrame,
    max_distance: int = 8,
    bands: int = 4,
) -> DataFrame:
    """Near-dup pairs by SimHash: band the 64 bits of ``simhash`` into
    ``bands`` chunks (pigeonhole: distance <= bands-1 guarantees a
    shared band; wider distances are caught with high probability),
    band-join on the chunks, verify exact Hamming distance with
    bit_count. Returns (doc_a, doc_b, hamming int). The caller
    materializes ``fingerprints`` (the band join reads it twice)."""
    width = 64 // bands
    mask = (1 << width) - 1
    chunks = F.array(
        *[
            F.shiftrightunsigned("simhash", b * width).bitwiseAND(F.lit(mask))
            for b in range(bands)
        ]
    )
    pairs = _band_join(
        fingerprints, "doc_id", chunks, ("doc_a", "doc_b"), carry=("simhash",)
    )
    # Verify hamming BEFORE the pair dedup: the distance is a function
    # of (simhash_a, simhash_b), carried identically on every duplicate
    # emission of a pair, so filter-then-dropDuplicates is semantically
    # identical to dedup-then-filter — but the dedup exchange then
    # shuffles only the verified near-dup pairs instead of the raw
    # band-join fanout. On a corpus of mostly-dissimilar fingerprints
    # the fanout is quadratic in docs-per-bucket (measured: the 5M-doc
    # replica's ~12B candidate rows out-spilled the sandbox disk at
    # the unfiltered dropDuplicates), while the verified set is
    # near-linear; the filter itself is a codegen'd bit_count on the
    # streaming join output — no exchange.
    dist = F.bit_count(F.col("simhash_a").bitwiseXOR(F.col("simhash_b")))
    return (
        pairs.withColumn("hamming", dist.cast("int"))
        .filter(F.col("hamming") <= max_distance)
        .dropDuplicates(["doc_a", "doc_b"])
        .select("doc_a", "doc_b", "hamming")
    )


def near_dedup_keep(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    a_col: str = "doc_a",
    b_col: str = "doc_b",
) -> DataFrame:
    """The end-to-end near-dedup *policy*: which documents survive.

    Composes the tiers: near-dup pairs (any candidate generator —
    exact Jaccard, MinHash-LSH + verify, SimHash, embedding LSH) ->
    connected components -> keep the component representative
    (min doc_id) plus every document that never appeared in a pair.

    Cost on top of the pair graph: the component iteration (pair-graph
    sized, tiny vs corpus) + one anti-join of the drop list against the
    corpus. No forced broadcast: on a lightly-duplicated corpus AQE
    broadcasts the small drop list (corpus scanned once, never
    shuffled); on a heavily-duplicated one the drop list can approach
    corpus size, and forcing it driver-side would OOM — AQE falls back
    to a shuffle anti-join there (same policy as ``decontaminate``).
    Returns ``df`` filtered, schema unchanged.

    The pair frame is checkpointed once up front (localCheckpoint):
    pair generation is the expensive tier (LSH bands / cluster-scoped
    cosine / shingle joins), and the component iteration would
    otherwise re-evaluate that whole pipeline every round. The edge
    list itself is pair-graph-sized — small relative to the corpus by
    construction. Empty pair graph short-circuits: nothing to drop.
    """
    pairs = cache.scoped_localcheckpoint(pairs)
    if pairs.isEmpty():
        return df
    comp = connected_components(pairs, a_col, b_col)
    drop = comp.filter(F.col("doc_id") != F.col("component")).select(
        F.col("doc_id").alias(id_col)
    )
    return df.join(drop, id_col, "left_anti")


def connected_components(
    pairs: DataFrame,
    a_col: str = "doc_a",
    b_col: str = "doc_b",
    max_iters: int = 20,
) -> DataFrame:
    """Duplicate clustering: connected components over a near-dup pair
    graph by iterative min-label propagation (the standard large-graph
    formulation — each round every node adopts the smallest label among
    itself and its neighbors; converges in O(graph diameter) rounds).

    Per round: one equi-join of the (bidirectional + self-loop) edge
    list against current labels and a min-aggregate — both shuffle on
    node id, so AQE coalesces and the iteration count, not data volume,
    is the driver-side loop's only job. ``localCheckpoint`` truncates
    lineage each round (an iterating plan otherwise grows without
    bound). Early-exits when a round changes nothing.

    Returns (doc_id, component) where component = min doc_id reachable.
    Dedup policy downstream: keep doc_id == component.
    """
    a = F.col(a_col)
    b = F.col(b_col)
    fwd = pairs.select(a.alias("src"), b.alias("dst"))
    rev = pairs.select(b.alias("src"), a.alias("dst"))
    nodes = fwd.select("src").union(rev.select("src")).distinct()
    self_loops = nodes.select("src", F.col("src").alias("dst"))
    edges = cache.scoped_localcheckpoint(fwd.union(rev).union(self_loops))

    labels = cache.scoped_localcheckpoint(
        nodes.select("src", F.col("src").alias("label"))
    )
    # Convergence probe = exact label sum (decimal — no int64 wrap on
    # huge id spaces): labels are monotonically non-increasing under
    # min-propagation and the node set is fixed (every node's
    # self-loop), so an unchanged sum <=> an unchanged labeling. One
    # aggregate over the new table replaces the old join-based changed
    # count, and — because a full-scan agg materializes EVERY
    # partition — the per-round checkpoint can be lazy: one Spark job
    # per round instead of two (the loop is job-count-bound on
    # pair-graph-sized inputs; a limit(1)-style probe would early-exit
    # and leave a lazy checkpoint partially computed).
    def _label_sum(df: DataFrame):
        return df.agg(
            F.sum(F.col("label").cast("decimal(38,0)")).alias("s")
        ).collect()[0]["s"]

    prev_sum = _label_sum(labels)
    converged = False
    for _ in range(max_iters):
        new_labels = cache.scoped_localcheckpoint(
            edges.join(labels, "src")
            .groupBy(F.col("dst").alias("src"))
            .agg(F.min("label").alias("label")),
            eager=False,
        )
        new_sum = _label_sum(new_labels)
        # the old label table fed the join above and is now
        # superseded — free its blocks before the next round
        cache.release_checkpoint(labels)
        labels = new_labels
        if new_sum == prev_sum:
            converged = True
            break
        prev_sum = new_sum
    cache.release_checkpoint(edges)  # only `labels` outlives the loop
    if not converged:
        # A silent exit here returns WRONG clusters (graph diameter >
        # max_iters). Near-dup graphs are short-diameter in practice;
        # a legitimate long chain needs a bigger budget (or a
        # pointer-doubling variant), so fail loudly instead of handing
        # back partial labels.
        raise RuntimeError(
            f"connected_components did not converge in {max_iters} rounds; "
            "raise max_iters (graph diameter exceeds the iteration budget)"
        )
    return labels.select(
        F.col("src").alias("doc_id"), F.col("label").alias("component")
    )


def contamination_hits(
    train: DataFrame,
    eval_df: DataFrame,
    text_col: str = "text",
    n: int = 5,
) -> DataFrame:
    """Benchmark-decontamination scan (the GPT-3/Llama-style n-gram
    overlap check, public recipe): (doc_id, n_overlap) for every
    training doc sharing at least one word ``n``-gram with the eval
    corpus.

    The eval side is the small one by construction (benchmarks are
    KBs, the corpus is TBs): its distinct shingles broadcast, and the
    corpus side filters its RAW shingle stream through that broadcast
    join BEFORE any aggregation — the train shingles are never
    deduplicated corpus-wide (that distinct() would itself shuffle
    |corpus shingles| rows). Only the surviving hit set — bounded by
    |eval shingles| x |contaminated docs| — reaches the
    per-(doc, shingle) dedup + count. One corpus map pass, tiny
    shuffle. (At dedup.py's LSH tier the self-join can't avoid
    shuffling signatures; here the asymmetry does better.)
    """
    t = word_shingles(train, text_col, n, distinct=False)
    e = word_shingles(eval_df, text_col, n).select("shingle").distinct()
    return (
        t.join(F.broadcast(e), "shingle")
        .groupBy("doc_id")
        .agg(F.count_distinct(F.col("shingle")).alias("n_overlap"))
    )


def decontaminate(
    train: DataFrame,
    eval_df: DataFrame,
    text_col: str = "text",
    n: int = 5,
    keep_cols: tuple[str, ...] | None = None,
) -> DataFrame:
    """Training corpus minus every doc flagged by ``contamination_hits``.

    Two shapes:

    * ``keep_cols=None`` (generic): flag pass + anti-join, returning
      the full train rows. No forced broadcast on the flagged set: its
      size is data-dependent (a heavily contaminated corpus can flag
      an unbounded number of docs), so the join strategy is left to
      AQE — broadcast when the runtime size is actually small, shuffle
      anti-join when it isn't. Two passes over train.
    * ``keep_cols=(...)`` (narrow output): ONE pass over train — the
      named (small) columns ride the shingle explode, the distinct
      eval shingles LEFT-broadcast-join in, and a per-doc aggregation
      keeps exactly the docs with zero matches. Docs too short to
      shingle explode_outer to a NULL shingle (they can never be
      contaminated) and survive. At 100 TB this halves the corpus
      I/O whenever the caller doesn't need the text back.
    """
    if keep_cols is None:
        hits = contamination_hits(train, eval_df, text_col, n).select("doc_id")
        return train.join(hits, "doc_id", "left_anti")

    from cdc_kafka_project_spark.functions import spread

    e = (
        word_shingles(eval_df, text_col, n)
        .select("shingle")
        .distinct()
        .withColumn("__hit", F.lit(1))
    )
    words = spread(
        train.select("doc_id", *keep_cols, tokens(text_col).alias("__ws"))
    )
    sh = words.select(
        "doc_id",
        *keep_cols,
        F.explode_outer(
            F.when(F.size("__ws") >= n, _shingle_expr(n)).otherwise(
                F.array().cast("array<string>")
            )
        ).alias("shingle"),
    )
    # no forced broadcast on the eval-shingle set (r11 ADVICE): like
    # the generic path's flagged set, its size is data-dependent — a
    # large eval split would exceed the broadcast limit / OOM the
    # driver. AQE broadcasts it at runtime whenever it actually is
    # small (the common case), and falls back to a shuffle join when
    # it isn't.
    per_doc = (
        sh.join(e, "shingle", "left")
        .groupBy("doc_id")
        .agg(
            *[F.first(c).alias(c) for c in keep_cols],
            F.max(F.coalesce(F.col("__hit"), F.lit(0))).alias("__any_hit"),
        )
    )
    return per_doc.filter(F.col("__any_hit") == 0).select("doc_id", *keep_cols)


def normalize_for_dedup(text: Column) -> Column:
    """Canonical text form for fuzzy-exact dedup (the C4-style
    normalization pass): lowercase, collapse all whitespace runs to
    single spaces, strip punctuation to spaces, trim. Two documents
    differing only in case/spacing/punctuation collapse to one
    canonical string; real wording differences survive. Pure codegen'd
    expression — usable inside any scan."""
    t = F.lower(text)
    t = F.regexp_replace(t, r"[^\p{L}\p{N}]+", " ")
    return F.trim(t)


def normalized_dedup_groups(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Duplicate groups under normalize_for_dedup: (fp_md5,
    keep_doc_id, n_dups) keyed on the digest of the CANONICAL text —
    same digest-only shuffle economics as exact_dedup_groups, one
    normalization expression earlier in the scan."""
    c = normalize_for_dedup(F.col(text_col))
    return (
        df.select("doc_id", F.md5(c).alias("fp_md5"))
        .groupBy("fp_md5")
        .agg(
            F.min("doc_id").alias("keep_doc_id"),
            F.count(F.lit(1)).alias("n_dups"),
        )
    )


def span_dedup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    span_tokens: int = 10,
) -> DataFrame:
    """C4-style span-level dedup: split each document into consecutive
    ``span_tokens``-token spans, keep only each distinct span's FIRST
    corpus occurrence (min (doc_id, span_idx)), and reassemble the
    surviving spans in document order. This removes boilerplate that
    exact/near doc-level dedup can't touch — repeated headers, license
    blocks, navigation chrome — while keeping the novel remainder of
    every document (C4 does this with three-sentence spans; the
    synthetic corpus has no sentence punctuation, so the span unit is
    token count).

    Shape at scale: tokenize once (map-side), explode to spans, ONE
    shuffle keyed by span text (~span_tokens words, bounded width —
    never whole documents), min-aggregate, rejoin, then a per-doc
    regroup. The first-occurrence key packs (doc_id, span_idx) into one
    int64 (span_idx < 1e6 by construction: a doc would need 10M tokens
    to overflow).
    """
    from cdc_kafka_project_spark.functions import spread, tokens

    base = spread(df.select(id_col, tokens(text_col).alias("__ws"))).filter(
        F.size("__ws") > 0
    )
    segs = base.select(
        F.col(id_col),
        F.posexplode(
            F.expr(
                f"transform(sequence(0, int(ceil(size(__ws)/{span_tokens}.0)) - 1),"
                f" i -> concat_ws(' ', slice(__ws, i*{span_tokens}+1, {span_tokens})))"
            )
        ).alias("span_idx", "span"),
    )
    key = F.col(id_col) * F.lit(1_000_000) + F.col("span_idx")
    firsts = segs.groupBy("span").agg(F.min(key).alias("__first"))
    kept = segs.join(firsts, "span").filter(key == F.col("__first"))
    return kept.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_spans_kept"),
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("span_idx", "span"))),
                lambda s: s["span"],
            ),
            " ",
        ).alias("text_dedup"),
    )


# ---------------------------------------------------------------------------
# Materialized MinHash-LSH index: incremental near-dup state
# ---------------------------------------------------------------------------


def _band_hash_array(bands: int, rows: int, sig_col: str = "sig"):
    """array<long> of per-band hashes over a signature column: xxhash64
    of the band's ``rows`` slot values joined by commas. The one
    definition behind ``minhash_lsh_candidates`` (batch self-join) and
    ``minhash_band_table`` (stored index bands and probe bands), so
    the three can never drift apart."""
    return F.array(
        *[
            F.xxhash64(
                F.concat_ws(
                    ",",
                    *[
                        F.col(sig_col)[i].cast("string")
                        for i in range(b * rows, (b + 1) * rows)
                    ],
                )
            )
            for b in range(bands)
        ]
    )


def minhash_band_table(
    signatures: DataFrame, bands: int = 16, rows: int = 4
) -> DataFrame:
    """(doc_id, band_id, band_hash) from (doc_id, sig)."""
    return signatures.select(
        "doc_id",
        F.posexplode(_band_hash_array(bands, rows)).alias(
            "band_id", "band_hash"
        ),
    )


def est_jaccard_expr(sig_a, sig_b):
    """Fraction of agreeing signature slots over the whole signature —
    the MinHash Jaccard estimator of ``minhash_lsh_candidates`` and
    ``probe_minhash_index``."""
    eq = F.aggregate(
        F.zip_with(sig_a, sig_b, lambda x, y: (x == y).cast("int")),
        F.lit(0),
        lambda a, x: a + x,
    )
    return eq / F.size(sig_a)


def ensure_minhash_index(
    docs: DataFrame,
    path: str,
    n: int = 3,
    num_perm: int = 64,
    bands: int = 16,
    rows: int = 4,
) -> None:
    """Materialize the near-dup index iff absent OR stale (source files
    or params changed) — the ``ensure_index`` lifecycle the ANN indexes
    share, so a regenerated corpus can never be probed against last
    generation's signatures.

    Layout: ``sigs/`` (doc_id, sig) and ``bands/`` (band_hash bucket
    rows) parquet, parameters in the JSON sidecar. The arriving-batch
    dedup story (`probe_minhash_index` / `append_to_minhash_index`)
    then never recomputes anything for the standing corpus — the
    FAISS add-vs-train distinction applied to text: signatures are
    incremental per doc, so unlike IVF there is no quantizer to drift
    and the index never needs a periodic retrain.

    Note the append interplay: ``append_to_minhash_index`` changes
    neither the stored fingerprint nor the original source files, so
    calling ensure with the original unchanged corpus reads an
    appended-to index as FRESH (probes see the appended entries — the
    desired incremental-ingest behavior); only a change to the ORIGINAL
    corpus or the params triggers a rebuild, which drops the appended
    rows with the rest. Incremental-ingest callers therefore manage
    their path explicitly via ``append_to_minhash_index`` and re-ensure
    only on full refresh."""
    from cdc_kafka_project_spark.operators.similarity import ensure_index

    model = {"kind": "minhash", "n": n, "num_perm": num_perm,
             "bands": bands, "rows": rows}

    def build(path):
        _sign_into_index(docs, path, model, "overwrite")
        return model

    # fmt 2 (r11): sigs/ carries a sha-256 content digest per doc, so
    # exact-tier probe verification serves from the index instead of
    # re-scanning the corpus; the bump makes pre-digest indexes read
    # as stale and rebuild on the next ensure_*
    ensure_index(docs, path, {**model, "fmt": 2}, build)


def append_to_minhash_index(new_docs: DataFrame, path: str) -> None:
    """O(delta) incremental maintenance: sign ONLY the arriving docs
    with the index's stored parameters and append — standing sigs and
    band rows are untouched."""
    from cdc_kafka_project_spark.operators.similarity import read_model

    _sign_into_index(new_docs, path, read_model(path), "append")


def _sign_into_index(docs: DataFrame, path: str, m: dict, mode: str) -> None:
    """Sign ``docs`` (with digest) under the index parameters ``m`` and
    write ``sigs/`` and ``bands/`` with save mode ``mode``. The
    signatures are checkpointed for the two writes and released after
    them, also when a write fails."""
    import os

    sigs = cache.scoped_localcheckpoint(
        minhash_signatures(docs, n=m["n"], num_perm=m["num_perm"], with_digest=True)
    )
    try:
        sigs.write.mode(mode).parquet(os.path.join(path, "sigs"))
        minhash_band_table(sigs, bands=m["bands"], rows=m["rows"]).write.mode(
            mode
        ).parquet(os.path.join(path, "bands"))
    finally:
        cache.release_checkpoint(sigs)


def probe_minhash_index(
    spark, new_docs: DataFrame, path: str, threshold: float = 0.5,
    with_digest: bool = False,
) -> DataFrame:
    """Near-duplicates of an arriving batch AGAINST the standing index:
    (new_doc_id, index_doc_id, est_jaccard >= threshold).

    The batch is signed and banded (map-only), then equi-joined with
    the stored band table on (band_id, band_hash) — the only shuffle,
    proportional to the batch's band rows plus matching buckets, never
    the corpus. Candidates verify on full signatures. Self-matches
    (same doc_id) are excluded so probe-after-append stays usable.

    ``with_digest`` adds ``new_digest``/``index_digest`` (sha-256 of
    the raw texts — the batch side from the probe's own signing pass,
    the index side from the stored sigs table), so an exact-duplicate
    tier (digest equality) costs ZERO extra corpus reads.
    """
    import os

    from cdc_kafka_project_spark.operators.similarity import read_model

    m = read_model(path)
    sigs = cache.scoped_localcheckpoint(
        minhash_signatures(
            new_docs, n=m["n"], num_perm=m["num_perm"],
            with_digest=with_digest,
        )
    )
    probe_bands = minhash_band_table(sigs, bands=m["bands"], rows=m["rows"])
    idx_bands = spark.read.parquet(os.path.join(path, "bands"))
    idx_sigs = spark.read.parquet(os.path.join(path, "sigs"))
    # probe bands are batch-bounded — broadcast them EXPLICITLY so the
    # stored band table streams (guide §3.1). Left to estimates the
    # planner flips the build side to the index once the probe subtree
    # stops looking tiny, which at scale means broadcasting (or
    # shuffling) the whole band table per probe.
    cand = (
        F.broadcast(probe_bands.alias("p"))
        .join(
            idx_bands.alias("x"),
            (F.col("p.band_id") == F.col("x.band_id"))
            & (F.col("p.band_hash") == F.col("x.band_hash"))
            & (F.col("p.doc_id") != F.col("x.doc_id")),
        )
        .select(
            F.col("p.doc_id").alias("new_doc_id"),
            F.col("x.doc_id").alias("index_doc_id"),
        )
        .dropDuplicates(["new_doc_id", "index_doc_id"])
    )
    extra = []
    p_side = sigs.withColumnsRenamed({"doc_id": "new_doc_id", "sig": "__sp"})
    x_side = idx_sigs.withColumnsRenamed(
        {"doc_id": "index_doc_id", "sig": "__sx"}
    )
    if with_digest:
        p_side = p_side.withColumnRenamed("digest", "new_digest")
        x_side = x_side.withColumnRenamed("digest", "index_digest")
        extra = ["new_digest", "index_digest"]
    else:
        x_side = x_side.drop("digest")
    # Broadcast the BATCH-BOUNDED side of the verify join explicitly
    # (guide §3.1; r16). Left to size estimates the planner broadcasts
    # whichever side looks small — at bench scale that was the stored
    # sigs TABLE, which at 100 TB either blows the broadcast cap or
    # degrades to shuffling the whole index per probe. Candidates ⋈
    # probe sigs is bounded by the arriving batch (the probe's
    # contract), so pinning the build side keeps the index sigs table
    # stream-scanned — never shuffled, never broadcast — at any corpus
    # size.
    verified = (
        F.broadcast(cand.join(F.broadcast(p_side), "new_doc_id"))
        .join(x_side, "index_doc_id")
        .select(
            "new_doc_id",
            "index_doc_id",
            fround(est_jaccard_expr(F.col("__sp"), F.col("__sx")), 4).alias(
                "est_jaccard"
            ),
            *extra,
        )
    )
    return verified.filter(F.col("est_jaccard") >= threshold)
