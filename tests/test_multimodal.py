"""Multimodal plumbing: binary payloads, Arrow batching, fanout,
stubbed real-codec path."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from cdc_kafka_project_spark.operators import multimodal as mm

DOCS = [
    (0, "abcdef" * 30),          # image (0 % 3)
    (1, "hello world"),          # audio
    (2, "x" * 200),              # video
    (3, "Z"),                    # image, 1-byte payload edge case
    (4, "sound of music " * 10), # audio
    (5, "frame" * 40),           # video
]


@pytest.fixture()
def media(spark):
    docs = spark.createDataFrame(DOCS, "doc_id long, text string")
    return mm.media_from_documents(docs)


def test_media_table_schema_and_kinds(media):
    assert dict(media.dtypes)["payload"] == "binary"
    kinds = {r.media_id: r.kind for r in media.select("media_id", "kind").collect()}
    assert kinds == {0: "image", 1: "audio", 2: "video", 3: "image", 4: "audio", 5: "video"}
    meta = media.filter(F.col("media_id") == 2).select("meta.*").collect()[0]
    assert meta.width == 16 + 2 * 8 and meta.duration_ms == 3000


def test_decode_features_match_numpy(media):
    got = {r.media_id: r for r in mm.decode_features(media).collect()}
    for doc_id, text in DOCS:
        a = np.frombuffer(text.encode(), dtype=np.uint8)
        r = got[doc_id]
        assert r.n_bytes == a.size
        assert r.byte_sum == int(a.sum())
        assert r.byte_mean == pytest.approx(a.sum() / a.size)
        assert (r.byte_min, r.byte_max) == (int(a.min()), int(a.max()))


def test_resize_samples_nearest_neighbour(media):
    got = {r.media_id: r for r in mm.resize_image(media, 8, 8).collect()}
    assert set(got) == {0, 3}  # only images
    # 1-byte payload: repeated to all 64 output pixels
    assert got[3].n_bytes == 64 and got[3].byte_sum == 64 * ord("Z")
    a = np.frombuffer(DOCS[0][1].encode(), dtype=np.uint8)
    idx = (np.arange(64) * (a.size - 1)) // 63
    assert got[0].byte_sum == int(a[idx].sum())


def test_frame_sample_fanout_and_timestamps(media):
    rows = mm.frame_sample(media, frame_bytes=64, every=2, fps=10).collect()
    by_media = {}
    for r in rows:
        by_media.setdefault(r.media_id, []).append(r)
    assert set(by_media) == {2, 5}  # only videos
    # doc 2: 200 bytes -> 4 frames (64,64,64,8) -> sampled frames 0, 2
    f2 = sorted(by_media[2], key=lambda r: r.frame_idx)
    assert [r.frame_idx for r in f2] == [0, 2]
    assert [r.ts_ms for r in f2] == [0, 200]
    assert [r.n_bytes for r in f2] == [64, 64]
    a = np.frombuffer(DOCS[2][1].encode(), dtype=np.uint8)
    assert f2[1].byte_sum == int(a[128:192].sum())


def test_audio_window_means_array(media):
    got = {r.media_id: r for r in mm.audio_features(media, window=64).collect()}
    assert set(got) == {1, 4}
    a = np.frombuffer(DOCS[4][1].encode(), dtype=np.uint8).astype(float)
    r = got[4]
    assert r.n_windows == (a.size + 63) // 64 == len(r.window_means)
    assert r.window_means[0] == pytest.approx(a[:64].mean())
    assert r.rms == pytest.approx(np.sqrt((a * a).mean()))


def test_real_codec_path_fails_loudly(media):
    """decode='real' must raise NotImplementedError (stub), not
    silently fall back — the fake decode is opt-in by default."""
    with pytest.raises(Exception) as ei:
        mm.decode_features(media, decode="real").collect()
    assert "NotImplementedError" in str(ei.value) or isinstance(
        ei.value, NotImplementedError
    )


def test_arrow_batch_iteration_bounded(spark):
    """mapInPandas must see multiple small batches when
    maxRecordsPerBatch is tiny — the memory-bounding contract."""
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "10")
    try:
        docs = spark.createDataFrame(
            [(i, f"doc {i} " * 5) for i in range(100)], "doc_id long, text string"
        ).coalesce(1)
        media = mm.media_from_documents(docs)
        out = mm.decode_features(media)
        assert out.count() == 100
        # distinct batch count reaches the executor: verify via a probe fn
        from pyspark.sql import functions as F2

        def probe(batches):
            import pandas as pd

            n = 0
            for b in batches:
                n += 1
            yield pd.DataFrame({"n_batches": [n]})

        nb = (
            media.select("media_id", "kind", "payload")
            .mapInPandas(probe, "n_batches int")
            .agg(F2.max("n_batches"))
            .collect()[0][0]
        )
        assert nb >= 10  # 100 rows / 10-per-batch in one partition
    finally:
        spark.conf.unset("spark.sql.execution.arrow.maxRecordsPerBatch")


def test_phash_identical_payloads_hamming_zero(spark):
    """Byte-identical image payloads must pair at Hamming 0; distinct
    content stays out at the 3-bit bound."""
    from cdc_kafka_project_spark.operators import multimodal as mm
    from pyspark.sql import functions as F

    rows = [
        (0, "image", bytearray(b"hello world this is image zero")),
        (1, "image", bytearray(b"hello world this is image zero")),   # dup of 0
        (2, "image", bytearray(b"completely different content !!")),
    ]
    media = spark.createDataFrame(
        rows, "media_id long, kind string, payload binary"
    )
    df = mm.phash_dup_pairs(mm.phash_bands(media), max_hamming=3)
    assert dict(df.dtypes)["hamming"] == "bigint"
    pairs = df.collect()
    assert [(r.media_a, r.media_b, r.hamming) for r in pairs] == [(0, 1, 0)]


def test_phash_band_join_completeness_bound(spark):
    """Pigeonhole: a pair within Hamming 3 differs in at most 3 bands,
    so the band equi-join must surface it. Construct a payload pair
    whose hashes differ in exactly 3 bits across 3 different bands and
    assert the pair is found with the right distance."""
    import numpy as np
    from cdc_kafka_project_spark.operators import multimodal as mm

    # 64-byte payloads = the resized pixels directly (n == 64 keeps
    # nearest-neighbour sampling the identity permutation)
    base = np.zeros(64, dtype=np.uint8)
    base[::2] = 200          # alternating high/low -> bits = evens
    other = base.copy()
    # flip pixels 0, 20, 40 (bands 0, 1, 2) from high to low
    other[[0, 20, 40]] = 0
    media = spark.createDataFrame(
        [(0, "image", bytearray(base.tobytes())),
         (1, "image", bytearray(other.tobytes()))],
        "media_id long, kind string, payload binary",
    )
    df = mm.phash_dup_pairs(mm.phash_bands(media), max_hamming=3)
    assert dict(df.dtypes)["hamming"] == "bigint"
    pairs = df.collect()
    assert [(r.media_a, r.media_b, r.hamming) for r in pairs] == [(0, 1, 3)]
