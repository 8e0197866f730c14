"""Multimodal (image/audio/video) columns for training-data pipelines.

North-star extension: media travel as opaque ``binary`` payload columns
with typed metadata structs; decode / feature-extract / resize /
frame-sample run as Arrow-batched pandas functions over
``mapInPandas`` — the only sane shape for per-item Python work at
100 TB:

* the corpus never leaves executor-side Arrow batches (no driver
  collect, no row-at-a-time Python);
* batch size is bounded by ``spark.sql.execution.arrow.
  maxRecordsPerBatch`` so a batch of payloads fits in worker memory
  regardless of corpus size;
* every transform declares an explicit output schema — plans stay
  stable for downstream Catalyst work (pruning/pushdown around the
  Python stage still applies).

The actual codec step is environment-dependent: this container ships
no image/audio libraries, so ``decode=...`` picks between

* ``"real"`` — Pillow/soundfile-backed decode, **stubbed**: raises
  ``NotImplementedError`` with a clear message when the library is
  absent (the import is attempted lazily inside the executor);
* ``"fake"`` (default) — a deterministic byte-level decode (payload
  bytes ARE the samples/pixels). Deliberately reproducible in ANSI SQL,
  which makes the whole mapInPandas pipeline DuckDB-oracle-checkable —
  the Spark-side plumbing (schemas, batching, fanout, partitioning) is
  identical to what a real codec would use.

There is no media table in the reference (Yaliang105/cdc-kafka-project
has none — see SURVEY.md §1) or the synthetic testdata, so
``media_from_documents`` derives one deterministically from the
``documents`` table: payload = UTF-8 bytes of ``text`` (pure ASCII in
the testdata, so byte arithmetic matches char arithmetic in oracles),
metadata derived from ``doc_id``.
"""

from __future__ import annotations

from collections.abc import Iterator
from typing import TYPE_CHECKING

from pyspark.sql import DataFrame, functions as F

from cdc_kafka_project_spark import cache
from cdc_kafka_project_spark.operators.dedup import simhash_hamming_pairs

if TYPE_CHECKING:  # pragma: no cover - typing only
    import pandas as pd

#: Media kinds round-robined over doc_id.
KINDS = ("image", "audio", "video")

#: Output schema of the decode/feature step (explicit and versioned —
#: downstream pruning depends on it).
FEATURES_SCHEMA = (
    "media_id long, kind string, n_bytes long, byte_sum long, "
    "byte_mean double, byte_min int, byte_max int"
)

RESIZE_SCHEMA = "media_id long, out_w int, out_h int, n_bytes long, byte_sum long"

FRAME_SCHEMA = (
    "media_id long, frame_idx int, ts_ms long, n_bytes long, byte_sum long"
)

AUDIO_SCHEMA = (
    "media_id long, n_windows int, window_means array<double>, rms double"
)


def media_from_documents(docs: DataFrame) -> DataFrame:
    """Derive a deterministic media table from ``documents``.

    payload: binary (UTF-8 of text); meta: typed struct. Everything is
    a pure column expression, so any engine can re-derive the same
    table (the oracle does, in SQL).
    """
    d = F.col("doc_id")
    return docs.select(
        d.alias("media_id"),
        F.element_at(F.array(*[F.lit(k) for k in KINDS]), (d % 3 + 1).cast("int"))
        .alias("kind"),
        F.encode(F.col("text"), "UTF-8").alias("payload"),
        F.struct(
            (F.lit(16) + (d % 16) * 8).cast("int").alias("width"),
            (F.lit(16) + (d % 9) * 8).cast("int").alias("height"),
            F.lit(16000).cast("int").alias("sample_rate"),
            ((d % 5 + 1) * 1000).cast("long").alias("duration_ms"),
        ).alias("meta"),
    )


def _require_real_codec(kind: str) -> None:
    """The real decode path: try the codec library, fail loudly.

    STUB — this container ships neither Pillow nor soundfile/librosa.
    Swapping in a real deployment means filling the two marked branches;
    nothing else in the pipeline changes (schemas and batching are
    codec-agnostic).
    """
    if kind == "image":
        try:
            import PIL.Image  # noqa: F401
        except ImportError as e:  # pragma: no cover - env-dependent
            raise NotImplementedError(
                "real image decode needs Pillow, which is not installed; "
                "use decode='fake' (deterministic byte-level decode)"
            ) from e
        raise NotImplementedError(
            "real image decode path is stubbed in this environment"
        )  # pragma: no cover
    try:
        import soundfile  # noqa: F401
    except ImportError as e:  # pragma: no cover - env-dependent
        raise NotImplementedError(
            "real audio/video decode needs soundfile/ffmpeg, not installed; "
            "use decode='fake'"
        ) from e
    raise NotImplementedError(
        "real audio/video decode path is stubbed in this environment"
    )  # pragma: no cover


def decode_features(media: DataFrame, decode: str = "fake") -> DataFrame:
    """Per-item byte/sample statistics via Arrow-batched mapInPandas.

    The pandas function receives an *iterator* of record batches —
    memory stays bounded by maxRecordsPerBatch × payload size, and one
    Python worker handles one partition streamwise.
    """

    def fn(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        import numpy as np
        import pandas as pd

        for b in batches:
            if decode == "real":  # pragma: no cover - env-dependent
                _require_real_codec("image")
            out = []
            for mid, kind, payload in zip(b["media_id"], b["kind"], b["payload"]):
                a = np.frombuffer(payload, dtype=np.uint8)
                n = int(a.size)
                out.append(
                    (
                        int(mid),
                        kind,
                        n,
                        int(a.sum()) if n else 0,
                        # exact int sum / n: bit-identical to any engine
                        # computing sum/count in float64 (the oracle)
                        float(int(a.sum()) / n) if n else 0.0,
                        int(a.min()) if n else 0,
                        int(a.max()) if n else 0,
                    )
                )
            yield pd.DataFrame(
                out,
                columns=[
                    "media_id",
                    "kind",
                    "n_bytes",
                    "byte_sum",
                    "byte_mean",
                    "byte_min",
                    "byte_max",
                ],
            )

    return media.select("media_id", "kind", "payload").mapInPandas(
        fn, FEATURES_SCHEMA
    )


def resize_image(media: DataFrame, out_w: int = 8, out_h: int = 8) -> DataFrame:
    """Nearest-neighbour "resize" of image payloads to out_w*out_h bytes.

    Fake decode treats the payload byte stream as the pixel stream;
    output pixel i samples input index ``i * (n-1) // (out-1)`` — the
    exact formula the oracle reproduces with generate_series+substr.
    Real codec deployments replace the sampling with PIL resize; the
    mapInPandas shape (binary in, binary out + updated metadata) stays.
    """
    out_n = out_w * out_h

    def fn(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        import numpy as np
        import pandas as pd

        for b in batches:
            rows = []
            for mid, payload in zip(b["media_id"], b["payload"]):
                a = np.frombuffer(payload, dtype=np.uint8)
                n = int(a.size)
                if n == 0:
                    resized = np.zeros(0, dtype=np.uint8)
                elif n == 1 or out_n == 1:
                    resized = np.repeat(a[:1], out_n)
                else:
                    idx = (np.arange(out_n) * (n - 1)) // (out_n - 1)
                    resized = a[idx]
                rows.append(
                    (int(mid), out_w, out_h, int(resized.size), int(resized.sum()))
                )
            yield pd.DataFrame(
                rows, columns=["media_id", "out_w", "out_h", "n_bytes", "byte_sum"]
            )

    imgs = media.filter(F.col("kind") == "image").select("media_id", "payload")
    return imgs.mapInPandas(fn, RESIZE_SCHEMA)


def frame_sample(
    media: DataFrame, frame_bytes: int = 64, every: int = 2, fps: int = 10
) -> DataFrame:
    """Sample every ``every``-th frame from video payloads (fanout).

    The payload byte stream is segmented into fixed-size frames
    (trailing partial frame kept); emitted rows carry the frame index,
    its presentation timestamp at ``fps``, and byte stats. mapInPandas
    fanout: one input row yields many output rows — the batch iterator
    keeps peak memory at one Arrow batch regardless of video length.
    """

    def fn(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        import numpy as np
        import pandas as pd

        for b in batches:
            rows = []
            for mid, payload in zip(b["media_id"], b["payload"]):
                a = np.frombuffer(payload, dtype=np.uint8)
                n_frames = (int(a.size) + frame_bytes - 1) // frame_bytes
                for fi in range(0, n_frames, every):
                    fr = a[fi * frame_bytes : (fi + 1) * frame_bytes]
                    rows.append(
                        (
                            int(mid),
                            fi,
                            fi * 1000 // fps,
                            int(fr.size),
                            int(fr.sum()),
                        )
                    )
            yield pd.DataFrame(
                rows,
                columns=["media_id", "frame_idx", "ts_ms", "n_bytes", "byte_sum"],
            )

    vids = media.filter(F.col("kind") == "video").select("media_id", "payload")
    return vids.mapInPandas(fn, FRAME_SCHEMA)


def audio_features(media: DataFrame, window: int = 64) -> DataFrame:
    """Windowed byte-level features for audio payloads.

    Per item: per-window means (the fake stand-in for frame energies)
    and an overall RMS over samples — the plumbing a real
    mel/spectrogram extractor would use (vectorized numpy per Arrow
    batch, array<double> output column).
    """

    def fn(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        import numpy as np
        import pandas as pd

        for b in batches:
            rows = []
            for mid, payload in zip(b["media_id"], b["payload"]):
                a = np.frombuffer(payload, dtype=np.uint8).astype(np.float64)
                n_w = (int(a.size) + window - 1) // window
                means = [
                    float(a[i * window : (i + 1) * window].mean())
                    for i in range(n_w)
                ]
                rms = float(np.sqrt((a * a).mean())) if a.size else 0.0
                rows.append((int(mid), n_w, means, rms))
            yield pd.DataFrame(
                rows, columns=["media_id", "n_windows", "window_means", "rms"]
            )

    auds = media.filter(F.col("kind") == "audio").select("media_id", "payload")
    return auds.mapInPandas(fn, AUDIO_SCHEMA)


PHASH_SCHEMA = "media_id long, b0 int, b1 int, b2 int, b3 int"


def phash_bands(media: DataFrame) -> DataFrame:
    """Average-hash (aHash) perceptual fingerprint of image payloads,
    split into 4x16-bit bands for LSH-style candidate joins.

    Recipe (public aHash): resize to 8x8 (the same nearest-neighbour
    sampling as resize_image), bit i = 1 iff pixel i is strictly above
    the mean — computed integer-exactly as ``r[i]*64 > sum(r)``, so any
    engine reproduces the bits. Band j packs bits [16j, 16j+16) little-
    endian. On the fake codec the "pixels" are payload bytes; a real
    deployment swaps the decode only — banding, joins, and the Hamming
    verify are codec-agnostic.
    """

    def fn(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        import numpy as np
        import pandas as pd

        pw = (1 << np.arange(16)).astype(np.int64)
        for b in batches:
            rows = []
            for mid, payload in zip(b["media_id"], b["payload"]):
                a = np.frombuffer(payload, dtype=np.uint8).astype(np.int64)
                n = int(a.size)
                if n == 0:
                    r = np.zeros(64, dtype=np.int64)
                elif n == 1:
                    r = np.repeat(a[:1], 64)
                else:
                    idx = (np.arange(64) * (n - 1)) // 63
                    r = a[idx]
                bits = (r * 64 > int(r.sum())).astype(np.int64)
                bands = [int(bits[j * 16:(j + 1) * 16] @ pw) for j in range(4)]
                rows.append((int(mid), *bands))
            yield pd.DataFrame(
                rows, columns=["media_id", "b0", "b1", "b2", "b3"]
            )

    imgs = media.filter(F.col("kind") == "image").select("media_id", "payload")
    return imgs.mapInPandas(fn, PHASH_SCHEMA)


def phash_dup_pairs(bands: DataFrame, max_hamming: int = 3) -> DataFrame:
    """Near-duplicate image pairs by perceptual-hash Hamming distance:
    (media_a, media_b, hamming bigint).

    The four 16-bit bands pack into one 64-bit fingerprint
    (``b0 | b1<<16 | b2<<32 | b3<<48``) and run the SimHash path,
    ``dedup.simhash_hamming_pairs`` with ``bands=4``: its 16-bit chunks
    are exactly ``b0..b3``, the band join finds candidates, bit_count
    verifies, and verified pairs dedup. Completeness is provable for
    ``max_hamming <= 3``: two hashes within Hamming 3 differ in at most
    3 of the 4 bands (pigeonhole), so at least one band matches exactly
    and the pair surfaces in the band join.

    The packed table is materialized once (scoped checkpoint): it is
    tiny — two longs per image — while each self-join side otherwise
    re-derives it from a full corpus scan + Pandas-UDF hash pass
    (measured 4 corpus scans at sf0.1 through the fixture-union query;
    1 after).
    """
    packed = F.col("b0").cast("long")
    for j in range(1, 4):
        packed = packed.bitwiseOR(F.shiftleft(F.col(f"b{j}").cast("long"), 16 * j))
    fps = cache.scoped_localcheckpoint(
        bands.select(F.col("media_id").alias("doc_id"), packed.alias("simhash"))
    )
    return simhash_hamming_pairs(fps, max_distance=max_hamming, bands=4).select(
        F.col("doc_a").alias("media_a"),
        F.col("doc_b").alias("media_b"),
        F.col("hamming").cast("long").alias("hamming"),
    )
