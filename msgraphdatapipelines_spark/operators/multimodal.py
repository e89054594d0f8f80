"""Multimodal column operators (north-star): image/audio/video as opaque
``binary`` columns with typed metadata.

The container ships no media libraries, so the actual byte decoding is
STUBBED: ``decode_image`` tries Pillow and, absent it, falls back to a
clearly-marked deterministic fake (metadata derived from the payload hash).
Everything Spark-side is real and tested — schemas, Arrow batch iteration
(``mapInPandas``), partitioning, UDF signatures — so swapping the fake for
a real codec is a pure function replacement.

Scale notes: media payloads are large blobs; the operators keep them
*opaque* (never materialized driver-side), process them in Arrow batches,
and emit compact metadata/features.  Partition sizing is byte-driven —
``spark.sql.files.maxPartitionBytes`` governs blob scan splits, and feature
extraction is embarrassingly parallel per batch.
"""

from __future__ import annotations

import hashlib
from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

# media record: opaque payload + declared metadata (SURVEY.md §1.3 notes the
# reference has no binary type; this is the engine's extension convention)
MEDIA_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("mime", T.StringType()),
        T.StructField("payload", T.BinaryType()),
    ]
)

IMAGE_META_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("mime", T.StringType()),
        T.StructField("n_bytes", T.LongType()),
        T.StructField("sha256", T.StringType()),
        T.StructField("width", T.LongType()),
        T.StructField("height", T.LongType()),
        T.StructField("decoder", T.StringType()),
    ]
)

FEATURE_DIM = 8
FEATURE_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("feature", T.ArrayType(T.DoubleType())),
    ]
)


def wrap_text_as_media(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Package a text column as a media record (utf-8 payload) — the test
    stand-in for real image/audio bytes."""
    return df.select(
        F.col(id_col).cast("long").alias("media_id"),
        F.lit("text/plain").alias("mime"),
        F.encode(F.col(text_col), "utf-8").alias("payload"),
    )


def _fake_dims(digest: bytes) -> tuple[int, int]:
    """Deterministic fake image dimensions from the payload hash.

    STUB: stands in for a real codec's header parse; replace with
    ``PIL.Image.open(io.BytesIO(payload)).size`` when Pillow is present.
    """
    return 320 + digest[0] % 8 * 160, 240 + digest[1] % 8 * 120


def pillow_available() -> bool:
    """True when a real image codec (Pillow) is importable in this runtime."""
    try:  # pragma: no cover - container has no Pillow
        import PIL  # noqa: F401

        return True
    except ImportError:
        return False


def _resolve_backend(backend: str) -> str:
    """``auto`` → pillow when importable, else fake; explicit choices are
    validated (asking for pillow without the wheel is an error, not a
    silent downgrade — a silent fake in a real pipeline would emit
    hash-derived dimensions as if they were measurements)."""
    if backend == "auto":
        return "pillow" if pillow_available() else "fake"
    if backend == "pillow" and not pillow_available():
        raise ImportError("backend='pillow' requested but Pillow is not importable")
    if backend not in ("pillow", "fake"):
        raise ValueError(f"unknown media backend {backend!r} (use 'auto'|'pillow'|'fake')")
    return backend


def decode_image_meta(df: DataFrame, backend: str = "auto") -> DataFrame:
    """Decode image metadata from payload bytes via Arrow-batched
    ``mapInPandas``.

    ``backend='pillow'`` parses real image headers (raises on non-image
    payloads — the real-codec contract); ``'fake'`` derives deterministic
    dimensions from the payload hash (the sandbox stand-in, also what the
    oracle-checked queries pin since their fixtures are text payloads);
    ``'auto'`` picks pillow when importable.  Both backends share the
    schema, Arrow batch shape, and partitioning — swapping is a pure
    function replacement (r4 VERDICT item 8: contract pytest runs the
    same assertions over both, skipping pillow cleanly when absent).
    """
    if _resolve_backend(backend) == "pillow":  # pragma: no cover - no Pillow wheel
        import io

        from PIL import Image

        def dims(payload: bytes) -> tuple[int, int, str]:
            w, h = Image.open(io.BytesIO(payload)).size
            return w, h, "pillow"

    else:

        def dims(payload: bytes) -> tuple[int, int, str]:
            d = hashlib.sha256(payload).digest()
            w, h = _fake_dims(d)
            return w, h, "fake-deterministic"

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            payloads = pdf["payload"]
            meta = [dims(bytes(p)) for p in payloads]
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "mime": pdf["mime"],
                    "n_bytes": payloads.map(len).astype("int64"),
                    "sha256": payloads.map(lambda p: hashlib.sha256(bytes(p)).hexdigest()),
                    "width": pd.Series([m[0] for m in meta], dtype="int64"),
                    "height": pd.Series([m[1] for m in meta], dtype="int64"),
                    "decoder": [m[2] for m in meta],
                }
            )

    return df.mapInPandas(batches, IMAGE_META_SCHEMA)


def extract_features(df: DataFrame) -> DataFrame:
    """Deterministic payload 'embedding' via Arrow-batched mapInPandas.

    STUB feature fn (bytes of sha256 → [0,1) doubles); the batch shape,
    output schema, and partition behavior match what a real encoder
    (CLIP/wav2vec/etc.) would use.
    """

    def feat(payload: bytes) -> list[float]:
        d = hashlib.sha256(bytes(payload)).digest()
        return [d[i] / 255.0 for i in range(FEATURE_DIM)]

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            yield pd.DataFrame(
                {"media_id": pdf["media_id"], "feature": pdf["payload"].map(feat)}
            )

    return df.mapInPandas(batches, FEATURE_SCHEMA)


FRAME_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("frame_idx", T.LongType()),
        T.StructField("ts_ms", T.LongType()),
        T.StructField("frame_sha256", T.StringType()),
        T.StructField("width", T.LongType()),
        T.StructField("height", T.LongType()),
    ]
)

# fake codec's fixed parameters: one frame per 64 payload bytes at 10 fps
FRAME_CHUNK_BYTES = 64
FRAME_MS = 100


def frame_sample(df: DataFrame, every_n: int = 10) -> DataFrame:
    """Video frame sampling via Arrow-batched ``mapInPandas``: emit every
    ``every_n``-th frame's (index, timestamp, content hash, dimensions).

    STUB codec (container has no PyAV/ffmpeg): the deterministic fake
    treats the payload as a video of ``ceil(n_bytes / 64)`` frames at
    10 fps; a frame's content hash is the sha256 hash chain
    ``sha256(sha256hex(payload) + '|' + str(idx))`` and its dimensions come
    from ``_fake_dims`` of that digest — the same convention as
    ``decode_image_meta``, so the whole operator is value-checkable
    cross-engine.  The Spark-side contract a real codec drops into is real:
    one input row fans out to ~n_frames/every_n output rows inside the
    Arrow batch (no explode shuffle), payloads stay opaque and
    executor-side.
    """

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            out: dict[str, list] = {
                "media_id": [], "frame_idx": [], "ts_ms": [],
                "frame_sha256": [], "width": [], "height": [],
            }
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                b = bytes(payload)
                full_hex = hashlib.sha256(b).hexdigest()
                n_frames = max(1, -(-len(b) // FRAME_CHUNK_BYTES))
                for idx in range(0, n_frames, every_n):
                    fd = hashlib.sha256(f"{full_hex}|{idx}".encode())
                    digest = fd.digest()
                    w, h = _fake_dims(digest)
                    out["media_id"].append(mid)
                    out["frame_idx"].append(idx)
                    out["ts_ms"].append(idx * FRAME_MS)
                    out["frame_sha256"].append(fd.hexdigest())
                    out["width"].append(w)
                    out["height"].append(h)
            yield pd.DataFrame(out)

    return df.mapInPandas(batches, FRAME_SCHEMA)


# --- late r10: perceptual near-duplicate hashing ---------------------------

PHASH_ROWS, PHASH_COLS = 7, 10  # 7×10 thumbnail → 7×9 = 63 dHash bits
PHASH_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("phash", T.LongType()),
    ]
)


def perceptual_dhash(df: DataFrame) -> DataFrame:
    """Difference hash (dHash) of each media payload via Arrow-batched
    ``mapInPandas`` — the perceptual near-dup signature every image
    dedup pipeline keeps (public algorithm: reduce to a tiny grayscale
    thumbnail, emit one bit per horizontally-adjacent pixel pair).

    The thumbnail step is the STUB analog of a real decoder's
    resize-to-grid: payload bytes are block-averaged into a
    ``PHASH_ROWS×PHASH_COLS`` grid (exactly what a box-filter downscale
    does to a grayscale image, here applied to the raw byte stream so
    the sandbox needs no codec).  Bit ``r·(cols−1)+c`` is set iff
    ``pixel[r][c+1] > pixel[r][c]`` — 63 bits, so the hash is always a
    non-negative int64 on every engine.  Empty blocks (payload shorter
    than the grid) read as pixel 0 on both engine and oracle.

    Near-identical payloads (small edits, re-encodes in the real-codec
    case) move few block means and so flip few bits — Hamming distance
    is the dedup radius.  Numpy does the block sums per batch
    (``bincount`` over a precomputed segment map): O(bytes) per payload,
    embarrassingly parallel, blobs never leave the executor."""
    import numpy as np

    nseg = PHASH_ROWS * PHASH_COLS
    ncols = PHASH_COLS - 1
    weights = 1 << np.arange(PHASH_ROWS * ncols, dtype=np.int64)

    def ph(payload: bytes) -> int:
        b = np.frombuffer(bytes(payload), dtype=np.uint8)
        n = len(b)
        if n == 0:
            return 0
        seg = (np.arange(n, dtype=np.int64) * nseg) // n
        sums = np.bincount(seg, weights=b, minlength=nseg)
        cnts = np.bincount(seg, minlength=nseg)
        pix = (sums // np.maximum(cnts, 1)).astype(np.int64)
        g = pix.reshape(PHASH_ROWS, PHASH_COLS)
        bits = (g[:, 1:] > g[:, :-1]).astype(np.int64).ravel()
        return int((bits * weights).sum())

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            yield pd.DataFrame(
                {"media_id": pdf["media_id"], "phash": pdf["payload"].map(ph)}
            )

    return df.mapInPandas(batches, PHASH_SCHEMA)


def phash_band_buckets(
    hashed: DataFrame, n_bands: int = 9, band_bits: int = 7
) -> DataFrame:
    """(media_id, phash, j, band) — each hash exploded into its
    ``n_bands`` band values (multi-index hashing, Norouzi et al. 2012:
    by pigeonhole, two hashes within Hamming distance ``n_bands − 1``
    agree EXACTLY on at least one band, so band-equality candidate
    generation has guaranteed recall 1.0 for that radius — unlike
    probabilistic SimHash banding)."""
    mask = (1 << band_bits) - 1
    j = F.explode(F.array(*[F.lit(i) for i in range(n_bands)])).alias("j")
    return hashed.select("media_id", "phash", j).select(
        "media_id",
        "phash",
        "j",
        F.expr(f"shiftright(phash, {band_bits} * j) & {mask}").alias("band"),
    )


def phash_near_dup_pairs(
    hashed: DataFrame,
    tau: int = 8,
    n_bands: int = 9,
    band_bits: int = 7,
) -> DataFrame:
    """Exact-recall near-dup pairs: (id_a, id_b, hamming ≤ tau).

    Candidates come from the pigeonhole band join (recall 1.0 while
    ``tau ≤ n_bands − 1``); each candidate verifies with one
    ``bit_count(xor)`` — no payload access after hashing.

    SCALE CAVEAT: on structured corpora the hash bits are NOT uniform
    (text blocks share statistics), so a band value can bucket a large
    fraction of the corpus and the self-join inflates toward quadratic;
    :func:`phash_band_buckets` shows the bucket sizes."""
    b = phash_band_buckets(hashed, n_bands, band_bits)
    a1 = b.select(
        F.col("media_id").alias("id_a"), F.col("phash").alias("ha"), "j", "band"
    )
    a2 = b.select(
        F.col("media_id").alias("id_b"), F.col("phash").alias("hb"), "j", "band"
    )
    return (
        a1.join(a2, ["j", "band"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", "ha", "hb")
        .distinct()
        .withColumn(
            "hamming",
            F.bit_count(F.col("ha").bitwiseXOR(F.col("hb"))).cast("long"),
        )
        .filter(F.col("hamming") <= tau)
        .select("id_a", "id_b", "hamming")
    )
