"""Multimodal-column queries (north-star): binary payload handling.

``multimodal_binary_meta`` is the pure-JVM path (binary encode + hash
functions).  ``multimodal_decode_features`` drives the real Arrow/mapInPandas
plumbing of operators.multimodal — its deterministic fake decoder is
reproduced in the oracle from the sha256 hex digits, so even the Python-UDF
path is value-checked cross-engine.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators import multimodal as M
from . import load, register


@register(
    "multimodal_binary_meta",
    demoted=True,  # decode_features covers the Arrow path; meta battery pytest-golden
    oracle="""
    SELECT doc_id,
           CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
           sha256(text) AS sha_hex,
           CAST(octet_length(encode(substr(text, 1, 16))) AS BIGINT) AS head_bytes
    FROM documents
    """,
)
def multimodal_binary_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Opaque-binary handling, JVM-side: utf-8 encode, byte length, sha256 —
    the metadata scan a 100 TB blob corpus runs before any decode."""
    docs = load(spark, sf_dir, "documents")
    payload = F.encode(F.col("text"), "utf-8")
    return docs.select(
        "doc_id",
        F.length(payload).cast("long").alias("n_bytes"),
        F.sha2(payload, 256).alias("sha_hex"),
        F.length(F.encode(F.substring("text", 1, 16), "utf-8")).cast("long").alias("head_bytes"),
    )


def _hexval(c: str) -> str:
    return f"(strpos('0123456789abcdef', {c}) - 1)"


def _digest_byte(i: int, col: str = "h") -> str:
    """i-th byte (0-based) of a sha256 digest, from its hex string column."""
    hi = _hexval(f"substr({col}, {2 * i + 1}, 1)")
    lo = _hexval(f"substr({col}, {2 * i + 2}, 1)")
    return f"({hi} * 16 + {lo})"


@register(
    "multimodal_decode_features",
    oracle=f"""
    WITH hashed AS (SELECT doc_id, sha256(text) AS h, octet_length(encode(text)) AS nb
                    FROM documents)
    SELECT doc_id AS media_id,
           CAST(nb AS BIGINT) AS n_bytes,
           h AS sha256,
           CAST(320 + ({_digest_byte(0)} % 8) * 160 AS BIGINT) AS width,
           CAST(240 + ({_digest_byte(1)} % 8) * 120 AS BIGINT) AS height,
           CAST({_digest_byte(0)} AS DOUBLE) / 255.0 AS f0,
           CAST({_digest_byte(1)} AS DOUBLE) / 255.0 AS f1
    FROM hashed
    """,
)
def multimodal_decode_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Arrow-batched decode path end-to-end: wrap text as a media record
    (binary payload), extract image metadata and a feature vector via
    ``mapInPandas`` (deterministic fake decoder — see operators.multimodal),
    join the two outputs, project the first feature dims.  The oracle
    recomputes the fake decoder from sha256 hex digits.  backend='fake' is
    PINNED (not 'auto'): the fixtures are text stand-ins and the oracle
    mirrors the fake convention — a runtime that happens to ship Pillow
    must not flip this row onto the real codec."""
    docs = load(spark, sf_dir, "documents")
    media = M.wrap_text_as_media(docs, "doc_id", "text")
    meta = M.decode_image_meta(media, backend="fake")
    feats = M.extract_features(media)
    return (
        meta.join(feats, "media_id")
        .select(
            "media_id",
            "n_bytes",
            "sha256",
            "width",
            "height",
            F.element_at("feature", 1).alias("f0"),
            F.element_at("feature", 2).alias("f1"),
        )
    )


_EVERY_N = 4


@register(
    "multimodal_frame_sample",
    # r6: demoted to the pytest oracle gate (identical DuckDB comparison) to
    # free a driver row for mixture_sample_temperature — the multimodal
    # family stays driver-graded via multimodal_decode_features.
    demoted=True,
    oracle=f"""
    WITH hashed AS (
        SELECT doc_id, sha256(text) AS h,
               CAST(ceil(octet_length(encode(text)) / 64.0) AS BIGINT) AS n_frames
        FROM documents
    ),
    frames AS (
        SELECT doc_id,
               sha256(h || '|' || CAST(idx AS VARCHAR)) AS fh,
               idx
        FROM (SELECT doc_id, h,
                     unnest(generate_series(0, CAST(greatest(n_frames, 1) - 1 AS BIGINT),
                                            {_EVERY_N})) AS idx
              FROM hashed)
    )
    SELECT doc_id AS media_id,
           CAST(idx AS BIGINT) AS frame_idx,
           CAST(idx * 100 AS BIGINT) AS ts_ms,
           fh AS frame_sha256,
           CAST(320 + ({_digest_byte(0, 'fh')} % 8) * 160 AS BIGINT) AS width,
           CAST(240 + ({_digest_byte(1, 'fh')} % 8) * 120 AS BIGINT) AS height
    FROM frames
    """,
)
def multimodal_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video frame sampling (every 4th frame) through the real mapInPandas
    fan-out plumbing — one media row yields ~n_frames/4 frame rows inside
    the Arrow batch, no explode shuffle.  The codec is the documented
    deterministic fake (operators.multimodal.frame_sample): frame hash =
    sha256 chain over (payload sha256 hex, frame index), dims from the
    frame digest — reproduced exactly by the oracle."""
    docs = load(spark, sf_dir, "documents")
    media = M.wrap_text_as_media(docs, "doc_id", "text")
    return M.frame_sample(media, every_n=_EVERY_N)


@register(
    "multimodal_phash_near_dup",
    demoted=True,  # multimodal family driver-graded via multimodal_decode_features
    oracle="""
    WITH docs AS (SELECT doc_id, text, length(text) AS n FROM documents),
    chars AS (
      SELECT doc_id, CAST(i - 1 AS BIGINT) AS p,
             ascii(list_extract(string_split(text, ''), i)) AS v,
             CAST((CAST(i - 1 AS BIGINT) * 70) // n AS INT) AS seg
      FROM (SELECT doc_id, text, n, unnest(generate_series(1, n)) AS i FROM docs)
    ),
    pixagg AS (
      SELECT doc_id, seg, SUM(v) // COUNT(*) AS pixel
      FROM chars GROUP BY doc_id, seg
    ),
    allseg AS (
      SELECT d.doc_id, gs.seg
      FROM (SELECT DISTINCT doc_id FROM docs) d, generate_series(0, 69) AS gs(seg)
    ),
    pix AS (
      SELECT a.doc_id, a.seg, COALESCE(p.pixel, 0) AS pixel
      FROM allseg a LEFT JOIN pixagg p ON a.doc_id = p.doc_id AND a.seg = p.seg
    ),
    bits AS (
      SELECT a.doc_id,
             CAST(SUM(CASE WHEN b.pixel > a.pixel
                           THEN CAST(1 AS BIGINT) << (a.seg - a.seg // 10)
                           ELSE 0 END) AS BIGINT) AS phash
      FROM pix a JOIN pix b ON a.doc_id = b.doc_id AND b.seg = a.seg + 1
      WHERE a.seg % 10 < 9
      GROUP BY a.doc_id
    ),
    bands AS (
      SELECT doc_id, phash, j, (phash >> (5 * j)) & 31 AS band
      FROM bits, generate_series(0, 12) AS gj(j)
    ),
    cand AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
                      a.phash AS ha, b.phash AS hb
      FROM bands a
      JOIN bands b ON a.j = b.j AND a.band = b.band AND a.doc_id < b.doc_id
    )
    SELECT id_a, id_b, CAST(bit_count(xor(ha, hb)) AS BIGINT) AS hamming
    FROM cand
    WHERE bit_count(xor(ha, hb)) <= 12
    ORDER BY id_a, id_b
    """,
)
def multimodal_phash_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual near-dup pairs over media payloads (late r10): wrap
    every document as a binary media record, dHash each payload through
    the Arrow/mapInPandas thumbnail stub (block-mean grid → 63
    difference bits — a box-filter downscale applied to the byte
    stream), then find all pairs within Hamming 12 via pigeonhole
    multi-index banding (13 bands × 5 bits; the top band holds the 3
    highest bits zero-padded: any pair within distance 12 shares an
    exact band — recall 1.0, no probabilistic miss).  The
    oracle rebuilds the IDENTICAL thumbnail from character codes
    (payloads are utf-8 of ASCII text, so byte = code point), so the
    Python-UDF hash path is value-checked cross-engine bit for bit.
    At 100 TB structured corpora cluster band values, which inflates the
    candidate join toward quadratic (``phash_band_buckets`` shows the
    bucket sizes)."""
    docs = load(spark, sf_dir, "documents")
    media = M.wrap_text_as_media(docs, "doc_id", "text")
    hashed = M.perceptual_dhash(media)
    return M.phash_near_dup_pairs(hashed, tau=12, n_bands=13, band_bits=5).orderBy("id_a", "id_b")
