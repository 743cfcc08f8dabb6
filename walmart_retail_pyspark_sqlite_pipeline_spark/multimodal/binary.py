"""Multimodal column plumbing: opaque ``binary`` payloads + typed metadata.

Every pass is built-in expressions over the binary column, so the plan
stays in the JVM and nothing is collected. Payload bytes are read from
the column's ``hex()`` dump, the way the DuckDB oracles read them.

The decode itself is tiered:

1. **Real header decode**: PNG / GIF / JPEG payloads get their TRUE
   width/height from the container header (IHDR chunk, logical-screen
   descriptor, SOF marker) — no imaging library needed for metadata.
2. **Deterministic pseudo-decode** for payloads no header matches (e.g.
   the utf-8 text stand-ins the oracle-graded fixture queries use) —
   pseudo-dims from the payload length so the oracle can reproduce them.
   Pixel-level ops (resize kernels, CNN features) remain stubbed; the
   schema and row shape are the ones a real decoder would produce.

A NULL payload gives no row (nothing to decode; the oracles filter
``text IS NOT NULL``). An EMPTY payload keeps its metadata and frame rows
(byte_len 0 is meaningful) but gives no feature row.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

#: the payload's unsigned byte values as ``array<int>``, in one pass over
#: its hex dump (a ``substr`` of byte j on the hex string is O(j) per call)
_BYTES = (
    "transform(regexp_extract_all(hex(payload), '(..)', 1),"
    " x -> CAST(conv(x, 16, 10) AS INT))"
)

# JPEG start-of-frame markers carrying dimensions (C4=DHT, C8=JPG ext,
# CC=DAC are NOT SOF)
_JPEG_SOF = ", ".join(
    str(m) for m in sorted(set(range(0xC0, 0xD0)) - {0xC4, 0xC8, 0xCC})
)


def _uint(pos: int | str, n: int) -> str:
    """Big-endian unsigned int of the ``n`` payload bytes at 1-based ``pos``
    (``substring`` of a binary is O(n), of a string O(pos))."""
    return f"CAST(conv(hex(substring(payload, {pos}, {n})), 16, 10) AS INT)"


#: JPEG (w, h), NULL for any other payload: walk the segment markers from
#: offset 2 (``s.i``, 0-based) to the first SOF — step over a fill byte,
#: jump ``2 + seg_len`` over any other segment, stop when fewer than 9
#: bytes remain or the byte at the walk is not 0xFF (a stop parks ``s.i``
#: at ``blen``). Each step advances at least one byte, so ``blen`` steps
#: finish the walk; NULL dims when no SOF is reached.
_JPEG_DIMS = f"""CASE WHEN substring(payload, 1, 2) = X'FFD8' THEN aggregate(
  sequence(1, blen),
  named_struct('i', 2, 'w', CAST(NULL AS INT), 'h', CAST(NULL AS INT)),
  (s, _) -> CASE
    WHEN s.w IS NOT NULL OR s.i + 9 > blen THEN s
    WHEN {_uint("s.i + 1", 1)} != 255 THEN named_struct('i', blen, 'w', s.w, 'h', s.h)
    WHEN {_uint("s.i + 2", 1)} = 255 THEN named_struct('i', s.i + 1, 'w', s.w, 'h', s.h)
    WHEN {_uint("s.i + 2", 1)} IN ({_JPEG_SOF})
      THEN named_struct('i', s.i, 'w', {_uint("s.i + 8", 2)}, 'h', {_uint("s.i + 6", 2)})
    ELSE named_struct('i', s.i + 2 + {_uint("s.i + 3", 2)}, 'w', s.w, 'h', s.h)
  END) END"""


#: (w, h) from a PNG or GIF header, else from the JPEG walk (NULL when
#: that found none); the three signatures differ in their first byte
_HEADER_DIMS = f"""CASE
  WHEN substring(payload, 1, 8) = X'89504E470D0A1A0A' AND blen >= 24
       AND substring(payload, 13, 4) = X'49484452'
    THEN named_struct('w', {_uint(17, 4)}, 'h', {_uint(21, 4)})
  WHEN substring(payload, 1, 6) IN (X'474946383761', X'474946383961')
       AND blen >= 10
    THEN named_struct('w', {_uint(7, 1)} + 256 * {_uint(8, 1)},  -- little-endian
                      'h', {_uint(9, 1)} + 256 * {_uint(10, 1)})
  ELSE named_struct('w', jpeg.w, 'h', jpeg.h)
END"""


def attach_fake_payload(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Model a multimodal table: utf-8 payload bytes standing in for an
    encoded image blob."""
    return df.withColumn("payload", F.encode(F.col(text_col), "utf-8"))


def _payloads(df: DataFrame) -> DataFrame:
    """``doc_id``, ``payload`` and its byte length ``blen``; no row for a NULL payload."""
    return df.select(
        "doc_id", "payload", F.octet_length("payload").alias("blen")
    ).filter(F.col("payload").isNotNull())


def header_dims(df_with_payload: DataFrame) -> DataFrame:
    """``doc_id``, ``payload``, ``blen`` and the header decode ``dims``:
    a ``(w, h)`` struct, both NULL when no PNG/GIF/JPEG header parse
    accepts the payload."""
    return (
        _payloads(df_with_payload)
        .withColumn("jpeg", F.expr(_JPEG_DIMS))
        .withColumn("dims", F.expr(_HEADER_DIMS))
    )


def image_meta(df_with_payload: DataFrame) -> DataFrame:
    """Typed metadata from a binary payload column: the true dimensions
    and ``n_frames=1`` from a real image header, else the pseudo-dims the
    oracle reproduces from the byte length."""
    return (
        header_dims(df_with_payload)
        .selectExpr(
            "doc_id",
            "blen AS byte_len",
            "coalesce(dims.w, 16 + blen % 64) AS width",
            "coalesce(dims.h, 16 + (blen * 7) % 64) AS height",
            "CASE WHEN dims.w IS NULL THEN 1 + blen % 8 ELSE 1 END AS n_frames",
        )
    )


def frame_sample(df_with_payload: DataFrame) -> DataFrame:
    """Video-style frame sampling: expand each payload into its ``1 +
    blen % 8`` stub frames — the 1→N row expansion shape of media
    pipelines. Offsets and signatures are deterministic functions of the
    payload so the oracle can reproduce them; a real decoder would emit
    actual frame tensors here.
    """
    return (
        _payloads(df_with_payload)
        .selectExpr(
            "doc_id", "CAST(blen AS BIGINT) AS blen", "explode(sequence(0, blen % 8)) AS frame_idx"
        )
        .selectExpr(
            "doc_id",
            "frame_idx",
            "CAST((frame_idx * blen) DIV (1 + blen % 8) AS INT) AS frame_offset",
            "(blen * 31 + frame_idx * 7) % 1000003 AS frame_sig",
        )
    )


def frame_energy(df_with_payload: DataFrame) -> DataFrame:
    """Per-frame byte energy (the scene-cut feature pass): the ``n`` frames
    of :func:`frame_sample`, frame ``i`` covering bytes ``[(i*blen) div n,
    ((i+1)*blen) div n)``, each reduced to the EXACT integer sum of its
    unsigned bytes — the decode frame → pool features shape of a real
    video pipeline. An empty payload keeps one frame with energy 0.
    """
    return (
        _payloads(df_with_payload)
        .selectExpr("doc_id", "CAST(blen AS BIGINT) AS blen", "1 + blen % 8 AS n", f"{_BYTES} AS b")
        .selectExpr(
            "doc_id",
            """inline(transform(sequence(0, n - 1), i -> named_struct(
                 'frame_idx', i, 'n_frames', n, 'energy', aggregate(
                   slice(b, CAST((i * blen) DIV n AS INT) + 1,
                         CAST(((i + 1) * blen) DIV n - (i * blen) DIV n AS INT)),
                   0L, (acc, x) -> acc + x))))""",
        )
    )


def image_resize(
    df_with_payload: DataFrame, target_w: int = 32, target_h: int = 32
) -> DataFrame:
    """Aspect-preserving resize planning (STUB decode — see module doc):
    source dims from :func:`image_meta`, output dims scaled by
    ``min(target/w, target/h)`` as a Pillow ``thumbnail`` kernel would —
    the binding dimension hits its target exactly, the other scales by
    floor division — and ``out_bytes`` models the re-encoded size. All
    integer arithmetic, so the DuckDB oracle reproduces it. A real
    deployment swaps in ``img.resize((out_w, out_h))`` + re-encode.
    """
    # BIGINT targets (``48L``) keep the products exact; a binding width
    # with w = 0 means h = 0 too, so out_h is 0
    binding = f"width * {target_h}L >= height * {target_w}L"
    return (
        image_meta(df_with_payload)
        .selectExpr(
            "doc_id", "width", "height",
            f"CAST(CASE WHEN {binding} THEN {target_w}"
            f" ELSE (width * {target_h}L) DIV height END AS INT) AS out_w",
            f"CAST(CASE WHEN {binding} THEN (height * {target_w}L) DIV greatest(width, 1)"
            f" ELSE {target_h} END AS INT) AS out_h",
        )
        .withColumn("out_bytes", F.col("out_w") * F.col("out_h") * 3)
    )


#: bin k's byte share, rounded half-away at 6 dp (``floor(x*1e6 + 0.5)``)
_FEATURE_BINS = ", ".join(
    f"floor((blen - length(replace(lo, '{k}', ''))) / blen * 1e6 + 5e-1) / 1e6"
    for k in "0123456789ABCDEF"
)


def image_features(df_with_payload: DataFrame) -> DataFrame:
    """Feature extraction to a fixed-dim vector: a 16-bin byte-value
    histogram, bin ``k`` holding the share of bytes whose low hex nibble
    is ``k`` — the STUB stand-in for a CNN/CLIP embedding kernel, shaped
    ``array<double>`` so it pipes straight into ``ann_*`` /
    ``dedup_embedding_*``. An empty payload gives NO row (a real decoder
    quarantines an undecodable blob rather than emitting a degenerate
    all-zero embedding), as the oracles' per-byte CTEs have no rows for it.
    """
    return (
        _payloads(df_with_payload)
        .filter(F.col("blen") > 0)
        # the low nibbles, one hex digit per byte
        .selectExpr("doc_id", "blen", "regexp_replace(hex(payload), '(.)(.)', '$2') AS lo")
        .selectExpr("doc_id", f"array({_FEATURE_BINS}) AS feat")
    )


def audio_meta(df_with_payload: DataFrame) -> DataFrame:
    """Audio-side twin of :func:`image_meta` (STUB decode — a real kernel
    is ``torchaudio.info`` / ``soundfile.info``): 16-bit mono PCM at a
    deterministic 8/16/24 kHz rate, so every derived field is integer
    arithmetic both engines reproduce.
    """
    return _payloads(df_with_payload).selectExpr(
        "doc_id",
        "blen AS byte_len",
        "8000 * (1 + blen % 3) AS sample_rate",
        "CAST(blen DIV 2 AS INT) AS n_samples",
        "CAST((blen DIV 2) * 1000 DIV (8000 * (1 + blen % 3)) AS INT) AS duration_ms",
    )
