"""Multimodal decode tests: the header decode (PNG/GIF/JPEG, built-in
expressions) against payloads with known true dimensions, the
deterministic pseudo-decode for unrecognized payloads, and the frame and
feature passes against hand-computed truths and their DuckDB oracles."""

from __future__ import annotations

import struct
import zlib

from tests.conftest import SF_SMALL
from walmart_retail_pyspark_sqlite_pipeline_spark.multimodal.binary import (
    header_dims,
    image_meta,
)
from walmart_retail_pyspark_sqlite_pipeline_spark.plans.llm import (
    multimodal_audio_vad_segments,
)


def make_png(w: int, h: int) -> bytes:
    """A small but fully valid RGB PNG, stdlib-only (the same bytes PIL
    round-trips)."""

    def chunk(tag: bytes, data: bytes) -> bytes:
        return (
            struct.pack(">I", len(data))
            + tag
            + data
            + struct.pack(">I", zlib.crc32(tag + data) & 0xFFFFFFFF)
        )

    ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)  # 8-bit RGB
    # each row: filter byte 0 + w RGB pixels
    raw = b"".join(b"\x00" + bytes([i % 256, 0, 255 - i % 256] * w) for i in range(h))
    return (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(raw))
        + chunk(b"IEND", b"")
    )


def make_gif(w: int, h: int) -> bytes:
    """Minimal GIF89a: header + logical screen descriptor + trailer."""
    return b"GIF89a" + struct.pack("<HH", w, h) + b"\x00\x00\x00\x3b"


def make_jpeg(w: int, h: int, before_sof: bytes = b"") -> bytes:
    """Minimal JPEG: SOI, an APP0 segment to force marker walking,
    ``before_sof`` (more markers), SOF0."""
    app0 = b"\xff\xe0" + struct.pack(">H", 16) + b"JFIF\x00" + b"\x00" * 9
    sof0 = (
        b"\xff\xc0"
        + struct.pack(">H", 11)
        + b"\x08"
        + struct.pack(">HH", h, w)
        + b"\x01\x01\x11\x00"
    )
    return b"\xff\xd8" + app0 + before_sof + sof0 + b"\xff\xd9"


def test_parse_image_dims_real_headers(spark):
    """The header decode alone: true (w, h) for PNG/GIF/JPEG headers,
    NULL dims (the pseudo-decode's cue) for anything else."""
    payloads = [
        make_png(37, 21),
        make_png(1, 1),
        make_gif(640, 480),
        make_jpeg(123, 456),
        # unrecognized payloads → no header dims
        b"just some text",
        b"",
        b"\x89PNG\r\n\x1a\n_tooshort",
    ]
    df = spark.createDataFrame(
        list(enumerate(payloads)), "doc_id long, payload binary"
    )
    dims = {r.doc_id: r.dims for r in header_dims(df).select("doc_id", "dims").collect()}
    got = [(dims[i].w, dims[i].h) for i in range(len(payloads))]
    got = [None if wh == (None, None) else wh for wh in got]
    assert got == [(37, 21), (1, 1), (640, 480), (123, 456), None, None, None]


def test_image_meta_decodes_real_payloads(spark):
    """Real image payloads produce their TRUE header dimensions
    (n_frames=1); anything no header parse accepts (text, a truncated
    PNG, a JPEG cut off before its SOF, an empty payload) gets the
    deterministic pseudo-decode from its byte length; a NULL payload
    gives no row."""
    dht = b"\xff\xc4" + struct.pack(">H", 5) + b"\x00\x01\x02"
    real = {
        1: (make_png(37, 21), (37, 21)),
        2: (make_png(1, 1), (1, 1)),
        3: (make_gif(640, 480), (640, 480)),
        4: (b"GIF87a" + struct.pack("<HH", 7, 9) + b"\x00\x00\x00\x3b", (7, 9)),
        5: (make_jpeg(123, 456), (123, 456)),
        # a fill byte and a DHT (0xC4, not a SOF) before the SOF0
        6: (make_jpeg(300, 200, before_sof=b"\xff" + dht), (300, 200)),
    }
    pseudo = {
        7: b"not an image at all",
        8: b"\x89PNG\r\n\x1a\n_tooshort",
        9: b"",
        10: make_jpeg(123, 456)[:22],
    }
    df = spark.createDataFrame(
        [(k, p) for k, (p, _) in real.items()]
        + list(pseudo.items())
        + [(11, None)],
        "doc_id long, payload binary",
    )
    rows = {r.doc_id: r for r in image_meta(df).collect()}
    assert set(rows) == set(real) | set(pseudo), "a NULL payload gives no row"
    for k, (payload, dims) in real.items():
        r = rows[k]
        assert (r.width, r.height, r.n_frames) == (*dims, 1), k
        assert r.byte_len == len(payload)
    # pseudo path: dims derive from byte length, matching the oracle model
    for k, payload in pseudo.items():
        n = len(payload)
        r = rows[k]
        assert r.byte_len == n
        assert (r.width, r.height) == (16 + n % 64, 16 + (n * 7) % 64), k
        assert r.n_frames == 1 + n % 8


def test_image_features_drops_empty_and_null_payloads(spark):
    """Round-8 review finding: an empty-text doc made the Spark kernel emit
    16 frac=0.0 rows while the oracle's per-character CTEs dropped the doc
    (row-count mismatch at the driver gate), and a NULL payload crashed
    np.frombuffer outright. The kernel now drops both — matching what the
    DuckDB oracle computes for free — and NULL survives the batch without
    raising."""
    from walmart_retail_pyspark_sqlite_pipeline_spark.multimodal.binary import (
        image_features,
    )

    df = spark.createDataFrame(
        [(1, b"hello world"), (2, b""), (3, None), (4, b"x")],
        "doc_id long, payload binary",
    )
    rows = {r.doc_id: r.feat for r in image_features(df).collect()}
    assert set(rows) == {1, 4}, "empty (2) and NULL (3) payloads must drop"
    assert len(rows[1]) == 16 and abs(sum(rows[1]) - 1.0) < 1e-4
    # single byte 'x' = 120 -> bucket 120 % 16 = 8 gets the whole mass
    assert rows[4][8] == 1.0 and sum(rows[4]) == 1.0


def test_image_features_export_matches_oracle_on_empty_docs(spark, tmp_path):
    """Cross-engine parity on the planted edge the gate data lacks: a
    documents table containing an empty-text and a NULL-text doc must give
    identical (doc_id, bucket, frac) rows from the Spark export and the
    DuckDB oracle — the empty/NULL docs absent from BOTH."""
    import duckdb

    from walmart_retail_pyspark_sqlite_pipeline_spark.plans.llm import (
        IMAGE_FEATURES_SQL,
        multimodal_image_features,
    )

    docs = spark.createDataFrame(
        [(0, "query doc"), (1, ""), (2, None), (3, "abcabc")],
        "doc_id long, text string",
    )
    sf_dir = tmp_path / "sf"
    docs.coalesce(1).write.parquet(str(sf_dir / "documents.parquet"))

    got = [
        (r.doc_id, r.bucket, r.frac)
        for r in multimodal_image_features(spark, str(sf_dir)).collect()
    ]
    con = duckdb.connect()
    glob = str(sf_dir / "documents.parquet" / "*.parquet").replace("'", "''")
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM read_parquet('{glob}')"
    )
    want = [tuple(t) for t in con.execute(IMAGE_FEATURES_SQL).fetchall()]
    assert sorted(got) == sorted(want)
    assert {d for d, _, _ in got} == {0, 3}, "docs 1 (empty) and 2 (NULL) drop"


def test_image_features_oracle_walks_bytes_on_unicode(spark, tmp_path):
    """'héllo wörld' is 11 chars but 13 UTF-8 bytes: the kernel histograms
    BYTES (np.frombuffer of the encoded payload), so the DuckDB oracle
    must walk encoded bytes too — the original ascii(char) walk agreed
    only on pure-ASCII text. Pin exact cross-engine parity on multi-byte
    docs, and pin the Spark fractions against a hand-encoded truth."""
    import duckdb
    import numpy as np

    from walmart_retail_pyspark_sqlite_pipeline_spark.plans.llm import (
        IMAGE_FEATURES_SQL,
        multimodal_image_features,
    )

    texts = {0: "héllo wörld", 1: "日本語 and ascii", 2: "plain ascii"}
    docs = spark.createDataFrame(
        [(k, v) for k, v in texts.items()], "doc_id long, text string"
    )
    sf_dir = tmp_path / "sf"
    docs.coalesce(1).write.parquet(str(sf_dir / "documents.parquet"))

    got = [
        (r.doc_id, r.bucket, r.frac)
        for r in multimodal_image_features(spark, str(sf_dir)).collect()
    ]
    con = duckdb.connect()
    glob = str(sf_dir / "documents.parquet" / "*.parquet").replace("'", "''")
    con.execute(f"CREATE VIEW documents AS SELECT * FROM read_parquet('{glob}')")
    want = [tuple(t) for t in con.execute(IMAGE_FEATURES_SQL).fetchall()]
    assert sorted(got) == sorted(want)

    # hand truth for doc 0: byte histogram of the UTF-8 encoding
    raw = np.frombuffer(texts[0].encode(), dtype=np.uint8)
    hist = np.bincount(raw % 16, minlength=16)
    truth = np.floor(hist / raw.size * 1e6 + 0.5) / 1e6
    spark_d0 = {b: f for d, b, f in got if d == 0}
    assert raw.size == 13  # 11 chars, 13 bytes
    for b in range(16):
        assert spark_d0[b] == truth[b]


def test_scene_cut_flags_energy_spike_and_handles_empty_null(spark, tmp_path):
    """Hand-computed fixture: payload '        ~~~~' (8 spaces + 4 tildes,
    blen 12 -> n=5 frames at offsets 0,2,4,7,9) has per-frame byte
    energies [64, 64, 96, 158, 378]; only the last jump (delta 220)
    exceeds the mean frame energy (760/5=152), so exactly frame 4 is a
    cut. An empty doc keeps one zero-energy frame (not a cut); a NULL doc
    is quarantined (no rows)."""
    from walmart_retail_pyspark_sqlite_pipeline_spark.plans.llm import (
        multimodal_scene_cut,
    )

    rows = [
        (1, " " * 8 + "~~~~", "en", "src0", 12),
        (2, "", "en", "src0", 0),
        (3, None, "en", "src0", 0),
    ]
    df = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    df.write.parquet(str(tmp_path / "documents.parquet"))
    got = multimodal_scene_cut(spark, str(tmp_path)).collect()
    by_doc = {}
    for r in got:
        by_doc.setdefault(r.doc_id, []).append(r)
    assert set(by_doc) == {1, 2}
    d1 = sorted(by_doc[1], key=lambda r: r.frame_idx)
    assert [r.energy for r in d1] == [64, 64, 96, 158, 378]
    assert [r.delta for r in d1] == [0, 0, 32, 62, 220]
    assert [r.is_cut for r in d1] == [False, False, False, False, True]
    (d2,) = by_doc[2]
    assert (d2.frame_idx, d2.energy, d2.delta, d2.is_cut) == (0, 0, 0, False)


def test_keyframe_select_top2_by_energy(spark, tmp_path):
    """Keyframe selection must return at most KF_K frames per doc, ranked
    by energy desc with frame_idx as the deterministic tiebreak, and the
    selected set must equal the top-2 recomputed from the full
    frame-energy surface."""
    from walmart_retail_pyspark_sqlite_pipeline_spark.multimodal import (
        attach_fake_payload,
        frame_energy,
    )
    from walmart_retail_pyspark_sqlite_pipeline_spark.plans.llm import (
        KF_K,
        multimodal_keyframe_select,
    )
    from walmart_retail_pyspark_sqlite_pipeline_spark.sources import read_table

    rows = [
        (1, "abcdefghij" * 7, "en", "srcA", 0),
        (2, "short", "en", "srcA", 0),
        (3, None, "en", "srcB", 0),
    ]
    df = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    df.write.parquet(str(tmp_path / "documents.parquet"))
    got = multimodal_keyframe_select(spark, str(tmp_path)).collect()
    by_doc = {}
    for r in got:
        by_doc.setdefault(r.doc_id, []).append(r)
    assert 3 not in by_doc  # NULL text: no payload, no frames
    docs = read_table(spark, str(tmp_path), "documents")
    fe = frame_energy(attach_fake_payload(docs)).collect()
    full = {}
    for r in fe:
        full.setdefault(r.doc_id, []).append((r.frame_idx, r.energy))
    for doc_id, sel in by_doc.items():
        assert len(sel) <= KF_K
        expect = sorted(
            full[doc_id], key=lambda t: (-t[1], t[0])
        )[: KF_K]
        sel_sorted = sorted(sel, key=lambda r: r.rk)
        assert [(r.frame_idx, r.energy) for r in sel_sorted] == expect
        assert [r.rk for r in sel_sorted] == list(range(1, len(sel) + 1))


def test_vad_segments_are_maximal_above_mean_runs(spark):
    from walmart_retail_pyspark_sqlite_pipeline_spark.multimodal import (
        attach_fake_payload,
        frame_energy,
    )
    from walmart_retail_pyspark_sqlite_pipeline_spark.sources import read_table

    segs = multimodal_audio_vad_segments(spark, SF_SMALL).collect()
    assert segs, "no VAD segments"
    fr = frame_energy(
        attach_fake_payload(read_table(spark, SF_SMALL, "documents"))
    ).collect()
    by_doc: dict[int, list] = {}
    for r in fr:
        by_doc.setdefault(r.doc_id, []).append(r)
    # recompute islands per doc in plain python and compare
    expected = []
    for doc_id, frames in by_doc.items():
        frames.sort(key=lambda r: r.frame_idx)
        total = sum(r.energy for r in frames)
        seg_id, prev_active = 0, False
        cur = None
        for r in frames:
            active = r.energy * r.n_frames > total
            if active and not prev_active:
                seg_id += 1
                cur = [doc_id, seg_id, r.frame_idx, r.frame_idx, 1, r.energy]
                expected.append(cur)
            elif active:
                cur[3] = r.frame_idx
                cur[4] += 1
                cur[5] += r.energy
            prev_active = active
    got = sorted(
        (r.doc_id, r.seg_id, r.start_frame, r.end_frame, r.n_frames, r.seg_energy)
        for r in segs
    )
    assert got == sorted(tuple(e) for e in expected)
