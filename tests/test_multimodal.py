"""Multimodal plumbing (M5): schemas, batch shapes, determinism.

The codecs are deterministic fakes (raw bytes = samples); what's under
test is the Spark-side contract — mapInPandas schemas, 1→N fan-out,
null/empty payloads, payload-aware partitioning.
"""

from __future__ import annotations

import numpy as np
import pytest

from github_etl_spark.multimodal.media import (
    decode_stats,
    extract_features,
    repartition_by_payload,
    resize_images,
    sample_frames,
    synthesize_media,
)
from github_etl_spark.tables import load_tables


def _media(spark, sf_dir):
    docs = load_tables(spark, sf_dir, register=False)["documents"]
    return synthesize_media(docs.limit(60))


def test_synthesize_schema_and_determinism(spark, sf_dir):
    m = _media(spark, sf_dir)
    assert [f.name for f in m.schema] == ["media_id", "meta", "content"]
    assert m.schema["content"].dataType.typeName() == "binary"
    a = m.orderBy("media_id").limit(5).collect()
    b = m.orderBy("media_id").limit(5).collect()
    assert a == b  # same input → same payloads
    types = {r.meta.media_type for r in a}
    assert types <= {"image", "audio", "video"}


def test_decode_stats_matches_payload(spark, sf_dir):
    m = _media(spark, sf_dir)
    stats = {r.media_id: r for r in decode_stats(m).collect()}
    for row in m.collect():
        s = stats[row.media_id]
        arr = np.frombuffer(row.content, dtype=np.uint8) if row.content else None
        if arr is not None and len(arr):
            assert s.n_bytes == len(arr)
            assert abs(s.mean_value - float(arr.mean())) < 1e-9
            assert s.min_value == int(arr.min()) and s.max_value == int(arr.max())


def test_resize_fixed_output_size(spark, sf_dir):
    out = resize_images(_media(spark, sf_dir), 4, 3).collect()
    assert all(len(r.content) == 12 for r in out)
    assert all((r.width, r.height) == (4, 3) for r in out)


def test_sample_frames_video_only_fanout(spark, sf_dir):
    m = _media(spark, sf_dir)
    videos = {r.media_id: r.meta.n_frames for r in m.collect() if r.meta.media_type == "video"}
    frames = sample_frames(m, every_n=2).collect()
    assert {r.media_id for r in frames} == set(videos)
    by_id: dict[int, list[int]] = {}
    for r in frames:
        by_id.setdefault(r.media_id, []).append(r.frame_index)
    for mid, idxs in by_id.items():
        expected = list(range(0, videos[mid], 2))
        assert sorted(idxs) == expected  # every 2nd frame, 0-based


def test_extract_features_shape_and_norm(spark, sf_dir):
    feats = extract_features(_media(spark, sf_dir), dim=16).collect()
    assert all(len(r.features) == 16 for r in feats)
    for r in feats:
        n = float(np.linalg.norm(r.features))
        assert n == 0.0 or abs(n - 1.0) < 1e-5  # L2-normalized


def test_empty_and_null_payloads(spark):
    rows = [
        (1, ("image", 1, 1, None, 1, "raw-u8"), b""),
        (2, ("image", 1, 1, None, 1, "raw-u8"), None),
    ]
    m = spark.createDataFrame(
        rows,
        "media_id long, meta struct<media_type:string,width:int,height:int,"
        "sample_rate:int,n_frames:int,codec:string>, content binary",
    )
    stats = decode_stats(m).collect()
    # Honest integrity reporting: empty/NULL payloads are 0 bytes with
    # NULL stats, distinguishable from a real 1-byte 0x00 payload.
    assert all(s.n_bytes == 0 and s.mean_value is None for s in stats)


def test_repartition_by_payload_preserves_rows(spark, sf_dir):
    m = _media(spark, sf_dir)
    before = sorted(r.media_id for r in m.collect())
    re = repartition_by_payload(m, target_bytes=1 << 12)
    assert sorted(r.media_id for r in re.collect()) == before
    assert [f.name for f in re.schema] == ["media_id", "meta", "content"]


# ------------------------------------------------------ real codec: BMP


def test_bmp_roundtrip_exact():
    import numpy as np

    from github_etl_spark.multimodal.media import decode_bmp24, encode_bmp24

    rng = np.random.default_rng(7)
    # widths chosen to exercise every row-padding remainder (w*3 % 4)
    for h, w in [(1, 1), (2, 2), (3, 5), (4, 4), (7, 3), (2, 8)]:
        px = rng.integers(0, 256, (h, w, 3), dtype=np.uint8)
        assert np.array_equal(decode_bmp24(encode_bmp24(px)), px)


def test_bmp_golden_bytes():
    """A 1x1 red pixel must serialize to the exact canonical BMP bytes:
    'BM' magic, 54-byte header, pixel stored as BGR with 1 pad byte."""
    import numpy as np

    from github_etl_spark.multimodal.media import encode_bmp24

    b = encode_bmp24(np.array([[[255, 0, 0]]], dtype=np.uint8))
    assert b[:2] == b"BM"
    assert len(b) == 54 + 4  # one 3-byte BGR pixel + 1 pad byte
    assert int.from_bytes(b[10:14], "little") == 54  # pixel offset
    assert int.from_bytes(b[28:30], "little") == 24  # bpp
    assert b[54:57] == bytes([0, 0, 255])  # BGR on disk, red last


def test_bmp_topdown_variant_decodes():
    import numpy as np

    from github_etl_spark.multimodal.media import decode_bmp24, encode_bmp24

    px = np.arange(2 * 2 * 3, dtype=np.uint8).reshape(2, 2, 3)
    enc = bytearray(encode_bmp24(px))
    enc[22:26] = (-2).to_bytes(4, "little", signed=True)  # negative height
    # rows were written bottom-up; a top-down reader sees them flipped
    assert np.array_equal(decode_bmp24(bytes(enc)), px[::-1])


def test_bmp_malformed_raises():
    import pytest

    from github_etl_spark.multimodal.media import decode_bmp24, encode_bmp24

    with pytest.raises(ValueError, match="magic|truncated"):
        decode_bmp24(b"")
    with pytest.raises(ValueError, match="magic|truncated"):
        decode_bmp24(b"XX" + b"\x00" * 60)
    import numpy as np

    good = encode_bmp24(np.zeros((2, 2, 3), dtype=np.uint8))
    with pytest.raises(ValueError, match="truncated BMP pixel data"):
        decode_bmp24(good[:-3])
    bad_bpp = bytearray(good)
    bad_bpp[28:30] = (8).to_bytes(2, "little")
    with pytest.raises(ValueError, match="unsupported BMP variant"):
        decode_bmp24(bytes(bad_bpp))
    # pixel offset pointing INTO the header would decode header bytes
    # as pixels — must raise, never return wrong data
    bad_off = bytearray(good)
    bad_off[10:14] = (0).to_bytes(4, "little")
    with pytest.raises(ValueError, match="pixel-data offset"):
        decode_bmp24(bytes(bad_off))
    far_off = bytearray(good)
    far_off[10:14] = (len(good) + 100).to_bytes(4, "little")
    with pytest.raises(ValueError, match="pixel-data offset|truncated"):
        decode_bmp24(bytes(far_off))


def test_bmp_decode_stats_quarantines_bad_payloads(spark):
    """One corrupt payload must yield a decode_error row with NULL
    stats — never fail the batch, never go missing."""
    import numpy as np

    from github_etl_spark.multimodal.media import bmp_decode_stats, encode_bmp24

    good = encode_bmp24(np.full((2, 3, 3), 9, dtype=np.uint8))
    media = spark.createDataFrame(
        [(1, bytearray(good)), (2, bytearray(b"not a bmp"))],
        "media_id long, content binary",
    )
    rows = {r["media_id"]: r for r in bmp_decode_stats(media).collect()}
    assert rows[1]["decode_error"] is None
    assert (rows[1]["width"], rows[1]["height"]) == (3, 2)
    assert rows[1]["mean_value"] == 9.0 and rows[1]["corner_value"] == 9
    assert rows[2]["decode_error"] is not None
    assert rows[2]["mean_value"] is None and rows[2]["width"] is None


def test_bmp_roundtrip_property():
    """Property: decode(encode(px)) == px for arbitrary dimensions and
    pixel content (no Spark session — pure codec)."""
    import numpy as np
    from hypothesis import given, settings, strategies as st

    @settings(max_examples=40, deadline=None)
    @given(
        w=st.integers(min_value=1, max_value=40),
        h=st.integers(min_value=1, max_value=40),
        seed=st.integers(min_value=0, max_value=2**31 - 1),
    )
    def check(w, h, seed):
        from github_etl_spark.multimodal.media import decode_bmp24, encode_bmp24

        px = np.random.default_rng(seed).integers(
            0, 256, (h, w, 3), dtype=np.uint8
        )
        enc = encode_bmp24(px)
        # size is exactly header + padded rows — no silent growth
        assert len(enc) == 54 + ((w * 3 + 3) // 4 * 4) * h
        assert np.array_equal(decode_bmp24(enc), px)

    check()


# ------------------------------------------------------ real codec: WAV


def test_wav_roundtrip_exact():
    import numpy as np

    from github_etl_spark.multimodal.media import decode_wav16, encode_wav16

    rng = np.random.default_rng(3)
    for n, ch in [(1, 1), (10, 1), (7, 2), (64, 4)]:
        s = rng.integers(-32768, 32768, (n, ch)).astype(np.int16)
        arr, rate = decode_wav16(encode_wav16(s, 44100))
        assert rate == 44100
        assert np.array_equal(arr, s)
    # mono convenience shape (n,) round-trips as (n, 1)
    s = rng.integers(-32768, 32768, 9).astype(np.int16)
    arr, rate = decode_wav16(encode_wav16(s))
    assert rate == 16000 and np.array_equal(arr[:, 0], s)


def test_wav_golden_header():
    import numpy as np

    from github_etl_spark.multimodal.media import encode_wav16

    b = encode_wav16(np.array([257], dtype=np.int16), 8000)
    assert b[:4] == b"RIFF" and b[8:12] == b"WAVE"
    assert int.from_bytes(b[22:24], "little") == 1  # mono
    assert int.from_bytes(b[24:28], "little") == 8000
    assert int.from_bytes(b[34:36], "little") == 16  # bits
    assert len(b) == 44 + 2
    assert b[44:46] == bytes([1, 1])  # 257 little-endian


def test_wav_extra_chunks_and_word_alignment():
    """Real-world WAVs carry LIST/fact chunks (some odd-sized, padded
    to word boundaries) before data — the chunk walk must skip them."""
    import numpy as np

    from github_etl_spark.multimodal.media import decode_wav16, encode_wav16

    s = np.arange(-4, 4, dtype=np.int16)
    enc = encode_wav16(s, 22050)
    # splice an odd-sized chunk (3 bytes + 1 pad) between fmt and data
    extra = enc[:36] + b"junk" + (3).to_bytes(4, "little") + b"abc\x00" + enc[36:]
    arr, rate = decode_wav16(extra)
    assert rate == 22050 and np.array_equal(arr[:, 0], s)


def test_wav_malformed_raises():
    import numpy as np
    import pytest

    from github_etl_spark.multimodal.media import decode_wav16, encode_wav16

    with pytest.raises(ValueError, match="RIFF/WAVE magic"):
        decode_wav16(b"")
    with pytest.raises(ValueError, match="RIFF/WAVE magic"):
        decode_wav16(b"RIFXxxxxWAVE")
    good = encode_wav16(np.zeros(4, dtype=np.int16))
    with pytest.raises(ValueError, match="truncated WAV chunk"):
        decode_wav16(good[:-3])
    bad_bits = bytearray(good)
    bad_bits[34:36] = (8).to_bytes(2, "little")
    with pytest.raises(ValueError, match="unsupported WAV variant"):
        decode_wav16(bytes(bad_bits))
    # duplicate fmt/data chunks (corrupt or concatenated RIFF) must
    # raise, not silently decode only the last chunk
    data_chunk = good[36:]  # "data" + size + samples
    with pytest.raises(ValueError, match="duplicate data chunk"):
        decode_wav16(good + data_chunk)
    fmt_chunk = good[12:36]  # "fmt " + size + body
    dup_fmt = good[:36] + fmt_chunk + good[36:]
    dup_fmt = dup_fmt[:4] + (len(dup_fmt) - 8).to_bytes(4, "little") + dup_fmt[8:]
    with pytest.raises(ValueError, match="duplicate fmt chunk"):
        decode_wav16(dup_fmt)


def test_wav_decode_stats_quarantines_bad_payloads(spark):
    import numpy as np

    from github_etl_spark.multimodal.media import encode_wav16, wav_decode_stats

    good = encode_wav16(np.full(6, 100, dtype=np.int16), 12000)
    media = spark.createDataFrame(
        [(1, bytearray(good)), (2, bytearray(b"not a wav"))],
        "media_id long, content binary",
    )
    rows = {r["media_id"]: r for r in wav_decode_stats(media).collect()}
    assert rows[1]["decode_error"] is None
    assert (rows[1]["sample_rate"], rows[1]["n_samples"], rows[1]["channels"]) == (
        12000, 6, 1,
    )
    assert rows[1]["mean_value"] == 100.0 and rows[1]["first_sample"] == 100
    assert rows[2]["decode_error"] is not None
    assert rows[2]["mean_value"] is None and rows[2]["sample_rate"] is None


def test_wav_roundtrip_property():
    import numpy as np
    from hypothesis import given, settings, strategies as st

    @settings(max_examples=40, deadline=None)
    @given(
        n=st.integers(min_value=0, max_value=200),
        ch=st.integers(min_value=1, max_value=6),
        rate=st.sampled_from([8000, 16000, 44100, 48000]),
        seed=st.integers(min_value=0, max_value=2**31 - 1),
    )
    def check(n, ch, rate, seed):
        from github_etl_spark.multimodal.media import decode_wav16, encode_wav16

        s = (
            np.random.default_rng(seed)
            .integers(-32768, 32768, (n, ch))
            .astype(np.int16)
        )
        arr, got_rate = decode_wav16(encode_wav16(s, rate))
        assert got_rate == rate
        assert arr.shape == (n, ch)
        assert np.array_equal(arr, s)

    check()


# ------------------------------------------------------ real codec: Y4M


def test_y4m_roundtrip_exact():
    import numpy as np

    from github_etl_spark.multimodal.media import decode_y4m, encode_y4m

    rng = np.random.default_rng(11)
    for n, h, w in [(1, 2, 3), (4, 3, 5), (7, 1, 1), (0, 2, 2)]:
        f = rng.integers(0, 256, (n, h, w), dtype=np.uint8)
        arr, fps = decode_y4m(encode_y4m(f, (30, 1)))
        assert fps == (30, 1)
        assert np.array_equal(arr, f)


def test_y4m_c420_chroma_skipped():
    """C420 clips carry chroma planes between frames — the luma must
    come back exactly, proving the per-frame stride honors chroma."""
    import numpy as np

    from github_etl_spark.multimodal.media import decode_y4m, encode_y4m

    f = np.arange(2 * 4 * 6, dtype=np.uint8).reshape(2, 4, 6)
    arr, _ = decode_y4m(encode_y4m(f, colorspace="420"))
    assert np.array_equal(arr, f)


def test_y4m_golden_header():
    import numpy as np

    from github_etl_spark.multimodal.media import encode_y4m

    b = encode_y4m(np.zeros((1, 2, 3), dtype=np.uint8), (25, 1))
    head, rest = b.split(b"\n", 1)
    assert head == b"YUV4MPEG2 W3 H2 F25:1 Ip A1:1 Cmono"
    assert rest == b"FRAME\n" + bytes(6)


def test_y4m_malformed_raises():
    import numpy as np
    import pytest

    from github_etl_spark.multimodal.media import decode_y4m, encode_y4m

    with pytest.raises(ValueError, match="signature"):
        decode_y4m(b"")
    with pytest.raises(ValueError, match="signature"):
        decode_y4m(b"JUNKHEADER\nFRAME\n")
    good = encode_y4m(np.zeros((2, 2, 2), dtype=np.uint8))
    with pytest.raises(ValueError, match="truncated Y4M frame"):
        decode_y4m(good[:-1])
    with pytest.raises(ValueError, match="unsupported Y4M colorspace"):
        decode_y4m(b"YUV4MPEG2 W2 H2 C999\nFRAME\n" + bytes(4))


def test_y4m_frame_stats_fanout_and_quarantine(spark):
    """1->N fan-out: every_n=2 keeps frames 0 and 2 of a 4-frame clip;
    a corrupt payload yields a single frame_index=-1 quarantine row."""
    import numpy as np

    from github_etl_spark.multimodal.media import encode_y4m, y4m_frame_stats

    frames = np.stack(
        [np.full((2, 2), v, dtype=np.uint8) for v in (10, 20, 30, 40)]
    )
    media = spark.createDataFrame(
        [(1, bytearray(encode_y4m(frames))), (2, bytearray(b"bogus"))],
        "media_id long, content binary",
    )
    rows = y4m_frame_stats(media, every_n=2).collect()
    ok = sorted(
        (r.frame_index, r.mean_value, r.first_pixel)
        for r in rows
        if r.media_id == 1
    )
    assert ok == [(0, 10.0, 10), (2, 30.0, 30)]
    bad = [r for r in rows if r.media_id == 2]
    assert len(bad) == 1 and bad[0].frame_index == -1
    assert bad[0].decode_error is not None and bad[0].mean_value is None


def test_y4m_roundtrip_property():
    import numpy as np
    from hypothesis import given, settings, strategies as st

    @settings(max_examples=40, deadline=None)
    @given(
        n=st.integers(min_value=0, max_value=8),
        h=st.integers(min_value=1, max_value=12),
        w=st.integers(min_value=1, max_value=12),
        seed=st.integers(min_value=0, max_value=2**31 - 1),
    )
    def check(n, h, w, seed):
        from github_etl_spark.multimodal.media import decode_y4m, encode_y4m

        f = (
            np.random.default_rng(seed)
            .integers(0, 256, (n, h, w))
            .astype(np.uint8)
        )
        arr, fps = decode_y4m(encode_y4m(f))
        assert fps == (25, 1) and np.array_equal(arr, f)

    check()


def test_wav_synthesis_nul_byte_stays_in_int16(spark):
    """A NUL text byte must map to exactly -32768 ((0-128)*256), not
    wrap: the old *257 scale overflowed int16 at byte 0 and silently
    diverged from the SQL oracle's exact arithmetic."""
    from github_etl_spark.multimodal.media import (
        synthesize_wav_media,
        wav_decode_stats,
    )

    docs = spark.createDataFrame(
        [(0, "\x00A")], "doc_id long, text string"
    )
    row = wav_decode_stats(synthesize_wav_media(docs)).head()
    assert row.decode_error is None
    assert row.first_sample == -32768  # byte 0x00
    assert row.min_value == -32768
    assert row.max_value == (ord("A") - 128) * 256


def test_wav_partial_frame_raises():
    """Header-consistent but truncated stereo data (2.5 frames) must
    quarantine, not silently decode as shorter audio."""
    import numpy as np
    import pytest

    from github_etl_spark.multimodal.media import decode_wav16, encode_wav16

    s = np.arange(-6, 6, dtype=np.int16).reshape(6, 2)
    enc = bytearray(encode_wav16(s, 8000))
    # chop 2 bytes off data AND shrink the data-chunk size field so the
    # chunk itself stays consistent (10 bytes = 2.5 stereo frames)
    enc = enc[:-2]
    enc[40:44] = (len(enc) - 44).to_bytes(4, "little")
    with pytest.raises(ValueError, match="partial frame"):
        decode_wav16(bytes(enc))


def test_resize_bmp_real_path(spark):
    """Real resize: a 2x2 checkerboard upsampled to 4x4 must replicate
    each source pixel into a 2x2 block (nearest-neighbor), and the
    output payload must itself be a decodable BMP."""
    import numpy as np

    from github_etl_spark.multimodal.media import (
        decode_bmp24,
        encode_bmp24,
        resize_bmp,
    )

    src = np.zeros((2, 2, 3), dtype=np.uint8)
    src[0, 0] = src[1, 1] = 255
    media = spark.createDataFrame(
        [(1, bytearray(encode_bmp24(src))), (2, bytearray(b"junk"))],
        "media_id long, content binary",
    )
    rows = {r.media_id: r for r in resize_bmp(media, 4, 4).collect()}
    out = decode_bmp24(bytes(rows[1].content))
    assert out.shape == (4, 4, 3)
    expect = np.repeat(np.repeat(src, 2, axis=0), 2, axis=1)
    assert np.array_equal(out, expect)
    assert rows[2].content is None and rows[2].decode_error is not None
    # identity resize round-trips exactly
    same = {r.media_id: r for r in resize_bmp(media, 2, 2).collect()}
    assert np.array_equal(decode_bmp24(bytes(same[1].content)), src)


def test_resample_wav_real_path(spark):
    """Halving the rate of a 16 kHz clip keeps every 2nd sample (ZOH
    at grid centers) and emits a valid WAV at the new rate."""
    import numpy as np

    from github_etl_spark.multimodal.media import (
        decode_wav16,
        encode_wav16,
        resample_wav,
    )

    s = np.arange(0, 1600, dtype=np.int16)
    media = spark.createDataFrame(
        [(1, bytearray(encode_wav16(s, 16000)))], "media_id long, content binary"
    )
    row = resample_wav(media, 8000).head()
    assert (row.sample_rate, row.n_samples) == (8000, 800)
    arr, rate = decode_wav16(bytes(row.content))
    assert rate == 8000
    assert np.array_equal(arr[:, 0], s[1::2])  # center sampling picks odds
    # identity rate round-trips exactly
    row = resample_wav(media, 16000).head()
    arr, _ = decode_wav16(bytes(row.content))
    assert np.array_equal(arr[:, 0], s)


def test_y4m_frames_to_bmp_bridge(spark):
    """Video→image bridge: every exported frame is a standalone valid
    BMP whose RGB replicates the source luma."""
    import numpy as np

    from github_etl_spark.multimodal.media import (
        decode_bmp24,
        encode_y4m,
        y4m_frames_to_bmp,
    )

    frames = np.stack(
        [np.full((2, 3), v, dtype=np.uint8) for v in (7, 70, 170)]
    )
    media = spark.createDataFrame(
        [(1, bytearray(encode_y4m(frames))), (2, bytearray(b"nope"))],
        "media_id long, content binary",
    )
    rows = y4m_frames_to_bmp(media, every_n=2).collect()
    ok = {r.frame_index: r for r in rows if r.media_id == 1}
    assert sorted(ok) == [0, 2]
    for i in (0, 2):
        px = decode_bmp24(bytes(ok[i].content))
        assert px.shape == (2, 3, 3)
        assert np.array_equal(px, np.repeat(frames[i][:, :, None], 3, axis=2))
    bad = [r for r in rows if r.media_id == 2]
    assert len(bad) == 1 and bad[0].frame_index == -1 and bad[0].content is None


def test_bmp_features_feed_similarity_search(spark):
    """e2e composition: real BMP decode -> luma features -> cosine
    top-k. Two near-identical images must rank each other first."""
    import numpy as np

    from github_etl_spark.multimodal.media import bmp_features, encode_bmp24
    from github_etl_spark.operators.similarity import brute_force_topk

    rng = np.random.default_rng(9)
    base = rng.integers(0, 256, (8, 8, 3), dtype=np.uint8)
    near = base.copy()
    near[0, 0] = 255 - near[0, 0]  # one-pixel change
    far = rng.integers(0, 256, (8, 8, 3), dtype=np.uint8)
    media = spark.createDataFrame(
        [(1, bytearray(encode_bmp24(base))),
         (2, bytearray(encode_bmp24(near))),
         (3, bytearray(encode_bmp24(far))),
         (4, bytearray(b"corrupt"))],
        "media_id long, content binary",
    )
    feats = bmp_features(media, dim=16)
    assert feats.where(feats.decode_error.isNotNull()).count() == 1
    emb = feats.where(feats.decode_error.isNull()).selectExpr(
        "media_id as vec_id", "features as embedding"
    )
    q = emb.where("vec_id = 1")
    top = brute_force_topk(emb.where("vec_id <> 1"), q, k=1).collect()
    assert len(top) == 1 and top[0]["neighbor_id"] == 2


def test_media_operator_parameter_validation(spark):
    """Size/stride parameters fail fast at the driver with clear
    errors, never as opaque executor tracebacks; a zero sample_rate in
    a WAV header is a quarantinable decode error."""
    import numpy as np
    import pytest

    from github_etl_spark.multimodal.media import (
        bmp_features,
        decode_wav16,
        encode_wav16,
        resample_wav,
        resize_bmp,
        y4m_frame_stats,
        y4m_frames_to_bmp,
    )

    media = spark.createDataFrame([(1, bytearray(b""))], "media_id long, content binary")
    with pytest.raises(ValueError, match="every_n"):
        y4m_frame_stats(media, every_n=0)
    with pytest.raises(ValueError, match="every_n"):
        y4m_frames_to_bmp(media, every_n=-1)
    with pytest.raises(ValueError, match="dim"):
        bmp_features(media, dim=0)
    with pytest.raises(ValueError, match="target size"):
        resize_bmp(media, 0, 4)
    with pytest.raises(ValueError, match="target_rate"):
        resample_wav(media, 0)
    # rate=0 in the header is malformed input, not a crash vector
    bad = encode_wav16(np.arange(4, dtype=np.int16), 0)
    with pytest.raises(ValueError, match="bad sample rate"):
        decode_wav16(bad)
    row = resample_wav(
        spark.createDataFrame([(1, bytearray(bad))], "media_id long, content binary"),
        8000,
    ).head()
    assert row.decode_error is not None and row.content is None


# ------------------------------------------------------ real codec: PNG


def test_png_roundtrip_exact_all_color_types():
    import numpy as np

    from github_etl_spark.multimodal.media import decode_png, encode_png

    rng = np.random.default_rng(11)
    # every channel count (gray/gray+alpha/RGB/RGBA) and heights that
    # between them use all five scanline filters via (row*7+h)%5
    for ch in (1, 2, 3, 4):
        for h, w in [(1, 1), (2, 3), (3, 5), (4, 4), (7, 2), (5, 9)]:
            px = rng.integers(0, 256, (h, w, ch), dtype=np.uint8)
            out = decode_png(encode_png(px))
            assert out.shape == (h, w, ch)
            assert np.array_equal(out, px)
    # 2-D input maps to grayscale
    px = rng.integers(0, 256, (4, 6), dtype=np.uint8)
    assert np.array_equal(decode_png(encode_png(px))[:, :, 0], px)


def test_png_golden_structure():
    """The serialized stream must be a spec-conformant PNG: signature,
    IHDR first (13-byte payload, depth 8, correct color type), IDAT
    present, IEND last, every chunk CRC32-valid."""
    import struct
    import zlib

    import numpy as np

    from github_etl_spark.multimodal.media import _PNG_SIG, encode_png

    b = encode_png(np.zeros((2, 2, 3), dtype=np.uint8))
    assert b[:8] == _PNG_SIG
    pos, tags = 8, []
    while pos < len(b):
        (length,) = struct.unpack(">I", b[pos : pos + 4])
        tag = b[pos + 4 : pos + 8]
        data = b[pos + 8 : pos + 8 + length]
        (crc,) = struct.unpack(">I", b[pos + 8 + length : pos + 12 + length])
        assert zlib.crc32(tag + data) & 0xFFFFFFFF == crc
        tags.append(tag)
        pos += 12 + length
    assert tags[0] == b"IHDR" and tags[-1] == b"IEND" and b"IDAT" in tags
    w, h, depth, ctype, comp, filt, inter = struct.unpack(">IIBBBBB", b[16:29])
    assert (w, h, depth, ctype, comp, filt, inter) == (2, 2, 8, 2, 0, 0, 0)


def test_png_filter_types_cover_all_five():
    """The deterministic per-row filter rule must hit every filter type
    across the fixture corpus heights (2..4) — otherwise the roundtrip
    oracle silently stops exercising Paeth/Average reconstruction."""
    used = {(y * 7 + h) % 5 for h in (2, 3, 4) for y in range(h)}
    assert used == {0, 1, 2, 3, 4}


def test_png_malformed_raises():
    import struct
    import zlib

    import numpy as np
    import pytest

    from github_etl_spark.multimodal.media import decode_png, encode_png

    with pytest.raises(ValueError, match="signature"):
        decode_png(b"")
    with pytest.raises(ValueError, match="signature"):
        decode_png(b"XXXXXXXX" + b"\x00" * 32)
    good = encode_png(np.arange(12, dtype=np.uint8).reshape(2, 2, 3))
    # flip one IDAT payload byte -> CRC mismatch must be detected
    idat_at = good.index(b"IDAT")
    bad = bytearray(good)
    bad[idat_at + 5] ^= 0xFF
    with pytest.raises(ValueError, match="CRC mismatch"):
        decode_png(bytes(bad))
    with pytest.raises(ValueError, match="truncated"):
        decode_png(good[:-6])
    # Adam7 interlace flag (with a recomputed CRC so only interlace trips)
    bad = bytearray(good)
    bad[28] = 1
    bad[29:33] = struct.pack(">I", zlib.crc32(b"IHDR" + bytes(bad[16:29])) & 0xFFFFFFFF)
    with pytest.raises(ValueError, match="interlace"):
        decode_png(bytes(bad))
    # 16-bit depth rejected the same way
    bad = bytearray(good)
    bad[24] = 16
    bad[29:33] = struct.pack(">I", zlib.crc32(b"IHDR" + bytes(bad[16:29])) & 0xFFFFFFFF)
    with pytest.raises(ValueError, match="unsupported PNG variant"):
        decode_png(bytes(bad))
    # corrupt the DEFLATE stream but fix the chunk CRC: inflate must fail
    (ilen,) = struct.unpack(">I", good[idat_at - 4 : idat_at])
    bad = bytearray(good)
    bad[idat_at + 4] ^= 0xFF
    payload = bytes(bad[idat_at + 4 : idat_at + 4 + ilen])
    bad[idat_at + 4 + ilen : idat_at + 8 + ilen] = struct.pack(
        ">I", zlib.crc32(b"IDAT" + payload) & 0xFFFFFFFF
    )
    with pytest.raises(ValueError, match="inflate failed|inflated size"):
        decode_png(bytes(bad))


def test_png_decode_stats_quarantines_bad_payloads(spark):
    import numpy as np

    from github_etl_spark.multimodal.media import encode_png, png_decode_stats

    good = encode_png(np.full((2, 3, 3), 9, dtype=np.uint8))
    media = spark.createDataFrame(
        [(1, bytearray(good)), (2, bytearray(b"not a png")), (3, None)],
        "media_id long, content binary",
    )
    rows = {r["media_id"]: r for r in png_decode_stats(media).collect()}
    assert rows[1]["decode_error"] is None
    assert (rows[1]["width"], rows[1]["height"], rows[1]["channels"]) == (3, 2, 3)
    assert rows[1]["mean_value"] == 9.0
    assert rows[1]["corner_value"] == 9 and rows[1]["last_value"] == 9
    for bad_id in (2, 3):
        assert rows[bad_id]["decode_error"] is not None
        assert rows[bad_id]["width"] is None and rows[bad_id]["mean_value"] is None


def test_png_roundtrip_property():
    """Property: decode(encode(px)) == px for arbitrary shapes, channel
    counts and content — includes rows long enough that every filter's
    vectorized/sequential reconstruction path runs (pure codec)."""
    import numpy as np
    from hypothesis import given, settings, strategies as st

    @settings(max_examples=40, deadline=None)
    @given(
        w=st.integers(min_value=1, max_value=24),
        h=st.integers(min_value=1, max_value=24),
        ch=st.integers(min_value=1, max_value=4),
        seed=st.integers(min_value=0, max_value=2**31 - 1),
    )
    def check(w, h, ch, seed):
        from github_etl_spark.multimodal.media import decode_png, encode_png

        px = np.random.default_rng(seed).integers(0, 256, (h, w, ch), dtype=np.uint8)
        assert np.array_equal(decode_png(encode_png(px)), px)

    check()


def test_png_ihdr_chunk_hardening():
    """A CRC-valid IHDR with the wrong payload length must raise
    ValueError (not struct.error — that would escape the quarantine
    handler and kill the batch), and a second CRC-valid IHDR must be
    rejected rather than silently re-shaping the image."""
    import struct
    import zlib

    import numpy as np
    import pytest

    from github_etl_spark.multimodal.media import (
        _PNG_SIG,
        _png_chunk,
        decode_png,
        encode_png,
    )

    # IHDR length 12: struct.unpack would raise struct.error
    bad = _PNG_SIG + _png_chunk(b"IHDR", b"\x00" * 12) + _png_chunk(b"IEND", b"")
    with pytest.raises(ValueError, match="IHDR length"):
        decode_png(bad)
    # duplicate IHDR re-declaring geometry (2x2 RGB -> 13x1 gray has the
    # same 14-byte raw size, so only the duplicate check can catch it)
    good = encode_png(np.arange(12, dtype=np.uint8).reshape(2, 2, 3))
    ihdr2 = struct.pack(">IIBBBBB", 13, 1, 8, 0, 0, 0, 0)
    end_at = good.index(b"IEND") - 4
    forged = good[:end_at] + _png_chunk(b"IHDR", ihdr2) + good[end_at:]
    with pytest.raises(ValueError, match="duplicate PNG IHDR"):
        decode_png(forged)
    del zlib  # imported for symmetry with sibling tests


# -------------------------------------------- real codec: G.711 mu-law


def test_mulaw_decode_matches_reference_table():
    """mulaw_decode must reproduce the public-domain Sun g711.c
    expansion for every one of the 256 codes (scalar reference
    re-implemented here), hitting the spec's +/-32124 extremes."""
    import numpy as np

    from github_etl_spark.multimodal.media import mulaw_decode

    def ref(u):
        u = ~u & 0xFF
        t = (((u & 0xF) << 3) + 0x84) << ((u & 0x70) >> 4)
        return (0x84 - t) if (u & 0x80) else (t - 0x84)

    codes = np.arange(256, dtype=np.uint8)
    dec = mulaw_decode(codes)
    assert (dec == np.array([ref(c) for c in range(256)], dtype=np.int16)).all()
    assert int(dec.max()) == 32124 and int(dec.min()) == -32124


def test_mulaw_roundtrip_law():
    """encode(decode(c)) == c for every code except 0x7F (negative
    zero re-encodes as positive zero 0xFF) — the documented G.711
    involution property."""
    import numpy as np

    from github_etl_spark.multimodal.media import mulaw_decode, mulaw_encode

    codes = np.arange(256, dtype=np.uint8)
    re = mulaw_encode(mulaw_decode(codes))
    mismatch = [c for c in range(256) if re[c] != c]
    assert mismatch == [0x7F]
    assert re[0x7F] == 0xFF


def test_mulaw_wav_container_roundtrip():
    """A mu-law WAV (format tag 7) decodes through the SAME
    decode_wav16 entry point as PCM, with companding error bounded by
    the G.711 step size (<= ~3% relative for large samples), at HALF
    the payload bytes of PCM-16."""
    import numpy as np

    from github_etl_spark.multimodal.media import (
        decode_wav16,
        encode_wav16,
        encode_wav_mulaw,
    )

    rng = np.random.default_rng(3)
    s = rng.integers(-32768, 32768, (200, 2)).astype(np.int16)
    wav = encode_wav_mulaw(s)
    assert len(wav) < len(encode_wav16(s, 8000)) * 0.6  # real 2:1 compression
    out, rate = decode_wav16(wav)
    assert rate == 8000 and out.shape == (200, 2)
    err = np.abs(out.astype(np.int32) - s.astype(np.int32))
    big = np.abs(s.astype(np.int32)) > 1000
    assert (err[big] / np.abs(s.astype(np.int32))[big]).max() < 0.04
    # quiet samples stay within one bottom-segment step
    assert err[~big].max() <= 16


def test_mulaw_wav_flows_through_audio_operators(spark):
    """Tag-7 payloads flow through wav_decode_stats and resample_wav
    unchanged — the operators never special-case the compression."""
    import numpy as np

    from github_etl_spark.multimodal.media import (
        encode_wav_mulaw,
        mulaw_decode,
        mulaw_encode,
        resample_wav,
        wav_decode_stats,
    )

    s = mulaw_decode(mulaw_encode(np.arange(-4000, 4000, 40, dtype=np.int16)))
    media = spark.createDataFrame(
        [(1, bytearray(encode_wav_mulaw(s)))], "media_id long, content binary"
    )
    row = wav_decode_stats(media).head()
    assert row["decode_error"] is None
    assert row["n_samples"] == len(s) and row["sample_rate"] == 8000
    assert row["first_sample"] == int(s[0])
    out = resample_wav(media, 4000).head()
    assert out["decode_error"] is None and out["content"] is not None


def test_mulaw_malformed_variants_raise():
    """Only the (format, bits) pairs (1,16) and (7,8) decode; a tag-7
    file claiming 16 bits or a tag-1 file claiming 8 must quarantine."""
    import numpy as np
    import pytest

    from github_etl_spark.multimodal.media import decode_wav16, encode_wav_mulaw

    good = bytearray(encode_wav_mulaw(np.arange(8, dtype=np.int16)))
    bad_bits = bytearray(good)
    bad_bits[34:36] = (16).to_bytes(2, "little")  # tag 7 + 16 bits
    with pytest.raises(ValueError, match="unsupported WAV variant"):
        decode_wav16(bytes(bad_bits))
    bad_tag = bytearray(good)
    bad_tag[20:22] = (1).to_bytes(2, "little")  # tag 1 + 8 bits
    with pytest.raises(ValueError, match="unsupported WAV variant"):
        decode_wav16(bytes(bad_tag))
    # trailing partial frame for a stereo mu-law file
    stereo = bytearray(encode_wav_mulaw(np.zeros((4, 2), dtype=np.int16)))
    stereo[40:44] = (7).to_bytes(4, "little")  # data size not % channels
    with pytest.raises(ValueError, match="partial frame|truncated"):
        decode_wav16(bytes(stereo))


def test_transcode_image_normalizes_mixed_corpus(spark):
    """A mixed BMP+PNG column normalizes to one format with pixels
    preserved exactly in both directions; outputs are valid files that
    the real decoders accept. Corrupt rows and alpha-to-BMP quarantine
    instead of failing the batch or dropping planes silently."""
    import numpy as np
    import pytest

    from github_etl_spark.multimodal.media import (
        decode_bmp24,
        decode_png,
        encode_bmp24,
        encode_png,
        transcode_image,
    )

    rng = np.random.default_rng(5)
    rgb1 = rng.integers(0, 256, (3, 4, 3), dtype=np.uint8)
    rgb2 = rng.integers(0, 256, (2, 2, 3), dtype=np.uint8)
    gray = rng.integers(0, 256, (2, 3, 1), dtype=np.uint8)
    rgba = rng.integers(0, 256, (2, 2, 4), dtype=np.uint8)
    media = spark.createDataFrame(
        [
            (1, bytearray(encode_bmp24(rgb1))),
            (2, bytearray(encode_png(rgb2))),
            (3, bytearray(encode_png(gray))),
            (4, bytearray(encode_png(rgba))),
            (5, bytearray(b"garbage")),
        ],
        "media_id long, content binary",
    )
    to_png = {r["media_id"]: r for r in transcode_image(media, "png").collect()}
    assert to_png[1]["src_format"] == "bmp"
    assert np.array_equal(decode_png(bytes(to_png[1]["content"])), rgb1)
    assert np.array_equal(decode_png(bytes(to_png[2]["content"])), rgb2)
    assert np.array_equal(decode_png(bytes(to_png[4]["content"])), rgba)  # alpha OK to png
    assert to_png[5]["decode_error"] is not None and to_png[5]["content"] is None

    to_bmp = {r["media_id"]: r for r in transcode_image(media, "bmp").collect()}
    assert np.array_equal(decode_bmp24(bytes(to_bmp[2]["content"])), rgb2)
    # gray promotes to RGB
    assert np.array_equal(
        decode_bmp24(bytes(to_bmp[3]["content"])), np.repeat(gray, 3, axis=2)
    )
    # alpha to BMP quarantines, never silently drops the plane
    assert to_bmp[4]["content"] is None and "alpha" in to_bmp[4]["decode_error"]

    with pytest.raises(ValueError, match="target"):
        transcode_image(media, "tiff")


# ----------------------------------------------------------------- QOI codec


def test_qoi_roundtrip_property():
    """encode→decode is the identity over mixed pixel regimes (random,
    constant runs, near-constant diffs, tiled ramps) for 3- and
    4-channel images — together the cases exercise every QOI op
    (INDEX/DIFF/LUMA/RGB/RGBA/RUN)."""
    import numpy as np

    from github_etl_spark.multimodal.media import decode_qoi, encode_qoi

    rng = np.random.RandomState(7)
    for trial in range(120):
        h, w = rng.randint(1, 9), rng.randint(1, 9)
        ch = 3 if trial % 2 else 4
        kind = trial % 4
        if kind == 0:
            px = rng.randint(0, 256, (h, w, ch), dtype=np.uint8)
        elif kind == 1:
            px = np.full((h, w, ch), rng.randint(0, 256), dtype=np.uint8)
        elif kind == 2:
            base = rng.randint(0, 256, (1, 1, ch))
            px = ((base + rng.randint(-2, 2, (h, w, ch))) % 256).astype(np.uint8)
        else:
            px = (np.arange(h * w * ch) % 256).reshape(h, w, ch).astype(np.uint8)
        got = decode_qoi(encode_qoi(px))
        assert got.shape == px.shape and (got == px).all(), (trial, h, w, ch)


def test_qoi_malformed_raises():
    import numpy as np
    import pytest

    from github_etl_spark.multimodal.media import decode_qoi, encode_qoi

    good = encode_qoi(np.arange(24, dtype=np.uint8).reshape(2, 4, 3))
    with pytest.raises(ValueError, match="magic|truncated"):
        decode_qoi(b"")
    with pytest.raises(ValueError, match="magic|truncated"):
        decode_qoi(b"qoix" + b"\x00" * 20)
    with pytest.raises(ValueError, match="end marker|truncated"):
        decode_qoi(good[:-3])
    bad_ch = bytearray(good)
    bad_ch[12] = 5
    with pytest.raises(ValueError, match="channels"):
        decode_qoi(bytes(bad_ch))
    # op stream that under-produces pixels: claim a bigger image
    bad_dim = bytearray(good)
    bad_dim[4:8] = (1000).to_bytes(4, "big")
    with pytest.raises(ValueError, match="claims|truncated|overflows"):
        decode_qoi(bytes(bad_dim))
    # a tiny payload claiming 60000x60000 must raise ValueError from
    # the op-stream bound BEFORE allocating ~14 GB (a MemoryError
    # would escape the ValueError-only quarantine contract)
    huge = bytearray(good)
    huge[4:8] = (60000).to_bytes(4, "big")
    huge[8:12] = (60000).to_bytes(4, "big")
    with pytest.raises(ValueError, match="claims"):
        decode_qoi(bytes(huge))


def test_qoi_decode_stats_quarantines_bad_payloads(spark):
    import numpy as np

    from github_etl_spark.multimodal.media import encode_qoi, qoi_decode_stats

    good = encode_qoi(np.full((2, 3, 3), 9, dtype=np.uint8))
    media = spark.createDataFrame(
        [(1, bytearray(good)), (2, bytearray(b"not a qoi"))],
        "media_id long, content binary",
    )
    rows = {r["media_id"]: r for r in qoi_decode_stats(media).collect()}
    assert rows[1]["decode_error"] is None
    assert (rows[1]["width"], rows[1]["height"], rows[1]["channels"]) == (3, 2, 3)
    assert rows[1]["mean_value"] == 9.0 and rows[1]["corner_value"] == 9
    assert rows[2]["decode_error"] is not None


def test_transcode_image_qoi_paths(spark):
    """QOI joins the mixed-corpus normalization: QOI payloads sniff by
    magic and transcode to PNG/BMP; BMP/PNG payloads transcode to QOI;
    gray and gray+alpha PNGs promote losslessly on the QOI target."""
    import numpy as np

    from github_etl_spark.multimodal.media import (
        decode_bmp24,
        decode_png,
        decode_qoi,
        encode_bmp24,
        encode_png,
        encode_qoi,
        transcode_image,
    )

    rgb = np.arange(36, dtype=np.uint8).reshape(3, 4, 3)
    gray = np.arange(12, dtype=np.uint8).reshape(3, 4, 1)
    ga = np.dstack([gray[:, :, 0], np.full((3, 4), 7, np.uint8)]).astype(np.uint8)
    media = spark.createDataFrame(
        [
            (1, bytearray(encode_qoi(rgb))),
            (2, bytearray(encode_bmp24(rgb))),
            (3, bytearray(encode_png(gray))),
            (4, bytearray(encode_png(ga))),
        ],
        "media_id long, content binary",
    )
    to_qoi = {r["media_id"]: r for r in transcode_image(media, "qoi").collect()}
    assert to_qoi[1]["src_format"] == "qoi"
    assert (decode_qoi(bytes(to_qoi[2]["content"])) == rgb).all()
    got_gray = decode_qoi(bytes(to_qoi[3]["content"]))
    assert (got_gray == np.repeat(gray, 3, axis=2)).all()
    got_ga = decode_qoi(bytes(to_qoi[4]["content"]))
    assert got_ga.shape == (3, 4, 4)
    assert (got_ga[:, :, 3] == 7).all() and (got_ga[:, :, 0] == gray[:, :, 0]).all()
    to_png = {r["media_id"]: r for r in transcode_image(media, "png").collect()}
    assert to_png[1]["src_format"] == "qoi"
    assert (decode_png(bytes(to_png[1]["content"])) == rgb).all()
    to_bmp = {r["media_id"]: r for r in transcode_image(media, "bmp").collect()}
    assert (decode_bmp24(bytes(to_bmp[1]["content"])) == rgb).all()
    # alpha-bearing payload quarantines on the BMP target
    assert to_bmp[4]["decode_error"] is not None


def test_jpeg_block_constant_dc8_roundtrip_exact():
    """The bit-exact regime the catalog oracle relies on: images whose
    aligned 8x8 blocks are constant carry only DC energy, and with a
    DC quantization step of 8 the DC coefficient 8*(v-128) quantizes
    to the integer v-128 losslessly — decode must return the input
    EXACTLY, including with restart markers in the stream."""
    import numpy as np

    from github_etl_spark.multimodal.jpeg import (
        DC8_QTABLE,
        decode_jpeg,
        encode_jpeg,
    )

    rng = np.random.RandomState(5)
    for trial in range(25):
        by, bx = rng.randint(1, 5), rng.randint(1, 5)
        vals = rng.randint(0, 256, size=(by, bx)).astype(np.uint8)
        img = np.repeat(np.repeat(vals, 8, axis=0), 8, axis=1)
        ri = trial % 3  # 0 = no restarts, else every 1-2 MCUs
        out = decode_jpeg(
            encode_jpeg(img, qtables=(DC8_QTABLE, DC8_QTABLE), restart_interval=ri)
        )
        assert out.shape == (by * 8, bx * 8, 1)
        assert np.array_equal(out[:, :, 0], img)


def test_jpeg_lossy_roundtrip_tolerance():
    """General content is lossy by design — but high-quality encode of
    smooth content must stay within a small per-pixel error bound, and
    geometry (including non-multiple-of-8 dimensions) is exact."""
    import numpy as np

    from github_etl_spark.multimodal.jpeg import decode_jpeg, encode_jpeg

    yy, xx = np.mgrid[0:29, 0:37]
    rgb = np.stack(
        [yy * 3 % 256, xx * 5 % 256, (yy + xx) * 2 % 256], axis=2
    ).astype(np.uint8)
    for sub in ("444", "420"):
        out = decode_jpeg(encode_jpeg(rgb, quality=92, subsampling=sub))
        assert out.shape == (29, 37, 3)
        err = np.abs(out.astype(int) - rgb.astype(int))
        assert err.max() <= 8, (sub, err.max())
    # grayscale path
    g = (yy * 7 % 256).astype(np.uint8)
    out = decode_jpeg(encode_jpeg(g, quality=95))
    assert out.shape == (29, 37, 1)
    assert np.abs(out[:, :, 0].astype(int) - g.astype(int)).max() <= 6
    # lower quality still decodes to the right geometry
    assert decode_jpeg(encode_jpeg(rgb, quality=20)).shape == (29, 37, 3)


def test_jpeg_golden_structure():
    """The serialized stream must be a structurally conformant baseline
    JFIF file: SOI first, EOI last, APP0/JFIF present, DQT before
    SOF0, Huffman tables declared, restart interval honored with RSTn
    markers cycling D0..D7, and every 0xFF inside the entropy stream
    stuffed."""
    import numpy as np

    from github_etl_spark.multimodal.jpeg import DC8_QTABLE, encode_jpeg

    vals = np.arange(12, dtype=np.uint8).reshape(3, 4) * 20
    img = np.repeat(np.repeat(vals, 8, axis=0), 8, axis=1)
    b = encode_jpeg(img, qtables=(DC8_QTABLE, DC8_QTABLE), restart_interval=2)
    assert b[:2] == b"\xff\xd8" and b[-2:] == b"\xff\xd9"
    assert b[2:4] == b"\xff\xe0" and b[6:11] == b"JFIF\x00"
    # marker walk: segment lengths must tile the pre-scan region
    i, markers = 2, []
    while b[i + 1] != 0xDA:
        assert b[i] == 0xFF
        markers.append(b[i + 1])
        seg_len = int.from_bytes(b[i + 2 : i + 4], "big")
        i += 2 + seg_len
    assert 0xDB in markers and 0xC0 in markers and 0xC4 in markers
    assert 0xDD in markers  # DRI
    # 12 blocks = 12 MCUs (grayscale), restart every 2 -> 5 RSTn markers
    rsts = [
        b[j + 1]
        for j in range(i, len(b) - 1)
        if b[j] == 0xFF and 0xD0 <= b[j + 1] <= 0xD7
    ]
    assert rsts == [0xD0, 0xD1, 0xD2, 0xD3, 0xD4]


def test_jpeg_determinism_and_self_sniff():
    import numpy as np

    from github_etl_spark.multimodal.jpeg import encode_jpeg

    rng = np.random.RandomState(3)
    px = rng.randint(0, 256, (16, 24, 3)).astype(np.uint8)
    assert encode_jpeg(px, quality=77) == encode_jpeg(px, quality=77)
    assert encode_jpeg(px, quality=77)[:2] == b"\xff\xd8"


def test_jpeg_unsupported_and_malformed_raise():
    """Out-of-slice streams must raise ValueError, never decode
    silently wrong: progressive SOF2, 16-bit DQT, 4-component frames,
    missing tables, truncations, and a corrupt Huffman stream."""
    import struct

    import numpy as np
    import pytest

    from github_etl_spark.multimodal.jpeg import decode_jpeg, encode_jpeg

    img = np.full((8, 8), 100, dtype=np.uint8)
    good = bytearray(encode_jpeg(img))

    with pytest.raises(ValueError):
        decode_jpeg(b"")
    with pytest.raises(ValueError):
        decode_jpeg(b"\x89PNG\r\n\x1a\n")
    # progressive: rewrite the SOF0 marker byte to SOF2
    sof = good.find(b"\xff\xc0")
    prog = bytes(good[:sof + 1]) + b"\xc2" + bytes(good[sof + 2 :])
    with pytest.raises(ValueError, match="baseline"):
        decode_jpeg(prog)
    # 16-bit quantization table: set DQT precision nibble
    dqt = good.find(b"\xff\xdb")
    deep = bytearray(good)
    deep[dqt + 4] = 0x10
    with pytest.raises(ValueError, match="16-bit"):
        decode_jpeg(bytes(deep))
    # truncate inside the entropy stream
    with pytest.raises(ValueError):
        decode_jpeg(bytes(good[: len(good) - 4]))
    # zero dimension in SOF
    zero = bytearray(good)
    zero[sof + 5 : sof + 7] = struct.pack(">H", 0)
    with pytest.raises(ValueError):
        decode_jpeg(bytes(zero))


def test_jpeg_quality_monotonic_size():
    """Higher quality => finer quantization => larger files (on
    non-trivial content); also pins the quality-scaling formula's
    direction without golden bytes."""
    import numpy as np

    from github_etl_spark.multimodal.jpeg import encode_jpeg

    rng = np.random.RandomState(9)
    px = rng.randint(0, 256, (32, 32, 3)).astype(np.uint8)
    sizes = [len(encode_jpeg(px, quality=q)) for q in (10, 50, 90)]
    assert sizes[0] < sizes[1] < sizes[2]


def test_jpeg_decode_stats_quarantines_bad_payloads(spark):
    from github_etl_spark.multimodal.media import jpeg_decode_stats

    import numpy as np

    from github_etl_spark.multimodal.jpeg import encode_jpeg

    good = encode_jpeg(np.full((8, 16), 40, dtype=np.uint8))
    media = spark.createDataFrame(
        [(1, bytearray(good)), (2, bytearray(b"not a jpeg")), (3, None)],
        "media_id long, content binary",
    )
    rows = {r["media_id"]: r for r in jpeg_decode_stats(media).collect()}
    assert rows[1]["decode_error"] is None
    assert rows[1]["width"] == 16 and rows[1]["height"] == 8
    assert rows[2]["decode_error"] is not None and rows[2]["width"] is None
    assert rows[3]["decode_error"] is not None


def test_transcode_image_jpeg_paths(spark):
    """JPEG joins the mixed-corpus normalization: sniffed as a source
    for every target, available as a (lossy) target, and alpha-bearing
    images quarantine on the JPEG target."""
    import numpy as np

    from github_etl_spark.multimodal.jpeg import DC8_QTABLE, decode_jpeg, encode_jpeg
    from github_etl_spark.multimodal.media import (
        decode_png,
        encode_png,
        transcode_image,
    )

    vals = np.arange(6, dtype=np.uint8).reshape(2, 3) * 40
    gray = np.repeat(np.repeat(vals, 8, axis=0), 8, axis=1)
    jb = encode_jpeg(gray, qtables=(DC8_QTABLE, DC8_QTABLE))
    rgb = np.arange(36, dtype=np.uint8).reshape(3, 4, 3)
    rgba = np.dstack([rgb, np.full((3, 4), 9, np.uint8)])
    media = spark.createDataFrame(
        [
            (1, bytearray(jb)),
            (2, bytearray(encode_png(rgb))),
            (3, bytearray(encode_png(rgba))),
        ],
        "media_id long, content binary",
    )
    # jpeg source -> png target: decoded pixels preserved exactly
    to_png = {r["media_id"]: r for r in transcode_image(media, "png").collect()}
    assert to_png[1]["src_format"] == "jpeg"
    got = decode_png(bytes(to_png[1]["content"]))
    assert np.array_equal(got[:, :, 0], gray)
    # png source -> jpeg target: valid baseline jpeg comes back
    to_jpeg = {r["media_id"]: r for r in transcode_image(media, "jpeg").collect()}
    assert to_jpeg[2]["decode_error"] is None
    out = decode_jpeg(bytes(to_jpeg[2]["content"]))
    assert out.shape == (3, 4, 3)
    # alpha quarantines on the lossy target
    assert to_jpeg[3]["decode_error"] is not None


def test_flac_roundtrip_property():
    """Lossless by construction: every encode regime (constant, fixed
    predictors, verbatim fallback, multi-frame, empty, stereo, 8-bit)
    must roundtrip bit-exactly."""
    import numpy as np

    from github_etl_spark.multimodal.flac import decode_flac, encode_flac

    rng = np.random.RandomState(2)
    cases = [
        np.zeros(64, dtype=np.int16),
        np.full(10, -32768, dtype=np.int16),
        np.arange(-600, 600, 3, dtype=np.int16),
        rng.randint(-32768, 32768, 5000).astype(np.int16),  # > one frame
        (np.sin(np.arange(9000) * 0.05) * 20000).astype(np.int16),
        np.array([], dtype=np.int16),
        np.array([7], dtype=np.int16),
    ]
    for i, s in enumerate(cases):
        out, sr = decode_flac(encode_flac(s, sample_rate=44100))
        assert sr == 44100
        assert np.array_equal(out, s), i
    # stereo: (n, 2) in, (n, 2) out
    st = np.stack(
        [cases[4][:3000], rng.randint(-500, 500, 3000).astype(np.int16)], axis=1
    )
    out, _ = decode_flac(encode_flac(st, 22050))
    assert out.shape == (3000, 2) and np.array_equal(out, st)
    # 8-bit
    s8 = rng.randint(-128, 128, 300).astype(np.int16)
    out, _ = decode_flac(encode_flac(s8, 8000, bits_per_sample=8))
    assert np.array_equal(out.astype(np.int16), s8)


def test_flac_compresses_smooth_audio():
    """The point of FLAC over WAV: smooth content must come out
    meaningfully SMALLER than raw PCM (predictors + Rice working),
    while noise stays near 1x (verbatim fallback, never blow-up)."""
    import numpy as np

    from github_etl_spark.multimodal.flac import encode_flac

    smooth = (np.sin(np.arange(8000) * 0.05) * 20000).astype(np.int16)
    assert len(encode_flac(smooth, 8000)) < 0.5 * smooth.nbytes
    rng = np.random.RandomState(4)
    noise = rng.randint(-32768, 32768, 8000).astype(np.int16)
    assert len(encode_flac(noise, 8000)) < 1.1 * noise.nbytes


def test_flac_golden_structure():
    """Serialized stream must be spec-shaped: fLaC magic, a last-flag
    STREAMINFO of 34 bytes carrying rate/channels/bps/total and the
    MD5 of the unencoded audio, then frames starting with the 14-bit
    sync code."""
    import hashlib

    import numpy as np

    from github_etl_spark.multimodal.flac import encode_flac

    s = np.arange(100, dtype=np.int16) * 5
    b = encode_flac(s, sample_rate=12000)
    assert b[:4] == b"fLaC"
    assert b[4] == 0x80  # last metadata block, type 0 (STREAMINFO)
    assert int.from_bytes(b[5:8], "big") == 34
    info = b[8:42]
    assert int.from_bytes(info[0:2], "big") == 100  # min blocksize
    rate = int.from_bytes(info[10:13], "big") >> 4
    assert rate == 12000
    assert info[18:34] == hashlib.md5(s.astype("<i2").tobytes()).digest()
    assert b[42] == 0xFF and (b[43] & 0xFC) == 0xF8  # frame sync


def _flac_one_frame_stream(expected, sample_rate, ch_code, write_subframes):
    """Hand-assemble a single-frame FLAC stream around caller-written
    subframes — the harness that lets tests drive decoder features the
    encoder never emits (LPC, mid/side, rice2, partitions, wasted
    bits, escapes)."""
    import hashlib
    import struct

    import numpy as np

    from github_etl_spark.multimodal import flac as FL
    from github_etl_spark.multimodal.bitio import BitWriter

    expected = np.asarray(expected)
    if expected.ndim == 1:
        expected = expected[:, None]
    n, nch = expected.shape
    info = BitWriter()
    info.write(n, 16)
    info.write(n, 16)
    info.write(0, 24)
    info.write(0, 24)
    info.write(sample_rate, 20)
    info.write(nch - 1, 3)
    info.write(15, 5)  # 16 bps
    info.write(n, 36)
    md5 = hashlib.md5(expected.astype("<i2").tobytes()).digest()
    out = bytearray(b"fLaC") + bytes([0x80]) + (34).to_bytes(3, "big")
    out += info.getvalue() + md5
    hdr = BitWriter()
    hdr.write(0b11111111111110, 14)
    hdr.write(0, 1)
    hdr.write(0, 1)
    hdr.write(0b0111, 4)  # 16-bit blocksize-1 follows
    hdr.write(0b1101, 4)  # 16-bit sample rate follows
    hdr.write(ch_code, 4)
    hdr.write(0b100, 3)  # 16 bps
    hdr.write(0, 1)
    hb = bytearray(hdr.getvalue()) + bytes([0])  # frame number 0
    hb += struct.pack(">H", n - 1) + struct.pack(">H", sample_rate)
    hb.append(FL._crc8(bytes(hb)))
    body = BitWriter()
    write_subframes(body)
    frame = bytes(hb) + body.getvalue()
    frame += struct.pack(">H", FL._crc16(frame))
    return bytes(out) + frame


def _write_verbatim(bw, samples, bps):
    bw.write(0, 1)
    bw.write(0b000001, 6)
    bw.write(0, 1)
    for v in samples:
        bw.write(int(v) & ((1 << bps) - 1), bps)


def _flac_lpc_stream():
    """Valid single-frame stream with an order-2 LPC subframe
    (s[i] = ((3*s[i-1] - 2*s[i-2]) >> 1) + res) plus its expected
    samples; shared by the decode test and the fuzz gate."""
    import numpy as np

    warm = [100, 160]
    res = [3, -5, 0, 7, -2, 1, 4, -8, 2, 0]
    s = list(warm)
    for r in res:
        s.append(((3 * s[-1] - 2 * s[-2]) >> 1) + r)
    expected = np.array(s, dtype=np.int16)

    def subframes(bw):
        bw.write(0, 1)
        bw.write(0b100000 | 1, 6)  # LPC, order 2 (order-1 = 1)
        bw.write(0, 1)  # no wasted bits
        for v in warm:
            bw.write(v & 0xFFFF, 16)
        bw.write(14, 4)  # precision-1 = 14 -> 15-bit coefficients
        bw.write(1, 5)  # shift = 1
        bw.write(3 & 0x7FFF, 15)
        bw.write(-2 & 0x7FFF, 15)
        bw.write(0b00, 2)  # rice method 0
        bw.write(0, 4)  # partition order 0
        bw.write(2, 4)  # rice param 2
        for r in res:
            u = 2 * r if r >= 0 else -2 * r - 1
            bw.write_unary(u >> 2)
            bw.write(u & 3, 2)

    return _flac_one_frame_stream(expected, 8000, 0, subframes)


def test_flac_decodes_lpc_subframes():
    """LPC (the subframe type real encoders emit most) — hand-written
    order-2 LPC with shift: s[i] = ((3*s[i-1] - 2*s[i-2]) >> 1) + res."""
    import numpy as np

    from github_etl_spark.multimodal.flac import decode_flac

    warm = [100, 160]
    res = [3, -5, 0, 7, -2, 1, 4, -8, 2, 0]
    s = list(warm)
    for r in res:
        s.append(((3 * s[-1] - 2 * s[-2]) >> 1) + r)
    expected = np.array(s, dtype=np.int16)

    out, sr = decode_flac(_flac_lpc_stream())
    assert sr == 8000
    assert np.array_equal(out, expected)


def test_flac_lpc_overflow_raises_valueerror():
    """A CRC-valid order-32 LPC subframe with max 15-bit coefficients,
    shift 0 and full-scale warmups explodes the recurrence past int64
    within one step; prediction must accumulate in Python ints and
    raise ValueError (the quarantine contract), never OverflowError on
    the int64 store or a silent np.int64 wrap."""
    import numpy as np
    import pytest

    from github_etl_spark.multimodal.flac import decode_flac

    n, order = 64, 32

    def subframes(bw):
        bw.write(0, 1)
        bw.write(0b100000 | (order - 1), 6)
        bw.write(0, 1)  # no wasted bits
        for _ in range(order):
            bw.write(32767, 16)
        bw.write(14, 4)  # 15-bit coefficients
        bw.write(0, 5)  # shift 0
        for _ in range(order):
            bw.write(16383, 15)  # max positive coefficient
        bw.write(0b00, 2)  # rice method 0
        bw.write(0, 4)  # partition order 0
        bw.write(0, 4)  # rice param 0
        for _ in range(n - order):
            bw.write_unary(0)  # residual 0

    stream = _flac_one_frame_stream(
        np.zeros(n, dtype=np.int16), 8000, 0, subframes
    )
    with pytest.raises(ValueError, match="plausible range"):
        decode_flac(stream)


def test_flac_fixed_overflow_raises_valueerror():
    """The FIXED path has the sibling hazard (np.int64 silently wraps):
    an alternating full-scale warmup under the order-4 predictor grows
    ~4x per sample and must trip the plausible-range ValueError."""
    import numpy as np
    import pytest

    from github_etl_spark.multimodal.flac import decode_flac

    n, order = 64, 4
    warm = [32767, -32768, 32767, -32768]

    def subframes(bw):
        bw.write(0, 1)
        bw.write(0b001000 | order, 6)  # FIXED order 4
        bw.write(0, 1)  # no wasted bits
        for v in warm:
            bw.write(v & 0xFFFF, 16)
        bw.write(0b00, 2)  # rice method 0
        bw.write(0, 4)  # partition order 0
        bw.write(0, 4)  # rice param 0
        for _ in range(n - order):
            bw.write_unary(0)  # residual 0

    stream = _flac_one_frame_stream(
        np.zeros(n, dtype=np.int16), 8000, 0, subframes
    )
    with pytest.raises(ValueError, match="plausible range"):
        decode_flac(stream)


def test_jpeg_rejects_giant_frame_over_tiny_payload():
    """A SOF0 rewritten to 65535x65535 over a tiny entropy payload
    must raise ValueError before the multi-GB coefficient/plane
    allocations (MemoryError would escape the quarantine contract)."""
    import struct

    import numpy as np
    import pytest

    from github_etl_spark.multimodal.jpeg import decode_jpeg, encode_jpeg

    good = bytearray(encode_jpeg(np.zeros((8, 8, 3), dtype=np.uint8)))
    sof = good.find(b"\xff\xc0")
    assert sof >= 0
    struct.pack_into(">HH", good, sof + 5, 65535, 65535)
    with pytest.raises(ValueError, match="blocks"):
        decode_jpeg(bytes(good))


def test_flac_decodes_stereo_decorrelation_modes():
    """left/side, right/side and mid/side channel assignments must all
    reconstruct the same L/R audio (side channel carries bps+1 bits)."""
    import numpy as np

    from github_etl_spark.multimodal.flac import decode_flac

    L = np.array([100, -200, 300, 32767, -32768, 0, 7, -9], dtype=np.int64)
    R = np.array([90, -210, 280, 32760, -32700, 5, -7, 9], dtype=np.int64)
    side = L - R
    mid = (L + R) >> 1
    expected = np.stack([L, R], axis=1).astype(np.int16)

    def make(ch_code, first, first_bps, second, second_bps):
        def subframes(bw):
            _write_verbatim(bw, first, first_bps)
            _write_verbatim(bw, second, second_bps)

        return _flac_one_frame_stream(expected, 16000, ch_code, subframes)

    for stream in (
        make(0b1000, L, 16, side, 17),  # left/side
        make(0b1001, side, 17, R, 16),  # right/side (side is FIRST)
        make(0b1010, mid, 16, side, 17),  # mid/side
    ):
        out, _ = decode_flac(stream)
        assert np.array_equal(out, expected)


def test_flac_decodes_rice2_partitions_escapes_and_wasted_bits():
    """The residual-coding corners: 5-bit rice2 params, partition
    order > 0, the escape code (raw fixed-width residuals), and
    wasted-bits shifting."""
    import numpy as np

    from github_etl_spark.multimodal.flac import decode_flac

    # 8 samples, FIXED order 0 (residual == samples), partition order 1
    vals = [5, -3, 2, 0, 1000, -1017, 333, -41]
    expected = np.array(vals, dtype=np.int16)

    def subframes(bw):
        bw.write(0, 1)
        bw.write(0b001000, 6)  # FIXED order 0
        bw.write(0, 1)
        bw.write(0b01, 2)  # rice2: 5-bit params
        bw.write(1, 4)  # partition order 1 -> two partitions of 4
        bw.write(1, 5)  # partition 0: rice param 1
        for r in vals[:4]:
            u = 2 * r if r >= 0 else -2 * r - 1
            bw.write_unary(u >> 1)
            bw.write(u & 1, 1)
        bw.write(31, 5)  # partition 1: ESCAPE
        bw.write(12, 5)  # 12-bit raw residuals
        for r in vals[4:]:
            bw.write(r & 0xFFF, 12)

    out, _ = decode_flac(_flac_one_frame_stream(expected, 8000, 0, subframes))
    assert np.array_equal(out, expected)

    # wasted bits: CONSTANT subframe of 50 at bps-2, wasted=2 -> 200
    expected2 = np.full(6, 200, dtype=np.int16)

    def subframes2(bw):
        bw.write(0, 1)
        bw.write(0b000000, 6)  # CONSTANT
        bw.write(1, 1)  # wasted-bits flag
        bw.write_unary(1)  # k-1 = 1 -> k = 2
        bw.write(50 & 0x3FFF, 14)  # bps - 2 bits

    out, _ = decode_flac(_flac_one_frame_stream(expected2, 8000, 0, subframes2))
    assert np.array_equal(out, expected2)


def test_flac_coded_number_boundaries_and_many_frames():
    """Regression: the UTF-8-style coded number must roundtrip at every
    byte-length boundary (the capacity formula was wrong for values >=
    2048, silently corrupting streams past 2048 frames), and a stream
    with thousands of frames must decode bit-exactly."""
    import numpy as np

    from github_etl_spark.multimodal import flac as FL
    from github_etl_spark.multimodal.bitio import BitReader

    for v in (0, 127, 128, 2047, 2048, 16383, 16384, 65535,
              1 << 20, (1 << 31) + 7, (1 << 36) - 1):
        b = FL._utf8_code(v)
        assert FL._read_utf8_code(BitReader(b)) == v, v
    # 2100 frames (shrunken blocksize so the test stays fast): frame
    # numbers cross the 1-, 2- and 3-byte coded-number boundaries
    old = FL._BLOCKSIZE
    FL._BLOCKSIZE = 32
    try:
        s = (np.sin(np.arange(32 * 2100) * 0.01) * 10000).astype(np.int16)
        out, _ = FL.decode_flac(FL.encode_flac(s, 8000))
        assert np.array_equal(out, s)
    finally:
        FL._BLOCKSIZE = old


def test_flac_high_sample_rates_and_short_stream_streaminfo():
    """Regression: rates above 65535 Hz must encode via the tens-of-Hz
    frame-header form (struct.error escaped the ValueError contract
    before), and STREAMINFO must never declare a block size below the
    spec floor of 16 even for shorter streams."""
    import numpy as np
    import pytest

    from github_etl_spark.multimodal.flac import decode_flac, encode_flac

    for rate in (88200, 96000, 176400, 192000, 655350):
        out, sr = decode_flac(encode_flac(np.arange(50, dtype=np.int16), rate))
        assert sr == rate
    with pytest.raises(ValueError, match="multiple of 10"):
        encode_flac(np.arange(5, dtype=np.int16), 65537)
    b = encode_flac(np.arange(10, dtype=np.int16), 8000)
    assert int.from_bytes(b[8:10], "big") == 16  # STREAMINFO min blocksize
    assert int.from_bytes(b[10:12], "big") == 16
    out, _ = decode_flac(b)
    assert np.array_equal(out, np.arange(10, dtype=np.int16))


def test_flac_malformed_raises():
    """Corruption at every verification layer must raise ValueError:
    magic, STREAMINFO size, header CRC-8, frame CRC-16, stream MD5,
    truncation, unknown-length streams."""
    import numpy as np
    import pytest

    from github_etl_spark.multimodal.flac import decode_flac, encode_flac

    s = (np.sin(np.arange(400) * 0.1) * 9000).astype(np.int16)
    good = bytearray(encode_flac(s, 8000))

    with pytest.raises(ValueError):
        decode_flac(b"")
    with pytest.raises(ValueError, match="fLaC"):
        decode_flac(b"OggS" + bytes(good[4:]))
    # header CRC-8: flip a frame-header byte (sample-rate field)
    bad = bytearray(good)
    bad[48] ^= 0xFF
    with pytest.raises(ValueError):
        decode_flac(bytes(bad))
    # frame CRC-16: flip the final footer byte
    bad = bytearray(good)
    bad[-1] ^= 0x55
    with pytest.raises(ValueError):
        decode_flac(bytes(bad))
    # MD5: corrupt the stored digest (frame CRCs still pass)
    bad = bytearray(good)
    bad[30] ^= 0x01
    with pytest.raises(ValueError, match="MD5"):
        decode_flac(bytes(bad))
    # truncation mid-frame
    with pytest.raises(ValueError):
        decode_flac(bytes(good[:-10]))
    # unknown-length stream (total=0) with frames present: the 36-bit
    # total occupies the low 4 bits of STREAMINFO byte 13 plus bytes
    # 14-17 (file offsets 21-25)
    bad = bytearray(good)
    bad[21] &= 0xF0
    bad[22:26] = b"\x00\x00\x00\x00"
    with pytest.raises(ValueError, match="unknown total length"):
        decode_flac(bytes(bad))


def test_mjpeg_avi_roundtrip_exact_and_lossy():
    """Compressed VIDEO: block-constant grayscale frame stacks in the
    DC-quant-8 regime roundtrip bit-exactly through the AVI container
    + per-frame JPEG; general RGB content stays within the JPEG
    tolerance; fps survives the strh scale/rate encoding."""
    import numpy as np

    from github_etl_spark.multimodal.jpeg import DC8_QTABLE
    from github_etl_spark.multimodal.mjpeg import (
        decode_mjpeg_avi,
        encode_mjpeg_avi,
    )

    rng = np.random.RandomState(6)
    vals = rng.randint(0, 256, (4, 2, 3)).astype(np.uint8)
    frames = np.repeat(np.repeat(vals, 8, axis=1), 8, axis=2)
    out, fps = decode_mjpeg_avi(
        encode_mjpeg_avi(frames, fps=12, qtables=(DC8_QTABLE, DC8_QTABLE))
    )
    assert fps == 12
    assert out.shape == (4, 16, 24, 1)
    assert np.array_equal(out[:, :, :, 0], frames)

    yy, xx = np.mgrid[0:16, 0:24]
    f0 = np.stack([yy * 5 % 256, xx * 3 % 256, (yy + xx) * 2 % 256], axis=2)
    stack = np.stack([f0, 255 - f0]).astype(np.uint8)
    out, _ = decode_mjpeg_avi(encode_mjpeg_avi(stack, quality=92))
    assert out.shape == (2, 16, 24, 3)
    assert np.abs(out.astype(int) - stack.astype(int)).max() <= 8


def test_mjpeg_avi_golden_structure():
    """The container must be a spec-shaped RIFF AVI: RIFF/'AVI '
    signature, an hdrl LIST whose avih declares the frame count and
    geometry, an MJPG vids strh, and one even-padded 00dc chunk per
    frame, each a standalone baseline JPEG."""
    import struct

    import numpy as np

    from github_etl_spark.multimodal.jpeg import decode_jpeg
    from github_etl_spark.multimodal.mjpeg import encode_mjpeg_avi

    frames = np.zeros((3, 8, 16), dtype=np.uint8)
    b = encode_mjpeg_avi(frames, fps=10)
    assert b[:4] == b"RIFF" and b[8:12] == b"AVI "
    (riff_size,) = struct.unpack_from("<I", b, 4)
    assert 8 + riff_size == len(b)
    avih_at = b.find(b"avih")
    vals = struct.unpack_from("<10I", b, avih_at + 8)
    assert vals[0] == 100000  # microseconds per frame at 10 fps
    assert vals[4] == 3 and (vals[8], vals[9]) == (16, 8)
    strh_at = b.find(b"strh")
    assert b[strh_at + 8 : strh_at + 16] == b"vidsMJPG"
    # every 00dc payload is independently a decodable JPEG
    pos, n_frames = 0, 0
    while True:
        pos = b.find(b"00dc", pos)
        if pos < 0:
            break
        (size,) = struct.unpack_from("<I", b, pos + 4)
        px = decode_jpeg(b[pos + 8 : pos + 8 + size])
        assert px.shape == (8, 16, 1)
        n_frames += 1
        pos += 8 + size
    assert n_frames == 3


def test_mjpeg_avi_malformed_raises():
    """Container-level corruption must raise ValueError: wrong
    signature, a non-MJPG video handler, an avih frame count that
    disagrees with the movi payloads, and frame dimensions that
    disagree with the header."""
    import struct

    import numpy as np
    import pytest

    from github_etl_spark.multimodal.mjpeg import (
        decode_mjpeg_avi,
        encode_mjpeg_avi,
    )

    frames = np.full((2, 8, 8), 60, dtype=np.uint8)
    good = bytearray(encode_mjpeg_avi(frames))

    with pytest.raises(ValueError):
        decode_mjpeg_avi(b"")
    with pytest.raises(ValueError, match="RIFF"):
        decode_mjpeg_avi(b"FORM" + bytes(good[4:]))
    # swap the stream handler to a different codec fourcc
    h = good.find(b"vidsMJPG")
    bad = bytearray(good)
    bad[h + 4 : h + 8] = b"H264"
    with pytest.raises(ValueError, match="not MJPG"):
        decode_mjpeg_avi(bytes(bad))
    # declare 3 frames while movi carries 2
    avih_at = good.find(b"avih")
    bad = bytearray(good)
    struct.pack_into("<I", bad, avih_at + 8 + 16, 3)
    with pytest.raises(ValueError, match="declares 3 frames"):
        decode_mjpeg_avi(bytes(bad))
    # declare 9x9 geometry while frames are 8x8
    bad = bytearray(good)
    struct.pack_into("<II", bad, avih_at + 8 + 32, 9, 9)
    with pytest.raises(ValueError, match="header says"):
        decode_mjpeg_avi(bytes(bad))


def test_mjpeg_avi_interleaved_and_multistream():
    """Regression for the container slice: frames wrapped in 'rec '
    LISTs (interleaved DirectShow files) must decode; a SECONDARY
    non-MJPG stream after the MJPG video stream must be ignored, and
    its NNdc chunks must not leak into the frame stack."""
    import struct

    import numpy as np

    from github_etl_spark.multimodal.jpeg import DC8_QTABLE, encode_jpeg
    from github_etl_spark.multimodal.mjpeg import (
        _chunk,
        decode_mjpeg_avi,
        encode_mjpeg_avi,
    )

    vals = np.array([[[1, 2]], [[3, 4]]], dtype=np.uint8)
    frames = np.repeat(np.repeat(vals, 8, axis=1), 8, axis=2)
    good = encode_mjpeg_avi(frames, fps=10, qtables=(DC8_QTABLE, DC8_QTABLE))

    # rebuild the same file with 'rec '-wrapped frame chunks and a
    # second (audio-ish) stream whose strh is NOT vids
    payloads = [
        encode_jpeg(f, qtables=(DC8_QTABLE, DC8_QTABLE)) for f in frames
    ]
    avih_at = good.find(b"avih")
    (avih_size,) = struct.unpack_from("<I", good, avih_at + 4)
    avih = good[avih_at + 8 : avih_at + 8 + avih_size]
    strh_at = good.find(b"strh")
    (strh_size,) = struct.unpack_from("<I", good, strh_at + 4)
    strh = good[strh_at + 8 : strh_at + 8 + strh_size]
    strf_at = good.find(b"strf")
    (strf_size,) = struct.unpack_from("<I", good, strf_at + 4)
    strf = good[strf_at + 8 : strf_at + 8 + strf_size]
    strl0 = _chunk(b"LIST", b"strl" + _chunk(b"strh", strh) + _chunk(b"strf", strf))
    aud_strh = b"auds" + b"\x00" * 4 + strh[8:]
    strl1 = _chunk(b"LIST", b"strl" + _chunk(b"strh", aud_strh) + _chunk(b"strf", b"\x00" * 16))
    hdrl = _chunk(b"LIST", b"hdrl" + _chunk(b"avih", avih) + strl0 + strl1)
    movi_body = b"movi"
    for p in payloads:
        rec = _chunk(b"00dc", p) + _chunk(b"01wb", b"\x01\x02")
        movi_body += _chunk(b"LIST", b"rec " + rec)
    avi = _chunk(b"RIFF", b"AVI " + hdrl + _chunk(b"LIST", movi_body))
    out, fps = decode_mjpeg_avi(avi)
    assert fps == 10
    assert np.array_equal(out[:, :, :, 0], frames)

    # a second VIDEO stream that is not MJPG: ignored (first one wins),
    # and its 01dc chunks don't join the frame stack
    vid2_strh = b"vids" + b"H264" + strh[8:]
    strl2 = _chunk(b"LIST", b"strl" + _chunk(b"strh", vid2_strh) + _chunk(b"strf", strf))
    hdrl2 = _chunk(b"LIST", b"hdrl" + _chunk(b"avih", avih) + strl0 + strl2)
    movi2 = b"movi"
    for p in payloads:
        movi2 += _chunk(b"00dc", p) + _chunk(b"01dc", b"\xff\xd8junk")
    avi2 = _chunk(b"RIFF", b"AVI " + hdrl2 + _chunk(b"LIST", movi2))
    out2, _ = decode_mjpeg_avi(avi2)
    assert out2.shape[0] == 2
    assert np.array_equal(out2[:, :, :, 0], frames)


def test_mjpeg_frames_to_bmp_bridges_to_image_pipeline(spark):
    """Compressed video -> image bridge: sampled AVI frames become
    real BMPs whose pixels match the source frames exactly (DC8
    regime), RGB frames pass through 3-channel, and the outputs feed
    image_features; corrupt clips quarantine as frame_index=-1."""
    import numpy as np

    from github_etl_spark.multimodal.jpeg import DC8_QTABLE
    from github_etl_spark.multimodal.media import (
        decode_bmp24,
        image_features,
        mjpeg_frames_to_bmp,
    )
    from github_etl_spark.multimodal.mjpeg import encode_mjpeg_avi

    vals = np.array([[[10, 20]], [[30, 40]], [[50, 60]]], dtype=np.uint8)
    frames = np.repeat(np.repeat(vals, 8, axis=1), 8, axis=2)
    media = spark.createDataFrame(
        [
            (1, bytearray(encode_mjpeg_avi(frames, qtables=(DC8_QTABLE, DC8_QTABLE)))),
            (2, bytearray(b"bad")),
        ],
        "media_id long, content binary",
    )
    out = mjpeg_frames_to_bmp(media, every_n=2).collect()
    ok = sorted(
        [r for r in out if r["media_id"] == 1], key=lambda r: r["frame_index"]
    )
    assert [r["frame_index"] for r in ok] == [0, 2]  # every_n=2 sampling
    for r, fi in zip(ok, (0, 2)):
        px = decode_bmp24(bytes(r["content"]))
        assert np.array_equal(px[:, :, 0], frames[fi])
        assert np.array_equal(px[:, :, 0], px[:, :, 2])  # gray -> RGB
    bad = [r for r in out if r["media_id"] == 2]
    assert bad[0]["frame_index"] == -1 and bad[0]["decode_error"] is not None
    # the bridge output feeds the ANN featurizer directly
    bmps = spark.createDataFrame(
        [(r["frame_index"], r["content"]) for r in ok],
        "media_id long, content binary",
    )
    feats = {r["media_id"]: r for r in image_features(bmps, dim=4).collect()}
    assert all(f["decode_error"] is None and len(f["features"]) == 4
               for f in feats.values())


def test_mjpeg_frame_stats_fan_out_and_quarantine(spark):
    import numpy as np

    from github_etl_spark.multimodal.jpeg import DC8_QTABLE
    from github_etl_spark.multimodal.media import mjpeg_frame_stats
    from github_etl_spark.multimodal.mjpeg import encode_mjpeg_avi

    vals = np.array([[[10, 20]], [[30, 40]]], dtype=np.uint8)  # 2 frames 1x2
    frames = np.repeat(np.repeat(vals, 8, axis=1), 8, axis=2)
    media = spark.createDataFrame(
        [
            (1, bytearray(encode_mjpeg_avi(frames, qtables=(DC8_QTABLE, DC8_QTABLE)))),
            (2, bytearray(b"junk")),
        ],
        "media_id long, content binary",
    )
    rows = mjpeg_frame_stats(media).collect()
    ok = sorted(
        [r for r in rows if r["media_id"] == 1], key=lambda r: r["frame_index"]
    )
    assert [r["first_pixel"] for r in ok] == [10, 30]
    assert [r["mean_value"] for r in ok] == [15.0, 35.0]
    assert all(r["width"] == 16 and r["height"] == 8 for r in ok)
    bad = [r for r in rows if r["media_id"] == 2]
    assert len(bad) == 1 and bad[0]["decode_error"] is not None


def test_image_features_are_format_blind(spark):
    """image_features sniffs every real image format; lossless formats
    carrying the SAME pixels must produce IDENTICAL feature vectors
    (the featurizer depends on pixels, not container), corrupt
    payloads quarantine, and the output feeds brute_force_topk."""
    import numpy as np

    from github_etl_spark.multimodal.jpeg import DC8_QTABLE, encode_jpeg
    from github_etl_spark.multimodal.media import (
        encode_bmp24,
        encode_png,
        encode_qoi,
        image_features,
    )

    rng = np.random.RandomState(21)
    rgb = rng.randint(0, 256, (8, 8, 3)).astype(np.uint8)
    # block-constant gray in the exact regime -> jpeg pixels == source
    vals = rng.randint(0, 256, (1, 2)).astype(np.uint8)
    gray = np.repeat(np.repeat(vals, 8, axis=0), 8, axis=1)
    gray3 = np.repeat(gray[:, :, None], 3, axis=2)
    media = spark.createDataFrame(
        [
            (1, bytearray(encode_bmp24(rgb))),
            (2, bytearray(encode_png(rgb))),
            (3, bytearray(encode_qoi(rgb))),
            (4, bytearray(encode_jpeg(gray, qtables=(DC8_QTABLE, DC8_QTABLE)))),
            (5, bytearray(encode_bmp24(gray3))),
            (6, bytearray(b"???")),
        ],
        "media_id long, content binary",
    )
    rows = {r["media_id"]: r for r in image_features(media, dim=8).collect()}
    f_bmp, f_png, f_qoi = (np.array(rows[i]["features"]) for i in (1, 2, 3))
    assert np.array_equal(f_bmp, f_png) and np.array_equal(f_bmp, f_qoi)
    # exact-regime jpeg of the same pixels == the bmp of those pixels
    assert np.array_equal(
        np.array(rows[4]["features"]), np.array(rows[5]["features"])
    )
    assert rows[6]["features"] is None and rows[6]["decode_error"] is not None
    # vectors are L2-normalized and ANN-shaped
    assert abs(float(np.linalg.norm(f_bmp)) - 1.0) < 1e-5


def test_transcode_audio_normalizes_mixed_corpus(spark):
    """The audio front door: PCM WAV, mu-law WAV and FLAC payloads
    side by side all normalize to either target with sample values
    preserved exactly; stereo survives; corrupt payloads quarantine;
    and FLAC output feeds resample_wav via the WAV target."""
    import numpy as np

    from github_etl_spark.multimodal.flac import decode_flac, encode_flac
    from github_etl_spark.multimodal.media import (
        decode_wav16,
        encode_wav16,
        encode_wav_mulaw,
        mulaw_decode,
        resample_wav,
        transcode_audio,
    )

    pcm = (np.arange(60, dtype=np.int32) * 500 - 15000).astype(np.int16)
    # mu-law source: synthesize ON the codebook so expansion is exact
    mu = mulaw_decode(np.arange(40, dtype=np.uint8) * 6)
    st = np.stack([pcm[:30], pcm[30:]], axis=1)
    media = spark.createDataFrame(
        [
            (1, bytearray(encode_wav16(pcm, 8000))),
            (2, bytearray(encode_wav_mulaw(mu))),
            (3, bytearray(encode_flac(pcm, 16000))),
            (4, bytearray(encode_flac(st, 8000))),
            (5, bytearray(b"\x00garbage")),
            (6, None),
        ],
        "media_id long, content binary",
    )
    to_wav = {r["media_id"]: r for r in transcode_audio(media, "wav").collect()}
    assert to_wav[1]["src_format"] == "wav"
    assert to_wav[2]["src_format"] == "wav"  # mu-law is a WAV container
    assert to_wav[3]["src_format"] == "flac"
    arr, rate = decode_wav16(bytes(to_wav[3]["content"]))
    assert rate == 16000 and np.array_equal(arr[:, 0], pcm)
    arr2, _ = decode_wav16(bytes(to_wav[2]["content"]))
    assert np.array_equal(arr2[:, 0], mu)
    arr4, _ = decode_wav16(bytes(to_wav[4]["content"]))
    assert arr4.shape == (30, 2) and np.array_equal(arr4, st)
    assert to_wav[5]["decode_error"] is not None and to_wav[5]["content"] is None
    assert to_wav[6]["decode_error"] is not None

    to_flac = {r["media_id"]: r for r in transcode_audio(media, "flac").collect()}
    out, rate = decode_flac(bytes(to_flac[1]["content"]))
    assert rate == 8000 and np.array_equal(out, pcm)
    out4, _ = decode_flac(bytes(to_flac[4]["content"]))
    assert np.array_equal(out4, st)

    # FLAC -> wav target -> resample: the operator-chaining point
    wavs = transcode_audio(media, "wav").select("media_id", "content")
    res = {r["media_id"]: r for r in resample_wav(wavs.where("media_id = 3"), 8000).collect()}
    assert res[3]["decode_error"] is None and res[3]["n_samples"] == 30

    import pytest

    with pytest.raises(ValueError, match="target"):
        transcode_audio(media, "mp3")


def test_flac_decode_stats_quarantines_bad_payloads(spark):
    import numpy as np

    from github_etl_spark.multimodal.flac import encode_flac
    from github_etl_spark.multimodal.media import flac_decode_stats

    s = np.arange(50, dtype=np.int16) * 100
    media = spark.createDataFrame(
        [
            (1, bytearray(encode_flac(s, 16000))),
            (2, bytearray(b"not flac")),
            (3, None),
        ],
        "media_id long, content binary",
    )
    rows = {r["media_id"]: r for r in flac_decode_stats(media).collect()}
    assert rows[1]["decode_error"] is None
    assert rows[1]["n_samples"] == 50 and rows[1]["sample_rate"] == 16000
    assert rows[1]["first_sample"] == 0 and rows[1]["last_sample"] == 4900
    assert rows[2]["decode_error"] is not None and rows[2]["n_samples"] is None
    assert rows[3]["decode_error"] is not None


def _codec_pairs():
    import numpy as np

    from github_etl_spark.multimodal import flac as FL
    from github_etl_spark.multimodal import jpeg as J
    from github_etl_spark.multimodal import media as M
    from github_etl_spark.multimodal import mjpeg as MJ

    rgb = np.arange(36, dtype=np.uint8).reshape(3, 4, 3)
    return {
        "bmp": (M.encode_bmp24(rgb), M.decode_bmp24),
        "png": (M.encode_png(rgb), M.decode_png),
        "qoi": (M.encode_qoi(rgb), M.decode_qoi),
        "wav": (M.encode_wav16(np.arange(40, dtype=np.int16)), M.decode_wav16),
        # tag-7 G.711 file: fuzzing it is the only way corruptions and
        # truncations reach decode_wav16's mu-law expansion branch
        "mulaw": (
            M.encode_wav_mulaw(
                M.mulaw_decode(np.arange(40, dtype=np.uint8) * 6)
            ),
            M.decode_wav16,
        ),
        "y4m": (
            M.encode_y4m((np.arange(24, dtype=np.uint8)).reshape(2, 3, 4)),
            M.decode_y4m,
        ),
        "flac": (
            FL.encode_flac(
                (np.sin(np.arange(200) * 0.1) * 12000).astype(np.int16), 8000
            ),
            lambda b: FL.decode_flac(b),
        ),
        "mjpeg": (
            MJ.encode_mjpeg_avi(
                np.arange(128, dtype=np.uint8).reshape(2, 8, 8), fps=5
            ),
            MJ.decode_mjpeg_avi,
        ),
        # Hand-assembled LPC stream (the encoder only emits FIXED):
        # corrupting/truncating it is the only way fuzz trials reach
        # the LPC coefficient/shift/prediction branches, where a
        # crafted stream once drove an int64 OverflowError.
        "flac_lpc": (
            _flac_lpc_stream(),
            lambda b: FL.decode_flac(b),
        ),
        "jpeg": (
            J.encode_jpeg(
                np.arange(36, dtype=np.uint8).reshape(3, 4, 3) * 7,
                quality=80,
                subsampling="420",
                restart_interval=1,
            ),
            J.decode_jpeg,
        ),
    }


def test_all_decoders_fuzz_never_escape_valueerror():
    """Adversarial payload fuzz over EVERY real decoder: pure noise,
    random single-byte corruptions of a valid file, and truncations
    must either decode or raise ValueError — any other exception type
    (IndexError, MemoryError, struct.error, zlib.error) would escape
    the kernels' `except ValueError` quarantine contract and kill a
    whole Arrow batch at scale instead of emitting a decode_error
    row."""
    import numpy as np

    rng = np.random.RandomState(11)
    for name, (good, dec) in _codec_pairs().items():
        for trial in range(300):
            kind = trial % 3
            if kind == 0:  # pure noise
                b = rng.bytes(rng.randint(0, 100))
            elif kind == 1:  # corrupt a valid file at random positions
                ba = bytearray(good)
                for _ in range(rng.randint(1, 5)):
                    ba[rng.randint(0, len(ba))] = rng.randint(0, 256)
                b = bytes(ba)
            else:  # truncate a valid file
                b = good[: rng.randint(0, len(good))]
            try:
                dec(b)  # decoding fine is also acceptable
            except ValueError:
                pass  # the ONLY allowed failure mode
            except Exception as e:  # noqa: BLE001 — the assertion target
                raise AssertionError(
                    f"{name} decoder leaked {type(e).__name__} on "
                    f"fuzz trial {trial}: {e}"
                ) from e


def test_feature_pairs_quantize_safely():
    """Every FEATURE_PAIRS entry must quantize identically under the
    REAL float32 featurizer kernel and the oracle's double-precision
    closed form, with boundary margin > 0.02 — the contract that lets
    mm_features_ann_topk's oracle replay features as integers. Fails
    loudly if numpy/kernel arithmetic changes; re-run the margin sweep
    and re-pin the table if it ever does."""
    import math

    import numpy as np

    from github_etl_spark.multimodal.media import (
        FEATURE_PAIRS,
        _bucket_features,
    )

    assert len(FEATURE_PAIRS) == 64

    def margin(vs):
        return min(
            abs(v * 1000 + 0.5 - round(v * 1000 + 0.5)) for v in vs
        )

    for a, b in FEATURE_PAIRS:
        luma = np.concatenate(
            [np.full(64, a), np.full(64, b)]
        ).astype(np.float32)
        kv = _bucket_features(luma, 16)
        n = math.sqrt(8.0 * a * a + 8.0 * b * b)
        dv = [a / n] * 8 + [b / n] * 8
        kq = [math.floor(x * 1000 + 0.5) for x in kv]
        dq = [math.floor(x * 1000 + 0.5) for x in dv]
        assert kq == dq, (a, b, kq, dq)
        assert margin(kv) > 0.02 and margin(dv) > 0.02, (a, b)


def test_feature_image_fixture_is_format_blind(spark):
    """The four codecs in synthesize_feature_image_media carry the
    SAME pixels for a given doc pair-index, so image_features yields
    identical vectors regardless of format (doc_ids 0..3 with the
    same pair index differ only in codec)."""
    from github_etl_spark.multimodal.media import (
        image_features,
        synthesize_feature_image_media,
    )

    # doc_ids 0, 64, 128, 192: pair index 0 for all, formats 0..3.
    docs = spark.createDataFrame(
        [(0,), (64,), (128,), (192,)], "doc_id long"
    )
    feats = image_features(
        synthesize_feature_image_media(docs), dim=16
    ).collect()
    assert all(r["decode_error"] is None for r in feats)
    vecs = {r["media_id"]: r["features"] for r in feats}
    assert vecs[0] == vecs[64] == vecs[128] == vecs[192]


def test_jpeg_block_cap_is_per_component(monkeypatch):
    """The allocation cap counts blocks PER COMPONENT, not total:
    a color 4:4:4 frame whose per-component block count equals the cap
    must decode (a total-blocks cap would wrongly quarantine legitimate
    4096x4096 color baselines at the real 2**18 value).  Cap patched
    small so the pinned geometry stays cheap: 16x16 4:4:4 -> 4 MCUs,
    4 blocks/component, 12 total."""
    import numpy as np
    import pytest

    import github_etl_spark.multimodal.jpeg as jpeg_mod

    rng = np.random.default_rng(7)
    rgb = rng.integers(0, 256, (16, 16, 3), dtype=np.uint8)
    data = jpeg_mod.encode_jpeg(rgb, quality=90, subsampling="444")

    monkeypatch.setattr(jpeg_mod, "MAX_COMPONENT_BLOCKS", 4)
    assert jpeg_mod.decode_jpeg(data).shape == (16, 16, 3)

    monkeypatch.setattr(jpeg_mod, "MAX_COMPONENT_BLOCKS", 3)
    with pytest.raises(ValueError, match="blocks/component"):
        jpeg_mod.decode_jpeg(data)


# -------------------------------------------------- video front door + seam


def test_sniff_video_codec_signatures():
    import numpy as np
    import pytest

    from github_etl_spark.multimodal.media import (
        encode_y4m,
        sniff_video_codec,
    )
    from github_etl_spark.multimodal.mjpeg import encode_mjpeg_avi

    frames = np.full((2, 4, 4), 7, dtype=np.uint8)
    assert sniff_video_codec(encode_y4m(frames)) == ("y4m", "rawvideo")
    avi = encode_mjpeg_avi(frames)
    assert sniff_video_codec(avi) == ("avi", "MJPG")
    # the same container carrying an H.264 stream (fccHandler patched)
    assert sniff_video_codec(avi.replace(b"MJPG", b"H264")) == ("avi", "H264")
    mp4 = bytes.fromhex("00000014") + b"ftypavc1" + b"\x00" * 8
    assert sniff_video_codec(mp4) == ("mp4", "avc1")
    # ISO BMFF escape sizes 0 (to-EOF) and 1 (64-bit) still classify
    for esc in ("00000000", "00000001"):
        assert sniff_video_codec(
            bytes.fromhex(esc) + b"ftypisom" + b"\x00" * 8
        ) == ("mp4", "isom")
    # garbage with 'ftyp' at offset 4 but an invalid box size (< 16,
    # not an escape) is NOT an MP4
    with pytest.raises(ValueError, match="not a recognized video container"):
        sniff_video_codec(bytes.fromhex("00000008") + b"ftypavc1" + b"\x00" * 8)
    assert sniff_video_codec(b"\x1a\x45\xdf\xa3" + b"\x00" * 16) == (
        "matroska",
        "unknown",
    )
    with pytest.raises(ValueError, match="not a recognized video container"):
        sniff_video_codec(b"plainly not video")


def test_video_front_door_decodes_real_and_quarantines_h264(spark):
    """The H.264 seam contract, UNBOUND regime (interframe_decoder=
    False pins the dependency-free behavior regardless of whether
    PyAV happens to be installed): the mixed-video front door decodes
    the two real formats and quarantines every inter-frame codec
    LOUDLY, naming container+codec — the one format family the engine
    cannot decode stdlib-only fails predictably, never silently."""
    import numpy as np

    from github_etl_spark.multimodal.media import (
        encode_y4m,
        video_frame_stats,
    )
    from github_etl_spark.multimodal.mjpeg import encode_mjpeg_avi

    y4m = encode_y4m(np.full((2, 4, 4), 9, dtype=np.uint8))
    mjpg = encode_mjpeg_avi(np.full((3, 8, 8), 80, dtype=np.uint8))
    h264_avi = mjpg.replace(b"MJPG", b"H264")
    mp4 = bytes.fromhex("00000014") + b"ftypavc1" + b"\x00" * 8
    media = spark.createDataFrame(
        [(1, y4m), (2, mjpg), (3, h264_avi), (4, mp4), (5, b"garbage")],
        "media_id long, content binary",
    )
    rows = video_frame_stats(media, interframe_decoder=False).collect()
    by_id = {}
    for r in rows:
        by_id.setdefault(r["media_id"], []).append(r)

    # real formats decode: 2 Y4M frames, 3 MJPG frames, no errors
    assert [r["frame_index"] for r in by_id[1]] == [0, 1]
    assert all(r["decode_error"] is None for r in by_id[1] + by_id[2])
    assert len(by_id[2]) == 3 and by_id[2][0]["codec"] == "MJPG"
    assert by_id[1][0]["first_pixel"] == 9

    # H.264 in either container: ONE quarantine row naming the codec
    for mid, container, codec in ((3, "avi", "H264"), (4, "mp4", "avc1")):
        (q,) = by_id[mid]
        assert q["container"] == container and q["codec"] == codec
        assert q["frame_index"] is None and q["mean_value"] is None
        assert "unsupported video codec" in q["decode_error"]
        assert codec in q["decode_error"]
        assert "seam" in q["decode_error"]

    # unrecognized bytes quarantine too (sniff error, not a crash)
    (g,) = by_id[5]
    assert g["container"] is None
    assert "not a recognized video container" in g["decode_error"]


def test_video_front_door_decodes_lowercase_mjpg(spark):
    """decode_mjpeg_avi accepts b'mjpg' fccHandlers; the sniffing front
    door must route them to the decoder, not the codec quarantine."""
    import numpy as np

    from github_etl_spark.multimodal.media import video_frame_stats
    from github_etl_spark.multimodal.mjpeg import encode_mjpeg_avi

    avi = encode_mjpeg_avi(np.full((2, 8, 8), 50, dtype=np.uint8))
    low = avi.replace(b"MJPG", b"mjpg")
    media = spark.createDataFrame([(1, low)], "media_id long, content binary")
    rows = video_frame_stats(media).collect()
    assert [r["frame_index"] for r in rows] == [0, 1]
    assert all(r["decode_error"] is None for r in rows)


def test_mixed_case_mjpg_fcc_decodes(spark):
    """Router and decoder must case-fold the fccHandler the SAME way:
    a b'Mjpg' AVI decodes end-to-end instead of reaching the decoder
    and dying on an exact-spelling check."""
    import numpy as np

    from github_etl_spark.multimodal.media import video_frame_stats
    from github_etl_spark.multimodal.mjpeg import decode_mjpeg_avi, encode_mjpeg_avi

    avi = encode_mjpeg_avi(np.full((2, 8, 8), 33, dtype=np.uint8))
    mixed = avi.replace(b"MJPG", b"Mjpg")
    frames, fps = decode_mjpeg_avi(mixed)
    assert frames.shape[0] == 2
    media = spark.createDataFrame([(1, mixed)], "media_id long, content binary")
    rows = video_frame_stats(media).collect()
    assert len(rows) == 2 and all(r["decode_error"] is None for r in rows)


# ------------------------------------------------ H.264 seam, BOUND regime


def _fake_interframe_decoder(payload):
    """Deterministic stand-in for PyAV at the binding seam: returns the
    engine frame-stack contract — (n, h, w, 3) uint8 — derived from the
    payload bytes so different clips produce different stats."""
    import numpy as np

    v = (payload[-1] if payload else 0) % 251
    return np.full((2, 4, 6, 3), v, dtype=np.uint8), 25.0


def test_video_front_door_bound_decoder_decodes_h264(spark):
    """BOUND regime: an injected decoder (same callable shape PyAV
    binds) turns the former quarantine rows into real per-frame stats,
    with the SNIFFED container+codec carried through — and the Y4M /
    MJPG rows still route to the built-in codecs, not the binding."""
    import numpy as np

    from github_etl_spark.multimodal.media import (
        encode_y4m,
        video_frame_stats,
    )
    from github_etl_spark.multimodal.mjpeg import encode_mjpeg_avi

    y4m = encode_y4m(np.full((2, 4, 4), 9, dtype=np.uint8))
    h264_avi = encode_mjpeg_avi(
        np.full((3, 8, 8), 80, dtype=np.uint8)
    ).replace(b"MJPG", b"H264")
    mp4 = bytes.fromhex("00000014") + b"ftypavc1" + b"\x00" * 7 + b"\x20"
    media = spark.createDataFrame(
        [(1, y4m), (3, h264_avi), (4, mp4)],
        "media_id long, content binary",
    )
    rows = video_frame_stats(
        media, interframe_decoder=_fake_interframe_decoder
    ).collect()
    by_id = {}
    for r in rows:
        by_id.setdefault(r["media_id"], []).append(r)

    # Y4M still decodes through the built-in codec (value 9, 4x4)
    assert [r["frame_index"] for r in by_id[1]] == [0, 1]
    assert by_id[1][0]["first_pixel"] == 9 and by_id[1][0]["width"] == 4

    # inter-frame clips decode THROUGH THE SEAM: 2 frames each, the
    # fake's (h=4, w=6) geometry, value = last payload byte % 251,
    # sniffed container/codec preserved
    for mid, container, codec, val in (
        (3, "avi", "H264", h264_avi[-1] % 251),
        (4, "mp4", "avc1", 0x20),
    ):
        frs = by_id[mid]
        assert [r["frame_index"] for r in frs] == [0, 1]
        assert all(r["decode_error"] is None for r in frs)
        assert frs[0]["container"] == container and frs[0]["codec"] == codec
        assert frs[0]["width"] == 6 and frs[0]["height"] == 4
        assert frs[0]["first_pixel"] == val
        assert abs(frs[0]["mean_value"] - val) < 1e-9


def test_video_front_door_bound_decoder_failures_quarantine(spark):
    """A bound decoder that raises — or violates the frame-stack
    contract — degrades to the per-row quarantine naming the failure,
    never a task abort."""
    import numpy as np

    from github_etl_spark.multimodal.media import video_frame_stats

    mp4 = bytes.fromhex("00000014") + b"ftypavc1" + b"\x00" * 8
    media = spark.createDataFrame(
        [(1, mp4)], "media_id long, content binary"
    )

    def raising(payload):
        raise RuntimeError("codec exploded")

    (q,) = video_frame_stats(media, interframe_decoder=raising).collect()
    assert q["frame_index"] is None
    assert "bound inter-frame decoder failed" in q["decode_error"]
    assert "codec exploded" in q["decode_error"]
    assert q["container"] == "mp4" and q["codec"] == "avc1"

    def bad_contract(payload):
        return np.zeros((4, 4), dtype=np.uint8), 25.0  # 2-D: not a stack

    (q2,) = video_frame_stats(
        media, interframe_decoder=bad_contract
    ).collect()
    assert "frame-stack contract" in q2["decode_error"]


def test_resolve_interframe_decoder_matches_environment():
    """The deployment knob: resolves to the PyAV binding exactly when
    PyAV is importable, None otherwise (quarantine regime)."""
    import importlib.util

    from github_etl_spark.multimodal.media import (
        pyav_decoder,
        resolve_interframe_decoder,
    )

    resolved = resolve_interframe_decoder()
    if importlib.util.find_spec("av") is None:
        assert resolved is None
    else:
        assert resolved is pyav_decoder


def test_pyav_decoder_real_roundtrip_when_available():
    """Exercised only where PyAV is installed: encode a tiny H.264
    clip with PyAV, decode it back through the seam binding, and check
    the frame-stack contract."""
    import importlib.util
    import io

    import numpy as np
    import pytest

    if importlib.util.find_spec("av") is None:
        pytest.skip("PyAV not installed — unbound regime covered above")

    import av

    from github_etl_spark.multimodal.media import pyav_decoder

    buf = io.BytesIO()
    with av.open(buf, "w", format="mp4") as c:
        stream = c.add_stream("h264", rate=25)
        stream.width, stream.height, stream.pix_fmt = 64, 48, "yuv420p"
        for i in range(5):
            img = np.full((48, 64, 3), i * 30, dtype=np.uint8)
            frame = av.VideoFrame.from_ndarray(img, format="rgb24")
            for pkt in stream.encode(frame):
                c.mux(pkt)
        for pkt in stream.encode():
            c.mux(pkt)
    frames, fps = pyav_decoder(buf.getvalue())
    assert frames.dtype == np.uint8
    assert frames.ndim == 4 and frames.shape[0] == 5
    assert frames.shape[1:3] == (48, 64)
    assert fps == 25.0


class _FakeAvError(Exception):
    """Stands in for av.FFmpegError — pyav_decoder must wrap ANY
    non-ValueError the library throws into the quarantine shape."""


class _FakeFrame:
    def __init__(self, arr):
        self._arr = arr

    def to_ndarray(self, format):  # noqa: A002 - PyAV's own signature
        assert format == "rgb24"
        return self._arr


class _FakeStream:
    def __init__(self, average_rate):
        self.average_rate = average_rate


class _FakeContainer:
    def __init__(self, frames, average_rate, raise_on_decode=None):
        self._frames = frames
        self.streams = type(
            "S", (), {"video": [_FakeStream(average_rate)] if frames is not None else []}
        )()
        self._raise = raise_on_decode

    def __enter__(self):
        return self

    def __exit__(self, *a):
        return False

    def decode(self, stream):
        if self._raise is not None:
            raise self._raise
        yield from self._frames


@pytest.fixture
def fake_av(monkeypatch):
    """Install a minimal fake `av` module (sys.modules) so
    pyav_decoder's REAL body — open/stream-probe/decode-loop/
    frame-stack assembly — executes in the dependency-free tree (the
    one code path the r11 verdict flagged as never run here). The
    per-test container is set via `fake_av.container`."""
    import sys
    import types

    mod = types.ModuleType("av")
    mod.container = None

    def _open(fileobj):
        assert fileobj.read(4) is not None  # a real file-like came in
        fileobj.seek(0)
        return mod.container

    mod.open = _open
    monkeypatch.setitem(sys.modules, "av", mod)
    return mod


def test_pyav_decoder_body_with_fake_av(fake_av):
    """Happy path through pyav_decoder's own frame-stack assembly:
    known frames come back as one (n, h, w, 3) uint8 stack with the
    stream's fps."""
    import numpy as np

    from github_etl_spark.multimodal.media import pyav_decoder

    frames = [
        _FakeFrame(np.full((4, 6, 3), i * 40, dtype=np.uint8))
        for i in range(3)
    ]
    from fractions import Fraction

    fake_av.container = _FakeContainer(frames, Fraction(30000, 1001))
    stack, fps = pyav_decoder(b"\x00" * 32)
    assert stack.shape == (3, 4, 6, 3) and stack.dtype == np.uint8
    assert (stack[2] == 80).all()
    assert abs(fps - 30000 / 1001) < 1e-9


def test_pyav_decoder_fake_av_failure_modes(fake_av):
    """The three quarantine-shaped failures, through the real body:
    no video stream, library exception (wrapped), zero frames."""
    import pytest as _pytest

    from github_etl_spark.multimodal.media import pyav_decoder

    fake_av.container = _FakeContainer(None, None)
    with _pytest.raises(ValueError, match="no video stream"):
        pyav_decoder(b"\x00" * 8)

    fake_av.container = _FakeContainer(
        [], 25.0, raise_on_decode=_FakeAvError("bitstream corrupt")
    )
    with _pytest.raises(ValueError, match="PyAV decode failed.*bitstream"):
        pyav_decoder(b"\x00" * 8)

    fake_av.container = _FakeContainer([], 25.0)
    with _pytest.raises(ValueError, match="no decodable video frames"):
        pyav_decoder(b"\x00" * 8)


def test_resolve_interframe_decoder_binds_fake_av(fake_av):
    """With (a fake) `av` importable the deployment knob resolves to
    the real binding — the both-ways environment test's other arm, now
    exercised even where PyAV is absent."""
    from github_etl_spark.multimodal.media import (
        pyav_decoder,
        resolve_interframe_decoder,
    )

    assert resolve_interframe_decoder() is pyav_decoder


# ------------------------------------------ encoder seam (fake torch)


class _FakeTensor:
    def __init__(self, arr):
        self._arr = arr

    def numpy(self):
        return self._arr


class _FakeLinearModel:
    """Deterministic stand-in TorchScript module: out = pre @ W.T."""

    def __init__(self, w):
        self.w = w
        self.evaled = False

    def eval(self):
        self.evaled = True

    def __call__(self, tensor):
        return _FakeTensor(tensor.numpy() @ self.w.T)


class _FakeBadShapeModel:
    def eval(self):
        pass

    def __call__(self, tensor):
        return _FakeTensor(tensor.numpy().reshape(-1))


@pytest.fixture
def fake_torch(monkeypatch):
    """Install a minimal fake `torch` (sys.modules) so
    torch_feature_encoder's REAL body — jit.load, eval, no_grad,
    from_numpy round-trip, shape validation, L2 normalization —
    executes in the dependency-free tree (the r12 verdict's encoder
    item: the PyAV fake-module treatment applied to the model seam).
    The per-test model is set via `fake_torch.model`."""
    import sys
    import types

    mod = types.ModuleType("torch")
    mod.model = None
    mod.from_numpy = _FakeTensor

    class _NoGrad:
        def __enter__(self):
            return None

        def __exit__(self, *a):
            return False

    mod.no_grad = _NoGrad
    jit = types.ModuleType("torch.jit")

    def _load(path):
        assert isinstance(path, str) and path
        return mod.model

    jit.load = _load
    mod.jit = jit
    monkeypatch.setitem(sys.modules, "torch", mod)
    monkeypatch.setitem(sys.modules, "torch.jit", jit)
    return mod


def test_torch_encoder_body_with_fake_torch(fake_torch):
    """Happy path through torch_feature_encoder's own batch-infer
    body: known linear weights come back as the L2-normalized matrix
    product, eval() was called, zero rows round-trip."""
    from github_etl_spark.multimodal.media import torch_feature_encoder

    rng_w = np.array(
        [[(7 * i + 11 * j) % 5 - 2 for j in range(16)] for i in range(4)],
        dtype=np.float32,
    )
    fake_torch.model = _FakeLinearModel(rng_w)
    enc = torch_feature_encoder("/fake/model.pt")
    assert fake_torch.model.evaled
    pre = np.arange(32, dtype=np.float32).reshape(2, 16)
    out = enc(pre)
    want = pre @ rng_w.T
    want = want / np.linalg.norm(want, axis=1, keepdims=True)
    assert out.shape == (2, 4) and out.dtype == np.float32
    assert np.allclose(out, want, atol=1e-6)
    assert enc(np.zeros((0, 16), dtype=np.float32)).shape == (0, 4)


def test_torch_encoder_bad_shape_raises(fake_torch):
    from github_etl_spark.multimodal.media import torch_feature_encoder

    fake_torch.model = _FakeBadShapeModel()
    enc = torch_feature_encoder("/fake/model.pt")
    with pytest.raises(ValueError, match="encoder returned shape"):
        enc(np.ones((3, 16), dtype=np.float32))


def test_resolve_feature_encoder_probe(fake_torch, monkeypatch):
    """The deployment knob: unset → None (bucket-featurizer fallback);
    set with (fake) torch importable → a bound encoder the
    extract_features body can call."""
    from github_etl_spark.multimodal import media

    monkeypatch.delenv("SPARK_GRAFT_ENCODER_PATH", raising=False)
    assert media.resolve_feature_encoder() is None

    fake_torch.model = _FakeLinearModel(np.eye(16, dtype=np.float32))
    monkeypatch.setenv("SPARK_GRAFT_ENCODER_PATH", "/fake/model.pt")
    enc = media.resolve_feature_encoder()
    pre = np.ones((1, 16), dtype=np.float32)
    assert np.allclose(enc(pre), pre / np.linalg.norm(pre))


def test_resolve_feature_encoder_missing_torch_is_loud(monkeypatch):
    """A SET model path with torch genuinely unimportable must raise,
    not silently fall back — bucket features in a model-embedding
    index would be a quiet data corruption."""
    import builtins
    import sys

    from github_etl_spark.multimodal import media

    monkeypatch.setenv("SPARK_GRAFT_ENCODER_PATH", "/fake/model.pt")
    monkeypatch.delitem(sys.modules, "torch", raising=False)
    real_import = builtins.__import__

    def _no_torch(name, *a, **k):
        if name == "torch" or name.startswith("torch."):
            raise ImportError("No module named 'torch'")
        return real_import(name, *a, **k)

    monkeypatch.setattr(builtins, "__import__", _no_torch)
    with pytest.raises(ImportError, match="SPARK_GRAFT_ENCODER_PATH"):
        media.resolve_feature_encoder()


def test_extract_features_with_injected_encoder(spark, sf_dir):
    """The mapInPandas batch-infer path end-to-end through Spark with
    an injected deterministic encoder closure: every output vector is
    the encoder image of that row's bucket pre-features, and the
    default (no encoder) output is the pre-features themselves."""
    import numpy as _np

    from github_etl_spark.multimodal.media import _as_u8, _bucket_features

    media_df = _media(spark, sf_dir)

    def enc(pre):
        w = _np.array(
            [[1.0 if (i + j) % 3 == 0 else -0.5 for j in range(16)]
             for i in range(4)],
            dtype=_np.float32,
        )
        out = pre @ w.T
        n = _np.linalg.norm(out, axis=1, keepdims=True)
        n[n == 0.0] = 1.0
        return (out / n).astype(_np.float32)

    got = {
        r.media_id: list(r.features)
        for r in extract_features(media_df, dim=16, encoder=enc).collect()
    }
    payloads = {
        r.media_id: r.content for r in media_df.select(
            "media_id", "content"
        ).collect()
    }
    assert set(got) == set(payloads)
    for mid, content in payloads.items():
        pre = _np.asarray(
            [_bucket_features(_as_u8(content).astype(_np.float32), 16)],
            dtype=_np.float32,
        )
        want = enc(pre)[0]
        assert len(got[mid]) == 4
        assert _np.allclose(_np.array(got[mid]), want, atol=1e-5), mid
