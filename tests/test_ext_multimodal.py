"""Multimodal plumbing tests ([EXT]): binary columns + mapInPandas kernels
with stubbed codecs (FIXTURES ship no real media — derive opaque payloads
from the documents table)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from dbt_databricks_metrics_spark.ext import multimodal
from dbt_databricks_metrics_spark.sources import load_table


@pytest.fixture(scope="module")
def media(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    return multimodal.media_from_documents(docs).cache()


def test_media_schema(media):
    # names + types must match the contract; nullability is projection-
    # dependent in Spark and not part of it
    got = [(f.name, f.dataType.simpleString()) for f in media.schema.fields]
    want = [
        ("media_id", "bigint"),
        ("kind", "string"),  # image | audio | video
        ("content", "binary"),
        ("meta", "struct<mime:string,width:int,height:int,duration_ms:bigint>"),
    ]
    assert got == want
    kinds = {r["kind"] for r in media.select("kind").distinct().collect()}
    assert kinds == {"image", "audio", "video"}


def test_extract_features_shapes(media):
    feats = multimodal.extract_features(media)
    rows = feats.collect()
    assert len(rows) == media.count()
    for r in rows[:20]:
        assert len(r["feature"]) == 8
        assert all(0.0 <= x <= 1.0 for x in r["feature"])
        assert r["n_bytes"] > 0


def test_extract_features_deterministic(media):
    a = {r["media_id"]: r["feature"] for r in multimodal.extract_features(media).collect()}
    b = {r["media_id"]: r["feature"] for r in multimodal.extract_features(media).collect()}
    assert a == b


def test_features_partition_invariant(media):
    """Arrow batch boundaries must not change per-item results."""
    one = {
        r["media_id"]: r["feature"]
        for r in multimodal.extract_features(media.repartition(1)).collect()
    }
    many = {
        r["media_id"]: r["feature"]
        for r in multimodal.extract_features(media.repartition(13)).collect()
    }
    assert one == many


def test_unstubbed_decode_raises(media):
    import pytest as _pytest

    with _pytest.raises(Exception, match="NotImplementedError|stubbed|codec"):
        multimodal.extract_features(media, decode_stub=False).collect()


# ------------------------------------------------ real decode kernels (r5)


def test_decode_media_roundtrips_synthesized_containers(spark):
    """synthesize_media emits REAL BMP/WAV/PPM bytes; decode_media must
    recover the exact generation parameters from the bytes alone."""
    from dbt_databricks_metrics_spark.ext import multimodal

    docs = spark.range(30).select(F.col("id").alias("doc_id"))
    media = multimodal.synthesize_media(docs)
    got = {
        r["media_id"]: r
        for r in multimodal.decode_media(media).collect()
    }
    assert len(got) == 30
    for mid, r in got.items():
        if mid % 3 == 0:
            assert r["format"] == "bmp"
            assert r["width"] == 4 + mid % 13
            assert r["height"] == 3 + mid % 7
            assert r["channels"] == 3
            assert r["n_samples"] == r["width"] * r["height"]
            assert r["duration_ms"] is None
            n = r["width"] * r["height"] * 3
            s = mid * 31 % 256
            assert r["payload_sum"] == sum((s + i) % 256 for i in range(n))
        elif mid % 3 == 1:
            assert r["format"] == "wav"
            assert r["channels"] == 1 + mid % 2
            assert r["sample_rate_hz"] == 8000 + (mid % 7) * 1000
            nf = 50 + mid % 20
            assert r["n_samples"] == nf
            assert r["duration_ms"] == nf * 1000 // r["sample_rate_hz"]
        else:
            assert r["format"] == "ppm"
            assert r["width"] == 2 + mid % 9
            assert r["height"] == 2 + mid % 5


def test_decode_media_roundtrips_synthesized_png(spark):
    """synthesize_png emits REAL zlib-deflated PNGs whose scanlines cycle
    all five filter types; decode_media must inflate + unfilter back to
    the closed-form raster (round 6)."""
    from dbt_databricks_metrics_spark.ext import multimodal

    docs = spark.range(30).select(F.col("id").alias("doc_id"))
    media = multimodal.synthesize_png(docs)
    got = {
        r["media_id"]: r
        for r in multimodal.decode_media(media).collect()
    }
    assert len(got) == 30
    for mid, r in got.items():
        assert r["format"] == "png"
        assert r["width"] == 4 + mid % 11
        assert r["height"] == 3 + mid % 6
        assert r["channels"] == (3 if mid % 2 == 0 else 1)
        assert r["sample_rate_hz"] is None
        assert r["n_samples"] == r["width"] * r["height"]
        assert r["duration_ms"] is None
        nb = r["width"] * r["height"] * r["channels"]
        s = (29 * mid) % 256
        assert r["payload_sum"] == sum((s + i) % 256 for i in range(nb))


def test_decode_media_nulls_for_unparseable_bytes(spark):
    """Garbage, truncated, and NULL payloads surface as NULL-field rows —
    never dropped, never raising."""
    from dbt_databricks_metrics_spark.ext import multimodal

    rows = [
        (1, "image", b"not a container at all"),
        (2, "image", b"BM\x01"),          # truncated BMP
        (3, "audio", b"RIFFxxxxWAVE"),     # no fmt/data chunks
        (4, "image", b"P6\n4 4\n255\n\x00"),  # truncated PPM raster
        (5, "image", None),
    ]
    df = spark.createDataFrame(
        rows, "media_id LONG, kind STRING, content BINARY"
    )
    got = {r["media_id"]: r for r in multimodal.decode_media(df).collect()}
    assert len(got) == 5
    for mid in (1, 2, 3, 4, 5):
        assert got[mid]["format"] is None
        assert got[mid]["payload_sum"] is None


def test_decode_bmp_row_padding_excluded():
    """BMP rows are 4-byte aligned; padding bytes must not leak into
    payload_sum (width 3 -> 9 pixel bytes + 3 pad bytes per row)."""
    import struct

    from dbt_databricks_metrics_spark.ext.multimodal import _decode_bmp

    w, h = 3, 2
    stride = (w * 3 + 3) & ~3
    pix = bytes(range(w * h * 3))
    raster = b"".join(
        pix[r * w * 3 : (r + 1) * w * 3] + b"\xff" * (stride - w * 3)
        for r in range(h)
    )
    header = struct.pack("<2sIHHI", b"BM", 54 + len(raster), 0, 0, 54) + struct.pack(
        "<IiiHHIIiiII", 40, w, h, 1, 24, 0, len(raster), 0, 0, 0, 0
    )
    fmt, width, height, ch, rate, n, dur, total = _decode_bmp(header + raster)
    assert (fmt, width, height, ch, n) == ("bmp", 3, 2, 3, 6)
    assert total == sum(pix)  # 0xff padding excluded


def test_decode_wav_odd_chunk_padding():
    """RIFF chunks are word-aligned: an odd-sized leading chunk must not
    desync the fmt/data scan."""
    import struct

    from dbt_databricks_metrics_spark.ext.multimodal import _decode_wav

    fmt = struct.pack("<HHIIHH", 1, 1, 8000, 16000, 2, 16)
    data = bytes(range(20))
    odd = b"LIST" + struct.pack("<I", 3) + b"abc"  # 3-byte body + 1 pad
    wav = (
        b"RIFF" + struct.pack("<I", 100) + b"WAVE"
        + odd + b"\x00"
        + b"fmt " + struct.pack("<I", len(fmt)) + fmt
        + b"data" + struct.pack("<I", len(data)) + data
    )
    out = _decode_wav(wav)
    assert out is not None
    assert out[0] == "wav" and out[5] == 10 and out[7] == sum(data)


# ------------------------------------------- GIF + G.711 kernels (round 6)


def test_decode_media_roundtrips_synthesized_gif(spark):
    """synthesize_gif emits REAL LZW-compressed GIFs across 16/64/256
    palettes; decode_media must recover the closed-form index raster."""
    from dbt_databricks_metrics_spark.ext import multimodal

    docs = spark.range(30).select(F.col("id").alias("doc_id"))
    media = multimodal.synthesize_gif(docs)
    got = {
        r["media_id"]: r
        for r in multimodal.decode_media(media).collect()
    }
    assert len(got) == 30
    for mid, r in got.items():
        m_colors = (16, 64, 256)[mid % 3]
        s = (37 * mid) % m_colors
        assert r["format"] == "gif"
        assert r["width"] == 6 + mid % 10
        assert r["height"] == 4 + mid % 7
        assert r["channels"] == 1
        assert r["n_samples"] == r["width"] * r["height"]
        nb = r["width"] * r["height"]
        assert r["payload_sum"] == sum((s + i) % m_colors for i in range(nb))


def test_decode_media_roundtrips_synthesized_g711(spark):
    """synthesize_g711 emits REAL mu-law/A-law WAVs; decode_media must
    expand every codeword through the G.711 tables."""
    from dbt_databricks_metrics_spark.ext import multimodal
    from dbt_databricks_metrics_spark.ext.multimodal import (
        _ALAW_TABLE,
        _ULAW_TABLE,
    )

    docs = spark.range(30).select(F.col("id").alias("doc_id"))
    media = multimodal.synthesize_g711(docs)
    got = {
        r["media_id"]: r
        for r in multimodal.decode_media(media).collect()
    }
    assert len(got) == 30
    for mid, r in got.items():
        table = _ULAW_TABLE if mid % 2 == 0 else _ALAW_TABLE
        ch = 1 + mid % 2
        nf = 40 + mid % 30
        assert r["format"] == ("ulaw" if mid % 2 == 0 else "alaw")
        assert r["channels"] == ch
        assert r["sample_rate_hz"] == 8000
        assert r["n_samples"] == nf
        assert r["duration_ms"] == nf * 1000 // 8000
        assert r["payload_sum"] == sum(
            table[((23 * mid) + i) % 256] for i in range(nf * ch)
        )


# Real-world encoder compatibility: tiny GIFs produced by mainstream
# encoders (CPython's idlelib icon set, PSF license), embedded as byte
# literals. These pin the LZW code-width timing ("late change") against
# encoders we did not write — a desync corrupts the stream (invalid
# code) or the raster length, so exact decode is the proof. Golden
# sums were cross-checked with an independent minimal LZW
# implementation during round 6.
_REAL_GIFS = [
    (  # tk.gif 14x11, m=2 (4-color global palette)
        b"GIF89a\x0e\x00\x0b\x00\xf0\x01\x00\xff\x00\x00\xc0\xc0\xc0!\xf9"
        b"\x04\x05\x00\x00\x01\x00,\x00\x00\x00\x00\x0e\x00\x0b\x00\x00\x02"
        b"\x1f\x0c\x8e\x10\xbb\xe9\xda\x12k\xd1Lj\xa0eZ\x9d\xfbY\x1e\xc8"
        b"\x8dS(i[\xf6u]\xc5]W\x01\x00;",
        ("gif", 14, 11, 1, None, 154, None, 92),
    ),
    (  # minusnode.gif 11x11, m=2
        b"GIF89a\x0b\x00\x0b\x00\xf1\x03\x00\xff\xff\xff\x7f\x7f\x7f\x00"
        b"\x00\x00\xc0\xc0\xc0!\xf9\x04\x05\x00\x00\x03\x00,\x00\x00\x00"
        b"\x00\x0b\x00\x0b\x00\x00\x02\x1c\x9c\x8f\x16\xcb\xac\x00#\x08OB:"
        b"\x82\xbdOx?U\x16\xa6m\xe4\x16fM\x93\xb4C\x01\x00;",
        ("gif", 11, 11, 1, None, 121, None, 162),
    ),
    (  # plusnode.gif 11x11, m=2
        b"GIF89a\x0b\x00\x0b\x00\xf1\x03\x00\xff\xff\xff\x7f\x7f\x7f\x00"
        b"\x00\x00\xc0\xc0\xc0!\xf9\x04\x05\x00\x00\x03\x00,\x00\x00\x00"
        b"\x00\x0b\x00\x0b\x00\x00\x02\x1f\x9c\x8f\x16\xcb\xac\x00#\x08\x0f"
        b"\x8aHG\x88\x17\xe6-\x84\xe1T\x01\x1d\xa9qX)}M\x93\xc4C\x01\x00;",
        ("gif", 11, 11, 1, None, 121, None, 170),
    ),
]


def test_decode_gif_real_world_encoders():
    from dbt_databricks_metrics_spark.ext.multimodal import _decode_gif

    for raw, want in _REAL_GIFS:
        assert _decode_gif(raw) == want


# ------------------------------------------------- JPEG kernel (round 6)


def test_decode_media_roundtrips_synthesized_jpeg(spark):
    """synthesize_jpeg emits REAL huffman-coded baseline JPEGs with
    DC-only blocks; decode_media must recover the exact constant-block
    rasters (q0=16 makes the IDCT output an exact integer)."""
    from dbt_databricks_metrics_spark.ext import multimodal

    docs = spark.range(30).select(F.col("id").alias("doc_id"))
    media = multimodal.synthesize_jpeg(docs)
    got = {
        r["media_id"]: r
        for r in multimodal.decode_media(media).collect()
    }
    assert len(got) == 30
    for mid, r in got.items():
        assert r["format"] == "jpeg"
        if mid % 7 == 4:  # 4:2:0 color variant (r7)
            mcux = 1 + mid % 2
            nb = 6 * mcux  # 4*mcux luma + 2*mcux chroma blocks
            assert r["width"] == 16 * mcux
            assert r["height"] == 16
            assert r["channels"] == 3
            assert r["n_samples"] == 256 * mcux
        else:
            bw, bh = 1 + mid % 4, 1 + mid % 3
            nb = bw * bh
            assert r["width"] == bw * 8
            assert r["height"] == bh * 8
            assert r["channels"] == 1
            assert r["n_samples"] == bw * bh * 64
        assert r["payload_sum"] == 128 * sum(
            (41 * mid + 7 * b) % 128 for b in range(nb)
        )


# A REAL grayscale JPEG written by libjpeg (IPython's 2x2 test fixture,
# BSD license): carries the actual Annex K luminance huffman tables and
# the standard quality-50 quantization table in its DQT/DHT segments —
# decoding it exactly validates the marker walk, canonical huffman
# construction, and entropy decode against a mainstream encoder.
_REAL_JPEG_2X2 = (
    b"\xff\xd8\xff\xe0\x00\x10JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00"
    b"\xff\xdb\x00C\x00\x08\x06\x06\x07\x06\x05\x08\x07\x07\x07\t\t\x08\n"
    b"\x0c\x14\r\x0c\x0b\x0b\x0c\x19\x12\x13\x0f\x14\x1d\x1a\x1f\x1e\x1d"
    b"\x1a\x1c\x1c $.' \",#\x1c\x1c(7),01444\x1f'9=82<.342\xff\xc0\x00\x0b"
    b"\x08\x00\x02\x00\x02\x01\x01\x11\x00\xff\xc4\x00\x1f\x00\x00\x01\x05"
    b"\x01\x01\x01\x01\x01\x01\x00\x00\x00\x00\x00\x00\x00\x00\x01\x02\x03"
    b"\x04\x05\x06\x07\x08\t\n\x0b\xff\xc4\x00\xb5\x10\x00\x02\x01\x03\x03"
    b"\x02\x04\x03\x05\x05\x04\x04\x00\x00\x01}\x01\x02\x03\x00\x04\x11"
    b"\x05\x12!1A\x06\x13Qa\x07\"q\x142\x81\x91\xa1\x08#B\xb1\xc1\x15R"
    b"\xd1\xf0$3br\x82\t\n\x16\x17\x18\x19\x1a%&'()*456789:CDEFGHIJSTUVWX"
    b"YZcdefghijstuvwxyz\x83\x84\x85\x86\x87\x88\x89\x8a\x92\x93\x94\x95"
    b"\x96\x97\x98\x99\x9a\xa2\xa3\xa4\xa5\xa6\xa7\xa8\xa9\xaa\xb2\xb3"
    b"\xb4\xb5\xb6\xb7\xb8\xb9\xba\xc2\xc3\xc4\xc5\xc6\xc7\xc8\xc9\xca"
    b"\xd2\xd3\xd4\xd5\xd6\xd7\xd8\xd9\xda\xe1\xe2\xe3\xe4\xe5\xe6\xe7"
    b"\xe8\xe9\xea\xf1\xf2\xf3\xf4\xf5\xf6\xf7\xf8\xf9\xfa\xff\xda\x00"
    b"\x08\x01\x01\x00\x00?\x00+\xff\xd9"
)


def test_decode_jpeg_real_world_encoder():
    from dbt_databricks_metrics_spark.ext.multimodal import _decode_jpeg

    # libjpeg-encoded all-gray 2x2: four pixels of 128
    assert _decode_jpeg(_REAL_JPEG_2X2) == (
        "jpeg", 2, 2, 1, None, 4, None, 512,
    )


def test_decode_media_roundtrips_synthesized_mjpeg(spark):
    """synthesize_mjpeg emits REAL AVI containers of huffman-coded JPEG
    frames; decode_media must walk the RIFF tree and decode every
    frame."""
    from dbt_databricks_metrics_spark.ext import multimodal

    docs = spark.range(30).select(F.col("id").alias("doc_id"))
    media = multimodal.synthesize_mjpeg(docs)
    got = {
        r["media_id"]: r
        for r in multimodal.decode_media(media).collect()
    }
    assert len(got) == 30
    for mid, r in got.items():
        bw, bh = 1 + mid % 3, 1 + mid % 2
        nf = 2 + mid % 4
        upf = 20000 * (1 + mid % 3)
        assert r["format"] == "mjpeg"
        assert r["width"] == bw * 8 and r["height"] == bh * 8
        assert r["channels"] == 1
        assert r["n_samples"] == nf
        assert r["duration_ms"] == nf * upf // 1000
        assert r["payload_sum"] == 128 * sum(
            (41 * mid + 13 * f + 7 * b) % 128
            for f in range(nf)
            for b in range(bw * bh)
        )


def test_decode_avi_rejects_dimension_mismatch_and_bad_frames():
    """A frame whose SOF dims disagree with the avih header, or a
    corrupt frame, must fail the WHOLE video (no partial sums)."""
    from dbt_databricks_metrics_spark.ext.multimodal import (
        _avi_encode,
        _decode_avi_mjpeg,
        _jpeg_encode,
    )

    blk = [0] * 64
    blk[0] = 10
    f8 = _jpeg_encode(8, 8, [blk], [16] * 64)
    f16 = _jpeg_encode(16, 8, [blk, blk], [16] * 64)
    assert _decode_avi_mjpeg(_avi_encode(8, 8, 40000, [f8, f8])) is not None
    assert _decode_avi_mjpeg(_avi_encode(8, 8, 40000, [f8, f16])) is None
    assert _decode_avi_mjpeg(
        _avi_encode(8, 8, 40000, [f8, f8[:20]])
    ) is None
    assert _decode_avi_mjpeg(_avi_encode(8, 8, 40000, [])) is None


def test_sample_mjpeg_frames_bucket_semantics(spark):
    """Frame sampling keeps the FIRST frame of each every_ms bucket,
    with timestamps from the avih header — verified against a pure-
    Python replay of the same rule."""
    from dbt_databricks_metrics_spark.ext import multimodal

    docs = spark.range(24).select(F.col("id").alias("doc_id"))
    media = multimodal.synthesize_mjpeg(docs)
    got = sorted(
        (r["media_id"], r["frame_idx"], r["ts_ms"], r["frame_pixel_sum"])
        for r in multimodal.sample_mjpeg_frames(media, every_ms=60).collect()
    )
    exp = []
    for mid in range(24):
        bw, bh = 1 + mid % 3, 1 + mid % 2
        nf = 2 + mid % 4
        upf = 20000 * (1 + mid % 3)
        prev = None
        for f in range(nf):
            ts = f * upf // 1000
            bucket = ts // 60
            if bucket == prev:
                continue
            prev = bucket
            fps = 128 * sum(
                (41 * mid + 13 * f + 7 * b) % 128 for b in range(bw * bh)
            )
            exp.append((mid, f, ts, fps))
    assert got == sorted(exp)
    # every_ms=1 keeps every frame; non-MJPEG bytes contribute nothing
    all_frames = multimodal.sample_mjpeg_frames(media, every_ms=1).count()
    assert all_frames == sum(2 + mid % 4 for mid in range(24))
    junk = spark.createDataFrame(
        [(1, "video", b"not avi"), (2, "video", None)],
        "media_id LONG, kind STRING, content BINARY",
    )
    assert multimodal.sample_mjpeg_frames(junk).count() == 0


# ------------------------------ round-6 review findings (regressions)


def test_jpeg_size_zero_ac_symbol_returns_none():
    """A DHT-legal AC symbol with size nibble 0 (other than EOB/ZRL),
    e.g. 0x10, is stream-malformed: must return None, never raise
    (review finding: ValueError via a negative shift in EXTEND)."""
    import struct

    from dbt_databricks_metrics_spark.ext.multimodal import _decode_jpeg

    # hand-built JPEG whose AC table contains ONLY symbol 0x10 at 1 bit
    out = bytearray(b"\xff\xd8")
    out += b"\xff\xdb" + struct.pack(">H", 67) + b"\x00" + bytes([16] * 64)
    out += (
        b"\xff\xc0" + struct.pack(">H", 11) + b"\x08"
        + struct.pack(">HH", 8, 8) + b"\x01" + bytes([1, 0x11, 0])
    )
    dc_counts = [1] + [0] * 15  # category 0 at 1 bit
    out += b"\xff\xc4" + struct.pack(">H", 20) + b"\x00" + bytes(dc_counts) + b"\x00"
    ac_counts = [1] + [0] * 15  # symbol 0x10 at 1 bit
    out += b"\xff\xc4" + struct.pack(">H", 20) + b"\x10" + bytes(ac_counts) + b"\x10"
    out += b"\xff\xda" + struct.pack(">H", 8) + bytes([1, 1, 0x00, 0, 63, 0])
    out += b"\x00\xff\xd9"  # entropy: DC cat 0, then AC symbol 0x10
    assert _decode_jpeg(bytes(out)) is None


def test_jpeg_duplicate_sof0_returns_none():
    """Two SOF0 segments must quarantine the file, not decode with a
    mix of both headers' component/quant selections."""
    from dbt_databricks_metrics_spark.ext.multimodal import (
        _decode_jpeg,
        _jpeg_encode,
    )

    blk = [0] * 64
    blk[0] = 5
    good = _jpeg_encode(8, 8, [blk], [16] * 64)
    sof = good.index(b"\xff\xc0")
    sof_seg = good[sof : sof + 13]  # marker + len(11)
    doubled = good[: sof + 13] + sof_seg + good[sof + 13 :]
    assert _decode_jpeg(good) is not None
    assert _decode_jpeg(doubled) is None


def test_wav_zero_bits_per_sample_returns_none():
    """bits_per_sample=0 passes `bits % 8` but must not divide by a
    zero frame size (review finding: ZeroDivisionError)."""
    import struct

    from dbt_databricks_metrics_spark.ext.multimodal import _decode_wav

    fmt = struct.pack("<HHIIHH", 1, 1, 8000, 0, 0, 0)
    wav = (
        b"RIFF" + struct.pack("<I", 36) + b"WAVE"
        + b"fmt " + struct.pack("<I", len(fmt)) + fmt
        + b"data" + struct.pack("<I", 4) + b"\x01\x02\x03\x04"
    )
    assert _decode_wav(wav) is None


def test_avi_deeply_nested_lists_return_none_not_recursion_error():
    """A crafted RIFF with thousands of nested LIST chunks must not
    blow the recursion limit (review finding: RecursionError)."""
    import struct

    from dbt_databricks_metrics_spark.ext.multimodal import (
        _decode_avi_mjpeg,
    )

    depth = 5000
    body = b""
    for _ in range(depth):
        body = b"LIST" + struct.pack("<I", 4 + len(body)) + b"xxxx" + body
    avi = b"RIFF" + struct.pack("<I", 4 + len(body)) + b"AVI " + body
    assert _decode_avi_mjpeg(avi) is None


def test_gif_subrectangle_first_frame_reports_image_dims():
    """An image descriptor smaller than the logical screen (optimized
    GIFs) must report the DECODED image's dims so width*height ==
    n_samples holds."""
    import struct

    from dbt_databricks_metrics_spark.ext.multimodal import (
        _decode_gif,
        _gif_encode,
    )

    idx = bytes(i % 16 for i in range(4 * 3))
    palette = bytes(48)
    g = bytearray(_gif_encode(4, 3, palette, idx, 4))
    # enlarge the logical screen only; image descriptor stays 4x3
    struct.pack_into("<HH", g, 6, 100, 80)
    got = _decode_gif(bytes(g))
    assert got == ("gif", 4, 3, 1, None, 12, None, sum(idx))


def test_sample_mjpeg_frames_decodes_only_kept_frames(monkeypatch):
    """Bucket membership is header arithmetic; the JPEG codec must run
    only on kept frames (review finding: 97% wasted decode at 30 fps)."""
    from dbt_databricks_metrics_spark.ext import multimodal

    calls = {"n": 0}
    real = multimodal._decode_jpeg

    def counting(b):
        calls["n"] += 1
        return real(b)

    monkeypatch.setattr(multimodal, "_decode_jpeg", counting)
    blk = [0] * 64
    blk[0] = 5
    f = multimodal._jpeg_encode(8, 8, [blk], [16] * 64)
    # 40 frames at 10 ms; 100 ms buckets keep every 10th frame (4 rows)
    avi = multimodal._avi_encode(8, 8, 10000, [f] * 40)
    rows = multimodal._sample_mjpeg_rows(1, avi, every_ms=100)
    assert [(r[1], r[2]) for r in rows] == [(0, 0), (10, 100), (20, 200),
                                            (30, 300)]
    assert calls["n"] == 4  # codec ran ONLY on the 4 kept frames of 40


def test_audio_window_stats_g711_and_pcm(spark):
    """Windowed |sample| accounting over decoded audio: G.711 through
    the expansion tables and 16-bit PCM directly, verified against a
    pure-Python replay; junk bytes contribute no rows."""
    import struct

    from dbt_databricks_metrics_spark.ext import multimodal
    from dbt_databricks_metrics_spark.ext.multimodal import (
        _ALAW_TABLE,
        _ULAW_TABLE,
    )

    docs = spark.range(12).select(F.col("id").alias("doc_id"))
    media = multimodal.synthesize_g711(docs)
    got = sorted(
        tuple(r) for r in multimodal.audio_window_stats(
            media, window_ms=2, clip_abs=32000
        ).collect()
    )
    exp = []
    for mid in range(12):
        table = _ULAW_TABLE if mid % 2 == 0 else _ALAW_TABLE
        ch = 1 + mid % 2
        nf = 40 + mid % 30
        samples = [
            table[((23 * mid) + i) % 256] for i in range(nf * ch)
        ]
        span = 16 * ch  # 2 ms at 8 kHz
        for w in range((len(samples) + span - 1) // span):
            seg = [abs(s) for s in samples[w * span : (w + 1) * span]]
            exp.append(
                (mid, w, w * 2, len(seg), sum(seg), max(seg),
                 sum(1 for s in seg if s >= 32000))
            )
    assert got == sorted(exp)
    # clips genuinely occur (full codeword sweep tops both tables)
    assert any(r[6] > 0 for r in got)

    # 16-bit PCM path: one second of a known ramp at 1000 Hz rate
    pcm = list(range(-500, 500))
    data = b"".join(struct.pack("<h", s) for s in pcm)
    fmt = struct.pack("<HHIIHH", 1, 1, 1000, 2000, 2, 16)
    wav = (
        b"RIFF" + struct.pack("<I", 4 + 8 + len(fmt) + 8 + len(data))
        + b"WAVE" + b"fmt " + struct.pack("<I", len(fmt)) + fmt
        + b"data" + struct.pack("<I", len(data)) + data
    )
    rows = multimodal._audio_window_rows(7, wav, 250, 400)
    assert [r[1] for r in rows] == [0, 1, 2, 3]
    assert all(r[3] == 250 for r in rows)
    assert rows[0][4] == sum(abs(s) for s in pcm[:250])
    assert rows[0][5] == 500 and rows[3][5] == 499
    # clip count at threshold 400: |s| >= 400
    assert rows[0][6] == sum(1 for s in pcm[:250] if abs(s) >= 400)
    assert multimodal._audio_window_rows(1, b"junk", 10, 100) == []


def test_resize_images_real_chain(spark):
    """decode -> NN resample -> BMP re-encode -> decode: the thumbnail
    is itself decodable and its byte sum follows the NN mapping."""
    from dbt_databricks_metrics_spark.ext import multimodal

    docs = spark.range(16).select(F.col("id").alias("doc_id"))
    media = multimodal.synthesize_png(docs)
    thumbs = multimodal.resize_images_real(media, 8, 5)
    got = {
        r["media_id"]: r
        for r in multimodal.decode_media(thumbs).collect()
    }
    assert len(got) == 16
    for mid, r in got.items():
        win, hin = 4 + mid % 11, 3 + mid % 6
        ch = 3 if mid % 2 == 0 else 1
        s = (29 * mid) % 256
        exp = 0
        for y in range(5):
            sy = y * hin // 5
            for x in range(8):
                sx = x * win // 8
                px = sy * win + sx
                for c in range(3):
                    exp += (s + (px * 3 + c if ch == 3 else px)) % 256
        assert r["format"] == "bmp"
        assert (r["width"], r["height"], r["channels"]) == (8, 5, 3)
        assert r["payload_sum"] == exp
    # undecodable payloads contribute no rows
    junk = spark.createDataFrame(
        [(1, b"not an image"), (2, None)], "media_id LONG, content BINARY"
    )
    assert multimodal.resize_images_real(junk, 8, 5).count() == 0


def test_decode_image_raster_bmp_bottom_up_flip():
    """BMP stores rows bottom-up (positive height); the raster decoder
    must flip to top-down so NN resampling reads the right pixels."""
    import struct

    from dbt_databricks_metrics_spark.ext.multimodal import (
        _decode_image_raster,
    )

    w, h = 3, 2
    pix = bytes(range(w * h * 3))
    stride = (w * 3 + 3) & ~3
    raster = b"".join(
        pix[r * w * 3 : (r + 1) * w * 3].ljust(stride, b"\x00")
        for r in range(h)
    )
    header = struct.pack("<2sIHHI", b"BM", 54 + len(raster), 0, 0, 54)
    header += struct.pack(
        "<IiiHHIIiiII", 40, w, h, 1, 24, 0, len(raster), 0, 0, 0, 0
    )
    gw, gh, rgb = _decode_image_raster(header + raster)
    assert (gw, gh) == (w, h)
    assert rgb[: w * 3] == pix[w * 3 :]  # stored bottom row comes first


def test_decode_image_raster_ppm_with_trailing_bytes():
    """PPM raster extraction must locate the raster from the header,
    not the file end (trailing junk after the raster is tolerated)."""
    from dbt_databricks_metrics_spark.ext.multimodal import (
        _decode_image_raster,
    )

    pix = bytes(range(3 * 2 * 3))
    ppm = b"P6\n# comment\n3 2\n255\n" + pix + b"trailing-junk"
    assert _decode_image_raster(ppm) == (3, 2, pix)


def test_adpcm_decode_matches_independent_simulation(spark):
    """IMA ADPCM (r7): synthesize_adpcm emits one-block format-0x11
    WAVs; decode_media must reproduce an INDEPENDENT Python simulation
    of the public step/index state machine (clamps included), and the
    header/rate/duration facts."""
    from dbt_databricks_metrics_spark.ext import multimodal

    docs = spark.range(60).select(F.col("id").alias("doc_id"))
    media = multimodal.synthesize_adpcm(docs)
    got = {r["media_id"]: r for r in multimodal.decode_media(media).collect()}
    assert len(got) == 60
    steps = multimodal._ADPCM_STEPS
    for mid, r in got.items():
        nb = 8 + mid % 9
        rate = 8000 + 100 * (mid % 5)
        pred = ((37 * mid) % 2048) - 1024
        idx = (13 * mid) % 89
        total = pred
        for i in range(2 * nb):
            n = (mid + 3 * i) % 16
            st = steps[idx]
            diff = (
                (st >> 3)
                + ((st >> 2) if n & 1 else 0)
                + ((st >> 1) if n & 2 else 0)
                + (st if n & 4 else 0)
            )
            pred = pred - diff if n & 8 else pred + diff
            pred = max(-32768, min(32767, pred))
            idx = max(0, min(88, idx + multimodal._ADPCM_INDEX[n]))
            total += pred
        assert r["format"] == "adpcm"
        assert r["channels"] == 1 and r["sample_rate_hz"] == rate
        assert r["n_samples"] == 2 * nb + 1
        assert r["duration_ms"] == (2 * nb + 1) * 1000 // rate
        assert r["payload_sum"] == total


def test_adpcm_malformed_rejected():
    """Bad step index, short block, and undersized block_align return
    None (no-row-disappears contract) instead of decoding garbage."""
    import struct

    from dbt_databricks_metrics_spark.ext.multimodal import (
        _adpcm_samples,
        _decode_wav,
    )

    good = struct.pack("<hBB", 100, 5, 0) + bytes([0x21, 0x43])
    assert _adpcm_samples(6, good) is not None
    assert _adpcm_samples(6, struct.pack("<hBB", 100, 89, 0) + b"\x00\x00") is None
    assert _adpcm_samples(6, good[:3]) is None  # short block
    assert _adpcm_samples(4, good) is None  # block_align < header+1

    def wav(tag, bits, ba, data):
        fmt = struct.pack("<HHIIHH", tag, 1, 8000, 8000, ba, bits)
        return (
            b"RIFF" + struct.pack("<I", 4 + 8 + len(fmt) + 8 + len(data))
            + b"WAVE" + b"fmt " + struct.pack("<I", len(fmt)) + fmt
            + b"data" + struct.pack("<I", len(data)) + data
        )

    assert _decode_wav(wav(0x11, 4, 6, good)) is not None
    # 4-bit depth with a non-ADPCM tag is rejected at the chunk walk
    assert _decode_wav(wav(1, 4, 6, good)) is None
