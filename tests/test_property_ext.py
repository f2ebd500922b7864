"""Property-based checks (hypothesis) for the ext operators whose
guarantees are stated as theorems:

* winnowing — ANY two texts sharing a substring of length ≥ w+k-1
  produce a shared fingerprint (the paper's detection guarantee);
* as-of join — equivalent to DuckDB's native ASOF JOIN on random
  event/quote tables (timestamps with duplicates and misses);
* deterministic sampling — partition-layout invariance on random data.

One Spark round-trip per example is too slow for hypothesis's default
profile, so each property generates a BATCH of random cases, runs them
through ONE DataFrame, and checks all rows — same coverage, 100× fewer
jobs.
"""

from __future__ import annotations

import duckdb
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from dbt_databricks_metrics_spark.ext import sampling, winnow
from dbt_databricks_metrics_spark.operators.asof import asof_join

K, W = 5, 3
GUARANTEE = W + K - 1  # 7 chars

_words = st.text(alphabet="abcdefgh ", min_size=0, max_size=30)
_passage = st.text(alphabet="xyzuvw", min_size=GUARANTEE, max_size=15)


@settings(max_examples=8, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    st.lists(
        st.tuples(_words, _passage, _words), min_size=1, max_size=8
    )
)
def test_winnow_guarantee_property(spark, cases):
    """doc pairs (2i, 2i+1) share passage i (≥ w+k-1 chars of a disjoint
    alphabet) — every pair MUST surface with ≥1 shared fingerprint."""
    rows = []
    for i, (pre, passage, post) in enumerate(cases):
        rows.append((2 * i, f"{pre} {passage} {post}"))
        rows.append((2 * i + 1, f"{post} {passage} {pre}"))
    df = spark.createDataFrame(rows, "doc_id long, text string")
    pairs = {
        (r["id_a"], r["id_b"])
        for r in winnow.winnow_overlap_pairs(
            df, k=K, w=W, min_shared=1, max_df=len(rows)
        ).collect()
    }
    for i in range(len(cases)):
        assert (2 * i, 2 * i + 1) in pairs, f"pair {i} missed: {cases[i]}"


@settings(max_examples=6, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    st.lists(  # events: (user, ts)
        st.tuples(st.integers(0, 3), st.integers(0, 1000)), min_size=1, max_size=40
    ),
    st.lists(  # quotes: (user, ts, value)
        st.tuples(st.integers(0, 3), st.integers(0, 1000), st.integers(-100, 100)),
        min_size=1,
        max_size=40,
    ),
)
def test_asof_join_matches_duckdb_property(spark, events, quotes):
    """asof_join(backward) ≡ DuckDB ASOF JOIN on random tables.

    Quote timestamps are deduped per user (both engines break exact-ts
    ties differently by payload; the operator documents that contract)."""
    events = list({(u, t) for u, t in events})
    quotes = list({(u, t): v for (u, t, v) in quotes}.items())
    qrows = [(u, t, v) for (u, t), v in quotes]
    le = spark.createDataFrame(events, "user_id long, ts long")
    rq = spark.createDataFrame(qrows, "user_id long, ts long, value long")
    got = {
        (r["user_id"], r["ts"]): (r["ts_r"], r["value_r"])
        for r in asof_join(le, rq, on="ts", by=["user_id"]).collect()
    }
    con = duckdb.connect()
    con.execute("CREATE TABLE e(user_id BIGINT, ts BIGINT)")
    con.execute("CREATE TABLE q(user_id BIGINT, ts BIGINT, value BIGINT)")
    con.executemany("INSERT INTO e VALUES (?, ?)", events or [(None, None)])
    if events:
        con.executemany("INSERT INTO q VALUES (?, ?, ?)", qrows)
    want = {
        (u, t): (qt, qv)
        for u, t, qt, qv in con.execute(
            """
            SELECT e.user_id, e.ts, q.ts, q.value
            FROM e ASOF LEFT JOIN q
              ON e.user_id = q.user_id AND e.ts >= q.ts
            """
        ).fetchall()
    }
    assert got == want


@settings(max_examples=6, deadline=None, suppress_health_check=list(HealthCheck))
@given(st.lists(st.integers(0, 10**12), min_size=1, max_size=50, unique=True))
def test_sampling_partition_invariance_property(spark, keys):
    """The selected id-set is identical under any partition layout."""
    df1 = spark.createDataFrame([(k,) for k in keys], "doc_id long").repartition(1)
    df7 = spark.createDataFrame([(k,) for k in keys], "doc_id long").repartition(7)
    pick = lambda df: {
        r["doc_id"]
        for r in sampling.train_test_split(df, (0.4, 0.6), ("keep", "drop"))
        .filter("split = 'keep'")
        .collect()
    }
    assert pick(df1) == pick(df7)


@settings(max_examples=6, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    st.lists(st.floats(0, 1000, allow_nan=False, width=32), min_size=2, max_size=60),
    st.sampled_from([0.25, 0.5, 0.9]),
)
def test_hist_percentile_accuracy_property(spark, values, p):
    """The histogram estimate is within one bucket width of DuckDB's
    exact quantile_disc, for random data and percentiles.

    quantile_disc (the rank statistic), NOT quantile_cont: the histogram
    interpolates inside the bucket containing the p-th ranked VALUE, so
    it is within one bucket width of that value.  quantile_cont
    interpolates between neighboring data points, which can sit many
    empty buckets apart (e.g. [0, 376], p=0.25 → cont says 94 while every
    rank statistic is 0 or 376) — no histogram can bound that distance."""
    from dbt_databricks_metrics_spark.functions.histogram import hist_percentile_sql

    lo, hi, nb = 0.0, 1000.0, 16
    width = (hi - lo) / nb
    sqlx = hist_percentile_sql("x", p, lo, hi, nb)
    df = spark.createDataFrame([(float(v),) for v in values], "x double")
    df.createOrReplaceTempView("hp_prop")
    est = spark.sql(f"SELECT {sqlx} AS e FROM hp_prop").collect()[0]["e"]
    con = duckdb.connect()
    con.execute("CREATE TABLE t(x DOUBLE)")
    con.executemany("INSERT INTO t VALUES (?)", [(float(v),) for v in values])
    exact = con.execute(f"SELECT quantile_disc(x, {p}) FROM t").fetchone()[0]
    assert est is not None
    assert abs(est - exact) <= width + 1e-9


@settings(max_examples=6, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    st.lists(st.tuples(st.integers(0, 2), st.integers(0, 500)), min_size=1, max_size=25),
    st.lists(
        st.tuples(st.integers(0, 2), st.integers(0, 500), st.integers(0, 200)),
        min_size=1,
        max_size=15,
    ),
)
def test_interval_join_matches_duckdb_property(spark, points, intervals):
    """Bucketized interval join ≡ a plain inequality join, on random
    points and (possibly overlapping) intervals."""
    from dbt_databricks_metrics_spark.operators.asof import interval_join

    points = [(i, u, t) for i, (u, t) in enumerate(points)]
    ivs = [(j, u, s, s + d) for j, (u, s, d) in enumerate(intervals)]
    pdf = spark.createDataFrame(points, "pid long, user_id long, ts long")
    idf = spark.createDataFrame(ivs, "iid long, user_id long, start long, end long")
    got = {
        (r["pid"], r["iid"])
        for r in interval_join(
            pdf, idf, point_ts="ts", by=["user_id"], bucket_seconds=64
        ).collect()
    }
    want = {
        (i, j)
        for (i, u, t) in points
        for (j, vu, s, e) in ivs
        if u == vu and s <= t <= e
    }
    assert got == want


@settings(
    max_examples=15,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    docs=st.lists(
        st.lists(
            st.sampled_from(["alpha", "beta", "gamma", "delta", "footer", ""]),
            min_size=0,
            max_size=5,
        ),
        min_size=1,
        max_size=8,
    )
)
def test_paragraph_dedup_invariants(spark, docs):
    """Keep-first paragraph dedup invariants on arbitrary corpora:
    (1) one output row per input doc; (2) total kept == number of
    DISTINCT non-blank paragraphs; (3) each kept paragraph survives at
    its lowest (doc, pos) occurrence; (4) per-doc kept text is a
    subsequence of the doc's original paragraphs."""
    from dbt_databricks_metrics_spark.ext.dedup import dedup_paragraphs

    rows = [(i, "\n".join(p)) for i, p in enumerate(docs)]
    df = spark.createDataFrame(rows, "doc_id BIGINT, text STRING")
    got = {r["doc_id"]: r for r in dedup_paragraphs(df, hash_fn="md5").collect()}

    assert set(got) == set(range(len(docs)))
    distinct = {p for ps in docs for p in ps if p.strip()}
    assert sum(r["n_paras_kept"] for r in got.values()) == len(distinct)

    first_at = {}
    for i, ps in enumerate(docs):
        for pos, p in enumerate(ps):
            if p.strip() and p not in first_at:
                first_at[p] = (i, pos)
    for i, ps in enumerate(docs):
        kept = [p for p in got[i]["text_dedup"].split("\n") if p]
        expect = [
            p for pos, p in enumerate(ps) if p.strip() and first_at[p] == (i, pos)
        ]
        assert kept == expect, (i, kept, expect)


@settings(max_examples=50, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    st.lists(
        st.floats(allow_nan=True, allow_infinity=True, width=32),
        min_size=0,
        max_size=70,
    )
)
def test_pack_sign_bits_structure(values):
    """pack_sign_bits: word count = ceil(n/32); bit i of word w mirrors
    the sign test (>= 0, NaN counted as 1 per Spark ordering); padding
    bits are zero. Pure-python property over the driver-side mirror."""
    import math

    from dbt_databricks_metrics_spark.ext.quantize import pack_sign_bits

    words = pack_sign_bits(values)
    assert len(words) == (len(values) + 31) // 32
    for w, word in enumerate(words):
        assert 0 <= word < 2**32
        for i in range(32):
            j = w * 32 + i
            bit = (word >> i) & 1
            if j < len(values):
                x = float(values[j])
                expected = 1 if (x >= 0 or math.isnan(x)) else 0
                assert bit == expected
            else:
                assert bit == 0  # padding


@settings(max_examples=6, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    st.lists(
        st.tuples(st.sampled_from(["A", "B", "C"]), st.integers(0, 5)),
        min_size=1,
        max_size=40,
    )
)
def test_t_closeness_emd_is_a_normalized_rational(spark, rows):
    """0 <= emd_num <= emd_den for every group (EMD is normalized), and
    a group distributed exactly like the global one has emd_num == 0."""
    from dbt_databricks_metrics_spark.ext import privacy

    df = spark.createDataFrame(
        [(i, g, b) for i, (g, b) in enumerate(rows)],
        "id INT, grp STRING, bucket INT",
    )
    out = privacy.t_closeness_groups(df, ["grp"], "bucket", t=(1, 2)).collect()
    assert out
    for r in out:
        assert 0 <= r["emd_num"] <= r["emd_den"]


@settings(max_examples=20, deadline=None, suppress_health_check=list(HealthCheck))
@given(st.permutations(["m1", "m2", "m3"]))
def test_fingerprints_invariant_to_registration_order(order):
    from dbt_databricks_metrics_spark.models import ModelRegistry

    def fns():
        def m1(spark, ref):
            return spark.range(1)

        def m2(spark, ref):
            return spark.range(2)

        def m3(spark, ref):
            return spark.range(3)

        return {"m1": m1, "m2": m2, "m3": m3}

    reg = ModelRegistry()
    fn_map = fns()
    for name in order:
        reg.model(name)(fn_map[name])
    base = ModelRegistry()
    for name in ["m1", "m2", "m3"]:
        base.model(name)(fns()[name])
    assert reg.fingerprints() == base.fingerprints()


# ------------------------------------------------ media decode (round 5)
# Pure-Python properties: the BMP/WAV/PPM kernels must recover exactly
# the parameters any well-formed container was built from, for ALL
# dimension/payload combinations — not just the synthesize_media grid.


@given(
    w=st.integers(1, 40),
    h=st.integers(1, 20),
    seed=st.integers(0, 255),
)
@settings(max_examples=60, deadline=None)
def test_bmp_decode_roundtrips_any_geometry(w, h, seed):
    import struct

    from dbt_databricks_metrics_spark.ext.multimodal import _decode_bmp

    stride = (w * 3 + 3) & ~3
    pix = bytes((seed + i) % 256 for i in range(w * h * 3))
    raster = b"".join(
        pix[r * w * 3 : (r + 1) * w * 3].ljust(stride, b"\xee")
        for r in range(h)
    )
    header = struct.pack("<2sIHHI", b"BM", 54 + len(raster), 0, 0, 54)
    header += struct.pack(
        "<IiiHHIIiiII", 40, w, h, 1, 24, 0, len(raster), 0, 0, 0, 0
    )
    fmt, gw, gh, ch, rate, n, dur, total = _decode_bmp(header + raster)
    assert (fmt, gw, gh, ch, rate, n, dur) == ("bmp", w, h, 3, None, w * h, None)
    assert total == sum(pix)  # 0xee padding never leaks into the sum


@given(
    ch=st.integers(1, 4),
    rate=st.integers(1, 192_000),
    n_frames=st.integers(0, 300),
    seed=st.integers(0, 255),
    junk=st.binary(min_size=0, max_size=9),
)
@settings(max_examples=60, deadline=None)
def test_wav_decode_roundtrips_any_pcm(ch, rate, n_frames, seed, junk):
    import struct

    from dbt_databricks_metrics_spark.ext.multimodal import _decode_wav

    data = bytes((seed + i) % 256 for i in range(n_frames * ch * 2))
    fmt = struct.pack("<HHIIHH", 1, ch, rate, rate * ch * 2, ch * 2, 16)
    # a junk chunk before fmt exercises the word-aligned scan
    junk_chunk = b"LIST" + struct.pack("<I", len(junk)) + junk
    if len(junk) % 2:
        junk_chunk += b"\x00"
    wav = (
        b"RIFF" + struct.pack("<I", 0) + b"WAVE"
        + junk_chunk
        + b"fmt " + struct.pack("<I", len(fmt)) + fmt
        + b"data" + struct.pack("<I", len(data)) + data
    )
    out = _decode_wav(wav)
    assert out is not None
    gfmt, gw, gh, gch, grate, gn, gdur, gsum = out
    assert (gfmt, gch, grate, gn) == ("wav", ch, rate, n_frames)
    assert gdur == n_frames * 1000 // rate
    assert gsum == sum(data)


@given(
    w=st.integers(1, 30),
    h=st.integers(1, 30),
    seed=st.integers(0, 255),
    comment=st.booleans(),
)
@settings(max_examples=60, deadline=None)
def test_ppm_decode_roundtrips_any_raster(w, h, seed, comment):
    from dbt_databricks_metrics_spark.ext.multimodal import _decode_ppm

    pix = bytes((seed + i) % 256 for i in range(w * h * 3))
    head = b"P6\n" + (b"# a comment line\n" if comment else b"")
    ppm = head + f"{w} {h}\n255\n".encode() + pix
    fmt, gw, gh, ch, rate, n, dur, total = _decode_ppm(ppm)
    assert (fmt, gw, gh, ch, n) == ("ppm", w, h, 3, w * h)
    assert total == sum(pix)


@given(data=st.binary(min_size=0, max_size=200))
@settings(max_examples=100, deadline=None)
def test_decoders_never_raise_on_arbitrary_bytes(data):
    """Fuzz: every decoder either parses or returns None — malformed
    bytes must never raise (decode_media's no-row-disappears contract)."""
    from dbt_databricks_metrics_spark.ext.multimodal import (
        _decode_bmp,
        _decode_ppm,
        _decode_wav,
    )

    for dec in (_decode_bmp, _decode_wav, _decode_ppm):
        dec(data)
        # sticky prefixes too: magic bytes + garbage tails
    for prefix in (b"BM", b"RIFF1234WAVE", b"P6\n"):
        for dec in (_decode_bmp, _decode_wav, _decode_ppm):
            dec(prefix + data)


# ------------------------------------------------ PNG decode (round 6)
# The compressed-format kernel: zlib inflate + per-scanline unfiltering.
# Property: for ANY geometry / seed / per-line filter assignment / color
# type, decoding recovers the exact raster the encoder filtered away —
# so Sub/Up/Average/Paeth reconstruction is pinned byte-for-byte, not
# just on synthesize_png's (mid + r) % 5 schedule.


def _png_encode(w, h, ch, raster, filters):
    # the module-level encoder shared with synthesize_png — the
    # INDEPENDENT checks in these properties are the decoder and the
    # raw-raster byte sum, so sharing the encoder removes drift risk
    # without weakening the test (review round 6)
    from dbt_databricks_metrics_spark.ext.multimodal import (
        _png_encode as enc,
    )

    return enc(w, h, ch, raster, filters)


@given(
    w=st.integers(1, 24),
    h=st.integers(1, 12),
    ch=st.integers(1, 4),
    seed=st.integers(0, 255),
    data=st.data(),
)
@settings(max_examples=60, deadline=None)
def test_png_decode_roundtrips_any_filter_schedule(w, h, ch, seed, data):
    from dbt_databricks_metrics_spark.ext.multimodal import _decode_png

    raster = bytes((seed + 7 * i) % 256 for i in range(w * h * ch))
    filters = data.draw(
        st.lists(st.integers(0, 4), min_size=h, max_size=h)
    )
    out = _decode_png(_png_encode(w, h, ch, raster, filters))
    assert out is not None
    fmt, gw, gh, gch, rate, n, dur, total = out
    assert (fmt, gw, gh, gch, rate, n, dur) == (
        "png", w, h, ch, None, w * h, None,
    )
    assert total == sum(raster)


@given(
    w=st.integers(1, 16),
    h=st.integers(1, 8),
    split=st.integers(1, 6),
)
@settings(max_examples=30, deadline=None)
def test_png_decode_concatenates_split_idat(w, h, split):
    """IDAT may be split across chunks at ANY byte boundary — the decoder
    must concatenate before inflating (PNG spec §5.6)."""
    import struct
    import zlib

    from dbt_databricks_metrics_spark.ext.multimodal import _decode_png

    raster = bytes(i % 256 for i in range(w * h * 3))
    whole = _png_encode(w, h, 3, raster, [0] * h)
    # re-split the single IDAT body into `split`-byte chunks
    sig, rest = whole[:8], whole[8:]
    pos, chunks = 0, []
    while pos + 8 <= len(rest):
        ln = struct.unpack_from(">I", rest, pos)[0]
        tag = rest[pos + 4 : pos + 8]
        body = rest[pos + 8 : pos + 8 + ln]
        chunks.append((tag, body))
        pos += 12 + ln
    rebuilt = sig
    for tag, body in chunks:
        if tag != b"IDAT":
            rebuilt += (
                struct.pack(">I", len(body)) + tag + body
                + struct.pack(">I", zlib.crc32(tag + body))
            )
        else:
            for i in range(0, len(body), split):
                piece = body[i : i + split]
                rebuilt += (
                    struct.pack(">I", len(piece)) + b"IDAT" + piece
                    + struct.pack(">I", zlib.crc32(b"IDAT" + piece))
                )
    out = _decode_png(rebuilt)
    assert out is not None
    assert out[7] == sum(raster)


@given(data=st.binary(min_size=0, max_size=200))
@settings(max_examples=100, deadline=None)
def test_png_decoder_never_raises_on_arbitrary_bytes(data):
    from dbt_databricks_metrics_spark.ext.multimodal import _decode_png

    _decode_png(data)
    _decode_png(b"\x89PNG\r\n\x1a\n" + data)


# ------------------------------------------------ GIF decode (round 6)
# The second compressed-format kernel: variable-code-width LZW. The
# properties pin the classic traps — code-width growth timing (encoder
# runs one dictionary entry ahead of the decoder), the KwKwK case, the
# 4096-entry dictionary reset, and sub-block reassembly — for ANY
# palette size / geometry / payload, not just synthesize_gif's grid.


@given(
    m=st.integers(2, 8),
    data=st.binary(min_size=0, max_size=4000),
)
@settings(max_examples=60, deadline=None)
def test_gif_lzw_roundtrips_any_stream(m, data):
    from dbt_databricks_metrics_spark.ext.multimodal import (
        _gif_lzw_decode,
        _gif_lzw_encode,
    )

    data = bytes(v % (1 << m) for v in data)  # clamp to alphabet
    assert _gif_lzw_decode(_gif_lzw_encode(data, m), m, len(data)) == data


def test_gif_lzw_dictionary_reset_roundtrips():
    """A stream long and repetitive enough to fill all 4096 dictionary
    slots forces the mid-stream CLEAR + reset path on both sides."""
    from dbt_databricks_metrics_spark.ext.multimodal import (
        _gif_lzw_decode,
        _gif_lzw_encode,
    )

    import random

    rng = random.Random(42)
    data = bytes(rng.randrange(256) for _ in range(30000))
    assert _gif_lzw_decode(_gif_lzw_encode(data, 8), 8, len(data)) == data
    # low-entropy variant: long matches grow the dictionary DEEP (KwKwK
    # chains) rather than wide
    data = bytes([0, 1] * 9000 + [2] * 5000)
    assert _gif_lzw_decode(_gif_lzw_encode(data, 2), 2, len(data)) == data


@given(
    w=st.integers(1, 30),
    h=st.integers(1, 15),
    mbits=st.sampled_from([2, 4, 6, 8]),
    seed=st.integers(0, 255),
    local=st.booleans(),
    exts=st.booleans(),
)
@settings(max_examples=60, deadline=None)
def test_gif_decode_roundtrips_any_geometry(w, h, mbits, seed, local, exts):
    from dbt_databricks_metrics_spark.ext.multimodal import (
        _decode_gif,
        _gif_encode,
    )

    n_colors = 1 << mbits
    idx = bytes((seed + i) % n_colors for i in range(w * h))
    palette = bytes((j * 3 + 1) % 256 for j in range(n_colors) for _ in range(3))
    g = _gif_encode(w, h, palette, idx, mbits, local_palette=local,
                    extensions=exts)
    assert _decode_gif(g) == ("gif", w, h, 1, None, w * h, None, sum(idx))


def test_gif_interlace_flag_permutes_rows_only():
    """r7: interlace is now SUPPORTED — flipping the flag on a
    plain-stored stream makes the decoder deinterlace rows it shouldn't,
    which permutes the raster (index SUM is row-order-invariant, so the
    aggregate facts still agree) but changes the row content the raster
    path sees. Both behaviors pinned."""
    from dbt_databricks_metrics_spark.ext.multimodal import (
        _decode_gif,
        _gif_encode,
        _gif_first_frame,
    )

    idx = bytes(range(16)) * 4
    palette = bytes(range(48))
    plain = _gif_encode(8, 8, palette, idx, 4)
    g = bytearray(plain)
    ip = g.index(0x2C, 13 + 48)  # image descriptor after header+GCT
    g[ip + 9] |= 0x40  # interlace flag on plain-ordered rows
    flipped = bytes(g)
    assert _decode_gif(flipped) == _decode_gif(plain)  # sum invariant
    a = _gif_first_frame(plain)
    b = _gif_first_frame(flipped)
    assert a[:3] == b[:3] and sorted(a[3]) == sorted(b[3])
    assert a[3] != b[3]  # but the rows really were permuted


@given(data=st.binary(min_size=0, max_size=200))
@settings(max_examples=100, deadline=None)
def test_gif_decoder_never_raises_on_arbitrary_bytes(data):
    from dbt_databricks_metrics_spark.ext.multimodal import _decode_gif

    _decode_gif(data)
    _decode_gif(b"GIF89a" + data)


# ------------------------------------------------ G.711 decode (round 6)


def test_g711_tables_match_spec_anchors():
    """Known codeword anchors from the public G.711 tables: both zeros,
    both extremes, full-cycle antisymmetry (every magnitude appears once
    per sign), and mu-law's characteristic 0x84 bias arithmetic."""
    from dbt_databricks_metrics_spark.ext.multimodal import (
        _ALAW_TABLE,
        _ULAW_TABLE,
    )

    assert _ULAW_TABLE[0xFF] == 0 and _ULAW_TABLE[0x7F] == 0
    assert _ULAW_TABLE[0x00] == -32124 and _ULAW_TABLE[0x80] == 32124
    assert _ALAW_TABLE[0x55] == -8 and _ALAW_TABLE[0xD5] == 8
    assert _ALAW_TABLE[0x2A] == -32256 and _ALAW_TABLE[0xAA] == 32256
    assert sum(_ULAW_TABLE) == 0 and sum(_ALAW_TABLE) == 0
    # sign halves mirror exactly
    for t, flip in ((_ULAW_TABLE, 0x80), (_ALAW_TABLE, 0x80)):
        assert all(t[v] == -t[v ^ flip] for v in range(256))


@given(
    tag=st.sampled_from([6, 7]),
    ch=st.integers(1, 2),
    n_frames=st.integers(1, 100),
    seed=st.integers(0, 255),
)
@settings(max_examples=60, deadline=None)
def test_g711_wav_decode_roundtrips(tag, ch, n_frames, seed):
    import struct

    from dbt_databricks_metrics_spark.ext.multimodal import (
        _ALAW_TABLE,
        _ULAW_TABLE,
        _decode_wav,
    )

    data = bytes((seed + i) % 256 for i in range(n_frames * ch))
    fmt = struct.pack("<HHIIHH", tag, ch, 8000, 8000 * ch, ch, 8)
    wav = (
        b"RIFF" + struct.pack("<I", 4 + 8 + len(fmt) + 8 + len(data))
        + b"WAVE"
        + b"fmt " + struct.pack("<I", len(fmt)) + fmt
        + b"data" + struct.pack("<I", len(data)) + data
    )
    table = _ULAW_TABLE if tag == 7 else _ALAW_TABLE
    assert _decode_wav(wav) == (
        "ulaw" if tag == 7 else "alaw", None, None, ch, 8000, n_frames,
        n_frames * 1000 // 8000, sum(table[v] for v in data),
    )


# ------------------------------------------------ JPEG decode (round 6)
# The third compressed-format kernel. The reference below is an
# INDEPENDENT naive IDCT (quadruple-loop spec formula) — the library
# uses the separable matrix form, so agreement is a genuine
# cross-implementation check, not self-comparison.


def _naive_idct(fmat):
    import math

    import numpy as np

    out = np.zeros((8, 8))
    for x in range(8):
        for y in range(8):
            s = 0.0
            for u in range(8):
                for v in range(8):
                    cu = 1 / math.sqrt(2) if u == 0 else 1.0
                    cv = 1 / math.sqrt(2) if v == 0 else 1.0
                    s += (
                        cu * cv / 4 * fmat[u, v]
                        * math.cos((2 * x + 1) * u * math.pi / 16)
                        * math.cos((2 * y + 1) * v * math.pi / 16)
                    )
            out[x, y] = s
    return out


@given(
    bw=st.integers(1, 3),
    bh=st.integers(1, 2),
    seed=st.integers(0, 2**31 - 1),
)
@settings(max_examples=25, deadline=None)
def test_jpeg_decode_matches_naive_idct(bw, bh, seed):
    """Arbitrary quantized coefficients (DC + sparse AC, random
    q-table): the decoded pixel sum must agree with the naive-IDCT
    reference within 1 per pixel (float summation-order headroom; in
    practice it is exact)."""
    import random

    import numpy as np

    from dbt_databricks_metrics_spark.ext.multimodal import (
        _ZIGZAG,
        _decode_jpeg,
        _jpeg_encode,
    )

    rng = random.Random(seed)
    qt = [16] + [rng.randrange(1, 32) for _ in range(63)]
    blocks = []
    for _ in range(bw * bh):
        blk = [0] * 64
        blk[0] = rng.randrange(-128, 128)
        for _ in range(rng.randrange(0, 16)):
            blk[rng.randrange(1, 64)] = rng.randrange(-300, 300)
        blocks.append(blk)
    got = _decode_jpeg(_jpeg_encode(bw * 8, bh * 8, blocks, qt))
    assert got is not None
    assert got[:7] == ("jpeg", bw * 8, bh * 8, 1, None, bw * bh * 64, None)
    # restart markers are a pure re-framing of the same entropy data:
    # every DRI choice must decode to the identical facts (r7)
    for ri in (1, 2, 7):
        with_rst = _decode_jpeg(
            _jpeg_encode(bw * 8, bh * 8, blocks, qt, restart_interval=ri)
        )
        assert with_rst == got
    ref = 0
    for blk in blocks:
        fmat = np.zeros((8, 8))
        for k in range(64):
            fmat.flat[_ZIGZAG[k]] = blk[k] * qt[k]
        pix = np.clip(np.round(_naive_idct(fmat)) + 128, 0, 255)
        ref += int(pix.sum())
    assert abs(got[7] - ref) <= bw * bh * 64


def test_jpeg_dense_ac_and_zrl_paths():
    """A fully dense block (no EOB) and a block with long zero runs
    (ZRL emission) both round-trip."""
    import numpy as np

    from dbt_databricks_metrics_spark.ext.multimodal import (
        _ZIGZAG,
        _decode_jpeg,
        _jpeg_encode,
    )

    dense = [((7 * k + 3) % 19) - 9 or 1 for k in range(64)]
    sparse = [0] * 64
    sparse[0], sparse[40], sparse[63] = 5, -7, 3  # runs > 15 -> ZRL
    qt = [16] * 64
    for blocks in ([dense], [sparse], [dense, sparse]):
        got = _decode_jpeg(_jpeg_encode(8 * len(blocks), 8, blocks, qt))
        assert got is not None
        ref = 0
        for blk in blocks:
            fmat = np.zeros((8, 8))
            for k in range(64):
                fmat.flat[_ZIGZAG[k]] = blk[k] * qt[k]
            pix = np.clip(np.round(_naive_idct(fmat)) + 128, 0, 255)
            ref += int(pix.sum())
        assert abs(got[7] - ref) <= len(blocks) * 64


@given(
    factors=st.sampled_from(
        [[(2, 2), (1, 1), (1, 1)], [(2, 1), (1, 1), (1, 1)],
         [(1, 2), (1, 1), (1, 1)], [(1, 1), (1, 1), (1, 1)],
         [(2, 2), (2, 1), (1, 1)]]
    ),
    w=st.integers(9, 40),
    h=st.integers(9, 40),
    ri=st.sampled_from([0, 1, 3]),
    seed=st.integers(0, 2**31 - 1),
)
@settings(max_examples=20, deadline=None)
def test_jpeg_subsampled_decode_matches_naive_idct(factors, w, h, ri, seed):
    """4:2:0 / 4:2:2 / mixed sampling factors (round 7): the decoder's
    interleaved-MCU walk + per-plane cropping must agree with a naive
    per-plane IDCT reference, with or without restart framing."""
    import random

    import numpy as np

    from dbt_databricks_metrics_spark.ext.multimodal import (
        _ZIGZAG,
        _decode_jpeg,
        _idct_basis,
        _jpeg_encode_interleaved,
    )

    rng = random.Random(seed)
    hmax = max(f[0] for f in factors)
    vmax = max(f[1] for f in factors)
    mcux = (w + 8 * hmax - 1) // (8 * hmax)
    mcuy = (h + 8 * vmax - 1) // (8 * vmax)
    qt = [16] + [rng.randrange(1, 32) for _ in range(63)]
    planes = []
    for hi, vi in factors:
        blocks = []
        for _ in range(mcux * hi * mcuy * vi):
            blk = [0] * 64
            blk[0] = rng.randrange(-128, 128)
            for _ in range(rng.randrange(0, 8)):
                blk[rng.randrange(1, 64)] = rng.randrange(-200, 200)
            blocks.append(blk)
        planes.append((hi, vi, blocks))
    got = _decode_jpeg(_jpeg_encode_interleaved(w, h, planes, qt, ri))
    assert got is not None
    assert got[:7] == ("jpeg", w, h, len(factors), None, w * h, None)

    a = _idct_basis()
    ref = 0
    for hi, vi, blocks in planes:
        cw = (w * hi + hmax - 1) // hmax
        ch = (h * vi + vmax - 1) // vmax
        bwp, bhp = mcux * hi, mcuy * vi
        plane = np.zeros((bhp * 8, bwp * 8))
        for r in range(bhp):
            for c in range(bwp):
                fmat = np.zeros((8, 8))
                for k in range(64):
                    fmat.flat[_ZIGZAG[k]] = blocks[r * bwp + c][k] * qt[k]
                plane[r * 8 : r * 8 + 8, c * 8 : c * 8 + 8] = np.clip(
                    np.round(a.T @ fmat @ a) + 128, 0, 255
                )
        ref += int(plane[:ch, :cw].sum())
    assert abs(got[7] - ref) <= mcux * mcuy * hmax * vmax * 64 * len(factors)


@given(
    factors=st.sampled_from(
        [[(1, 1)], [(1, 1), (1, 1), (1, 1)],
         [(2, 2), (1, 1), (1, 1)], [(2, 1), (1, 1), (1, 1)]]
    ),
    w=st.integers(9, 36),
    h=st.integers(9, 36),
    ri=st.sampled_from([0, 0, 2]),
    deep=st.booleans(),
    seed=st.integers(0, 2**31 - 1),
)
@settings(max_examples=25, deadline=None)
def test_jpeg_progressive_equals_baseline(factors, w, h, ri, deep, seed):
    """Progressive (SOF2) is a pure re-framing of the same quantized
    coefficients: for random blocks, subsampling, restart intervals,
    and scan scripts (default 2-stage, or a deep 3-stage successive
    approximation with narrow custom bands), the progressive decode
    must produce the identical facts as the baseline decode."""
    import random

    from dbt_databricks_metrics_spark.ext.multimodal import (
        _decode_jpeg,
        _jpeg_encode,
        _jpeg_encode_interleaved,
        _jpeg_encode_progressive,
    )

    rng = random.Random(seed)
    hmax = max(f[0] for f in factors)
    vmax = max(f[1] for f in factors)
    mcux = (w + 8 * hmax - 1) // (8 * hmax)
    mcuy = (h + 8 * vmax - 1) // (8 * vmax)
    qt = [16] + [rng.randrange(1, 32) for _ in range(63)]
    planes = []
    for hi, vi in factors:
        blocks = []
        for _ in range(mcux * hi * mcuy * vi):
            blk = [0] * 64
            blk[0] = rng.randrange(-256, 256)
            for _ in range(rng.randrange(0, 12)):
                blk[rng.randrange(1, 64)] = rng.randrange(-300, 300)
            blocks.append(blk)
        planes.append((hi, vi, blocks))
    nf = len(factors)
    base = (
        _jpeg_encode_interleaved(w, h, planes, qt)
        if nf > 1
        else _jpeg_encode(w, h, planes[0][2], qt)
    )
    want = _decode_jpeg(base)
    assert want is not None
    scans = None
    if deep:  # 3-stage successive approximation, narrow bands
        scans = [
            (list(range(nf)), 0, 0, 0, 2),
            (list(range(nf)), 0, 0, 2, 1),
            (list(range(nf)), 0, 0, 1, 0),
        ]
        for bands in ((1, 2), (3, 20), (21, 63)):
            for ci in range(nf):
                scans.append(([ci], bands[0], bands[1], 0, 2))
        for ah, al in ((2, 1), (1, 0)):
            for bands in ((1, 2), (3, 20), (21, 63)):
                for ci in range(nf):
                    scans.append(([ci], bands[0], bands[1], ah, al))
    prog = _jpeg_encode_progressive(
        w, h, planes, qt, scans=scans, restart_interval=ri
    )
    assert _decode_jpeg(prog) == want


@given(data=st.binary(min_size=0, max_size=300))
@settings(max_examples=60, deadline=None)
def test_jpeg_progressive_decoder_never_raises(data):
    from dbt_databricks_metrics_spark.ext.multimodal import _decode_jpeg

    _decode_jpeg(b"\xff\xd8\xff\xc2" + data)


def test_jpeg_restart_markers_validated():
    """Malformed restart framing is rejected, never mis-decoded: an RST
    without a DRI segment, an out-of-sequence RSTm, and a stream whose
    segment count disagrees with the MCU count all return None."""
    from dbt_databricks_metrics_spark.ext.multimodal import (
        _decode_jpeg,
        _jpeg_encode,
    )

    blocks = []
    for b in range(4):
        blk = [0] * 64
        blk[0] = 11 * b - 17
        blocks.append(blk)
    rst = _jpeg_encode(32, 8, blocks, [16] * 64, restart_interval=1)
    assert _decode_jpeg(rst) is not None
    # strip the DRI segment: RST markers now appear with ri == 0
    no_dri = rst.replace(b"\xff\xdd\x00\x04\x00\x01", b"")
    assert len(no_dri) < len(rst) and _decode_jpeg(no_dri) is None
    # break the 0-7 modulo sequence (first RST must be D0)
    assert _decode_jpeg(rst.replace(b"\xff\xd0", b"\xff\xd5", 1)) is None
    # declare ri=2 but keep ri=1 framing: segment count mismatch
    wrong_ri = rst.replace(b"\xff\xdd\x00\x04\x00\x01", b"\xff\xdd\x00\x04\x00\x02")
    assert _decode_jpeg(wrong_ri) is None


@given(data=st.binary(min_size=0, max_size=300))
@settings(max_examples=100, deadline=None)
def test_jpeg_decoder_never_raises_on_arbitrary_bytes(data):
    from dbt_databricks_metrics_spark.ext.multimodal import _decode_jpeg

    _decode_jpeg(data)
    _decode_jpeg(b"\xff\xd8" + data)
    _decode_jpeg(b"\xff\xd8\xff\xdb\x00C\x00" + data)


@given(
    n_frames=st.integers(1, 6),
    bw=st.integers(1, 3),
    bh=st.integers(1, 2),
    seed=st.integers(0, 255),
    upf=st.integers(1000, 100000),
)
@settings(max_examples=40, deadline=None)
def test_avi_mjpeg_decode_roundtrips(n_frames, bw, bh, seed, upf):
    from dbt_databricks_metrics_spark.ext.multimodal import (
        _avi_encode,
        _decode_avi_mjpeg,
        _jpeg_encode,
    )

    frames, exp = [], 0
    for f in range(n_frames):
        blocks = []
        for bi in range(bw * bh):
            blk = [0] * 64
            dc = ((seed + 5 * f + 3 * bi) % 128) - 64
            blk[0] = dc
            blocks.append(blk)
            exp += 64 * (2 * dc + 128)
        frames.append(_jpeg_encode(bw * 8, bh * 8, blocks, [16] * 64))
    avi = _avi_encode(bw * 8, bh * 8, upf, frames)
    assert _decode_avi_mjpeg(avi) == (
        "mjpeg", bw * 8, bh * 8, 1, None, n_frames,
        n_frames * upf // 1000, exp,
    )


@given(data=st.binary(min_size=0, max_size=300))
@settings(max_examples=100, deadline=None)
def test_avi_decoder_never_raises_on_arbitrary_bytes(data):
    from dbt_databricks_metrics_spark.ext.multimodal import (
        _decode_avi_mjpeg,
    )

    _decode_avi_mjpeg(data)
    _decode_avi_mjpeg(b"RIFF\xff\xff\x00\x00AVI " + data)


def test_jpeg_progressive_requires_a_scan():
    """A SOF2 stream with ZERO entropy scans carries no image data and
    must be quarantined (None), not decoded as all-128 pixels from the
    empty coefficient store (review r7)."""
    import struct

    from dbt_databricks_metrics_spark.ext.multimodal import _decode_jpeg

    nosos = (
        b"\xff\xd8"
        + b"\xff\xdb" + struct.pack(">H", 67) + b"\x00" + bytes([16] * 64)
        + b"\xff\xc2" + struct.pack(">H", 11) + b"\x08"
        + struct.pack(">HH", 8, 8) + b"\x01" + bytes([1, 0x11, 0])
        + b"\xff\xd9"
    )
    assert _decode_jpeg(nosos) is None


@given(
    w=st.integers(1, 40),
    h=st.integers(1, 40),
    ch=st.sampled_from([1, 2, 3, 4]),
    seed=st.integers(0, 2**31 - 1),
)
@settings(max_examples=30, deadline=None)
def test_png_adam7_equals_plain(w, h, ch, seed):
    """Adam7 interlacing re-frames the same raster: for random images
    (including sizes where several passes are empty), the interlaced
    decode must reproduce the identical raster and facts as the plain
    encoding (round 7)."""
    import random

    from dbt_databricks_metrics_spark.ext.multimodal import (
        _decode_png,
        _png_encode,
        _png_encode_interlaced,
        _png_raster,
    )

    rng = random.Random(seed)
    raster = bytes(rng.randrange(256) for _ in range(w * h * ch))
    filters = [rng.randrange(5) for _ in range(w * h + 7)]
    plain = _png_encode(
        w, h, ch, raster, [filters[r % len(filters)] for r in range(h)]
    )
    inter = _png_encode_interlaced(w, h, ch, raster, filters)
    assert _png_raster(inter) == (w, h, ch, raster)
    assert _decode_png(inter) == _decode_png(plain)


@given(
    w=st.integers(1, 30),
    h=st.integers(1, 30),
    nbits=st.sampled_from([4, 6, 8]),
    lp=st.booleans(),
    seed=st.integers(0, 2**31 - 1),
)
@settings(max_examples=30, deadline=None)
def test_gif_interlace_equals_plain(w, h, nbits, lp, seed):
    """GIF 4-pass interlacing re-orders rows in storage only: the
    deinterlaced first frame must equal the plain encoding's, for
    random rasters, palette widths, and local/global palettes (r7)."""
    import random

    from dbt_databricks_metrics_spark.ext.multimodal import (
        _decode_gif,
        _gif_encode,
        _gif_first_frame,
    )

    rng = random.Random(seed)
    n = 1 << nbits
    pal = bytes(rng.randrange(256) for _ in range(3 * n))
    idx = bytes(rng.randrange(n) for _ in range(w * h))
    plain = _gif_encode(w, h, pal, idx, max(2, nbits), local_palette=lp)
    inter = _gif_encode(
        w, h, pal, idx, max(2, nbits), local_palette=lp, interlaced=True
    )
    assert _gif_first_frame(inter) == (w, h, pal, idx)
    assert _decode_gif(inter) == _decode_gif(plain)
