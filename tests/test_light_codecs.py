"""Round-trip tests for the lightweight codec suite (SURVEY.md §2.7)
and the chunk framing layer (null bitmaps, typed frames)."""

import numpy as np
import pyarrow as pa
import pytest

from chimp_spark.codecs import fsst
from chimp_spark.codecs import light as L
from chimp_spark import framing


rng = np.random.default_rng(11)


def test_bitpack_roundtrip():
    for width in [1, 3, 7, 8, 13, 31, 33, 56, 63, 64]:
        hi = (1 << width) - 1
        vals = rng.integers(0, hi + 1 if width < 64 else hi, 1000, dtype=np.uint64)
        buf = L.bitpack(vals, width)
        np.testing.assert_array_equal(L.bitunpack(buf, 1000, width), vals)


def test_for_bitpack():
    vals = rng.integers(-500, 10_000, 5000).astype(np.int64)
    buf = L.for_bitpack_encode(vals)
    np.testing.assert_array_equal(L.for_bitpack_decode(buf, 5000, np.int64), vals)
    assert len(buf) < vals.nbytes / 3  # 14-bit range -> ~4.5x


def test_delta_bp_sorted():
    vals = np.cumsum(rng.integers(0, 50, 5000)).astype(np.int64) + 10**15
    buf = L.delta_bp_encode(vals)
    np.testing.assert_array_equal(L.delta_bp_decode(buf, 5000, np.int64), vals)
    assert len(buf) < vals.nbytes / 6


def test_rle():
    vals = np.repeat(rng.integers(0, 5, 100), rng.integers(1, 200, 100))[:5000]
    buf = L.rle_encode(vals.astype(np.int64))
    np.testing.assert_array_equal(L.rle_decode(buf, vals.size, np.int64), vals)
    assert len(buf) < vals.nbytes / 10
    # float RLE incl. NaN runs
    f = np.repeat(np.array([1.5, np.nan, -0.0, 3.25]), 100)
    buf = L.rle_encode(f)
    out = L.rle_decode(buf, f.size, np.float64)
    np.testing.assert_array_equal(out.view(np.uint64), f.view(np.uint64))


def test_xor_split():
    for kind in ["walk", "uniform", "runs"]:
        if kind == "walk":
            vals = 48.0 + np.cumsum(rng.normal(0, 0.3, 20001))
        elif kind == "uniform":
            vals = rng.uniform(-1e9, 1e9, 20001)
        else:
            vals = np.repeat(rng.normal(0, 100, 37), 600)[:20001]
        bits = vals.view(np.uint64)
        buf = L.xor_split_encode(bits)
        np.testing.assert_array_equal(L.xor_split_decode(buf), bits)
    # edge: empty / single / nan
    assert L.xor_split_decode(L.xor_split_encode(np.zeros(0, np.uint64))).size == 0
    one = np.array([np.nan], dtype=np.float64).view(np.uint64)
    np.testing.assert_array_equal(L.xor_split_decode(L.xor_split_encode(one)), one)


def test_ts_chimp():
    base = 1_700_000_000_000_000
    ts = base + np.cumsum(rng.integers(1000, 1100, 10000)).astype(np.int64)
    buf = L.ts_chimp_encode(ts)
    np.testing.assert_array_equal(L.ts_chimp_decode(buf, ts.size, np.int64), ts)
    assert len(buf) < ts.nbytes / 2


def test_fsst_roundtrip():
    words = [b"http://", b"example", b".com/", b"page", b"?id=", b"&lang=en"]
    strings = [
        b"".join(words[i % 3 : i % 3 + 3]) + str(i).encode() for i in range(500)
    ] + [b"", b"\xff\xff binary \x00 stuff", b"plain"]
    data = b"".join(strings)
    offs = np.zeros(len(strings) + 1, dtype=np.int64)
    np.cumsum([len(s) for s in strings], out=offs[1:])
    blob = fsst.encode(offs, np.frombuffer(data, dtype=np.uint8))
    out_offs, out_data = fsst.decode(memoryview(blob))
    assert out_data.tobytes() == data
    np.testing.assert_array_equal(out_offs, offs)
    assert len(blob) < len(data)  # actually compresses the urls


def test_fsst_escape_heavy():
    # adversarial: lots of 0xFF bytes (escape marker collisions)
    strings = [bytes([255] * i) for i in range(20)] + [b"\xff a \xff\xff b"] * 5
    data = b"".join(strings)
    offs = np.zeros(len(strings) + 1, dtype=np.int64)
    np.cumsum([len(s) for s in strings], out=offs[1:])
    blob = fsst.encode(offs, np.frombuffer(data, dtype=np.uint8))
    out_offs, out_data = fsst.decode(memoryview(blob))
    assert out_data.tobytes() == data
    np.testing.assert_array_equal(out_offs, offs)


def test_gather_strings():
    strs = [b"alpha", b"", b"gamma", b"dd"]
    data = np.frombuffer(b"".join(strs), dtype=np.uint8)
    offs = np.array([0, 5, 5, 10, 12], dtype=np.int64)
    idx = np.array([3, 0, 1, 3, 2], dtype=np.int64)
    o, d = L.gather_strings(offs, data, idx)
    assert d.tobytes() == b"ddalphaddgamma"
    np.testing.assert_array_equal(np.diff(o), [2, 5, 0, 2, 5])


# ---------------------------------------------------------------------------
# framing layer
# ---------------------------------------------------------------------------

ARRAYS = {
    "f64_walk": pa.array(48.0 + np.cumsum(rng.normal(0, 0.3, 3000))),
    "f64_nulls": pa.array(
        [1.5, None, 2.5, float("nan"), None, -0.0, 1e300] * 100, type=pa.float64()
    ),
    "i64_range": pa.array(rng.integers(0, 1000, 3000), type=pa.int64()),
    "i64_sorted": pa.array(np.cumsum(rng.integers(0, 9, 3000)), type=pa.int64()),
    "i32": pa.array(rng.integers(-5, 5, 3000).astype(np.int32)),
    "ts": pa.array(
        1_700_000_000_000_000 + np.cumsum(rng.integers(1, 1000, 3000)),
        type=pa.timestamp("us"),
    ),
    "ts_nulls": pa.array(
        [1_700_000_000_000_000, None, 1_700_000_000_055_000] * 50,
        type=pa.timestamp("us"),
    ),
    "str_lowcard": pa.array(["en", "de", "fr", "en", "en"] * 600),
    "str_clustered": pa.array(["en"] * 1500 + ["de"] * 1000 + ["fr"] * 500),
    "str_text": pa.array(
        [f"the quick brown fox {i} jumped over http://example.com/{i%7}" for i in range(800)]
    ),
    "str_nulls": pa.array((["hello", None, "world", ""] * 200)),
    "bin": pa.array([b"\x00\xff" * i for i in range(300)], type=pa.binary()),
    "bool": pa.array(rng.integers(0, 2, 999).astype(bool)),
    "const_str": pa.array(["same"] * 500),
    "const_f64": pa.array([3.25] * 500),
    "empty_f64": pa.array([], type=pa.float64()),
    "all_null": pa.array([None] * 100, type=pa.float64()),
}


@pytest.mark.parametrize("name", ARRAYS)
def test_frame_roundtrip_auto(name):
    arr = ARRAYS[name]
    blob, meta = framing.encode_chunk(arr, codec="auto")
    out = framing.decode_chunk(blob, arr.type)
    assert out.equals(arr) or _bitwise_equal(out, arr)
    assert meta.n == len(arr)


def _bitwise_equal(a: pa.Array, b: pa.Array) -> bool:
    """NaNs compare unequal in arrow equals(); compare bit patterns."""
    if not pa.types.is_floating(a.type):
        return False
    am = np.asarray(a.is_valid())
    bm = np.asarray(b.is_valid())
    if not (am == bm).all():
        return False
    av = np.asarray(a.drop_null()).view(np.uint64)
    bv = np.asarray(b.drop_null()).view(np.uint64)
    return bool((av == bv).all())


@pytest.mark.parametrize(
    "name,expected",
    [
        ("str_lowcard", ("dict", "dict_rle")),
        ("str_clustered", ("dict_rle", "dict")),
        ("i64_sorted", ("delta_bp",)),
        ("const_str", ("const",)),
        ("const_f64", ("const",)),
        ("str_text", ("fsst", "deflate")),
        ("i32", ("for_bitpack", "rle")),
    ],
)
def test_selector_choices(name, expected):
    _, meta = framing.encode_chunk(ARRAYS[name], codec="auto")
    assert meta.codec in expected, f"{name}: got {meta.codec} ({meta.reason})"


@pytest.mark.parametrize("codec", ["chimp", "chimpn", "gorilla", "patas", "xor_split"])
def test_frame_explicit_float_codecs(codec):
    arr = ARRAYS["f64_walk"]
    blob, meta = framing.encode_chunk(arr, codec=codec)
    out = framing.decode_chunk(blob, arr.type)
    assert out.equals(arr)
    assert meta.codec == codec


def test_frame_list_float32():
    emb = pa.array(
        [[1.5, -2.25, 3.0], [], [0.5] * 5, None, [float("nan"), 1.0]],
        type=pa.list_(pa.float32()),
    )
    blob, meta = framing.encode_chunk(emb, codec="auto")
    out = framing.decode_chunk(blob, emb.type)
    assert meta.codec == "list_block" and meta.dtype == "list_f32"
    assert out.is_valid().equals(emb.is_valid())
    a = np.asarray(out.drop_null().values, dtype=np.float32).view(np.uint32)
    b = np.asarray(emb.drop_null().values, dtype=np.float32).view(np.uint32)
    np.testing.assert_array_equal(a, b)
    assert framing.checksum_of(out) == meta.checksum


def test_frame_list_i64():
    arr = pa.array([[1, 2], [3], [], [4, 5, 6]], type=pa.list_(pa.int64()))
    blob, meta = framing.encode_chunk(arr)
    out = framing.decode_chunk(blob, arr.type)
    assert out.equals(arr)


def test_gcd_for_range_exceeding_int64():
    """Regression (hypothesis-found): value range > int64 max wrapped
    rel negative -> width 0 -> every value silently decoded as min."""
    import numpy as _np

    for vals in (
        _np.array([1 << 62, -(1 << 62)], dtype=_np.int64),
        _np.array([-(1 << 62), (1 << 62) - 4, 0, 4], dtype=_np.int64),
        _np.array([_np.iinfo(_np.int64).min, _np.iinfo(_np.int64).max], dtype=_np.int64),
    ):
        buf = L.gcd_for_encode(vals)
        out = L.gcd_for_decode(memoryview(buf), vals.size, _np.int64)
        _np.testing.assert_array_equal(out, vals)
        buf = L.for_bitpack_encode(vals)
        out = L.for_bitpack_decode(memoryview(buf), vals.size, _np.int64)
        _np.testing.assert_array_equal(out, vals)


def test_frame_list_inner_nulls_roundtrip():
    """Element-level nulls inside lists must round-trip exactly (the
    np.asarray path would silently turn them into NaN / INT64_MIN)."""
    cases = [
        pa.array([[1.0, None, 3.0]], type=pa.list_(pa.float64())),
        pa.array([[1, None, 3], None, [7, None]], type=pa.list_(pa.int64())),
        pa.array([[None, None], [0.5]], type=pa.list_(pa.float32())),
    ]
    for arr in cases:
        blob, meta = framing.encode_chunk(arr, codec="auto")
        out = framing.decode_chunk(blob, arr.type)
        assert out.equals(arr), (arr, out)
        assert framing.checksum_of(out) == meta.checksum


def test_bss_f32_roundtrip_and_selection():
    """Byte-stream split is the f32 production codec: bit-exact on
    random data (NaN/inf/-0.0 included), selected for f32 chunks, and
    >= 1.5x on fp16-quantized embeddings (zeroed mantissa tail)."""
    vals = (rng.standard_normal(20000) / 8).astype(np.float32)
    vals[::97] = np.nan
    vals[1::97] = np.inf
    vals[2::97] = -0.0
    blob = framing.encode_chunk(pa.array(vals), codec="bss")[0]
    out = np.asarray(framing.decode_chunk(blob, pa.float32()))
    np.testing.assert_array_equal(out.view(np.uint32), vals.view(np.uint32))

    _, meta = framing.encode_chunk(pa.array(vals), codec="auto")
    assert meta.codec == "bss", meta.reason

    # list<f32> embeddings route values through bss
    emb = pa.FixedSizeListArray.from_arrays(pa.array(vals[:19968]), 64).cast(
        pa.list_(pa.float32())
    )
    blob, meta = framing.encode_chunk(emb, codec="auto")
    assert meta.codec == "list_block" and "inner=bss" in meta.reason
    out = framing.decode_chunk(blob, emb.type)
    np.testing.assert_array_equal(  # bitwise: NaN payloads included
        np.asarray(out.values, dtype=np.float32).view(np.uint32),
        np.asarray(emb.values, dtype=np.float32).view(np.uint32),
    )

    # fp16-upcast (quantized) embeddings: the realistic stored form
    q = rng.standard_normal(64 * 2000).astype(np.float16).astype(np.float32)
    qa = pa.FixedSizeListArray.from_arrays(pa.array(q), 64).cast(pa.list_(pa.float32()))
    blob, meta = framing.encode_chunk(qa, codec="auto")
    assert framing.decode_chunk(blob, qa.type).equals(qa)
    assert meta.raw_bytes / meta.enc_bytes > 1.5, meta.raw_bytes / meta.enc_bytes


def test_patas_truncation_pure_python_matches_native():
    """A frame truncated mid-payload must raise EOFError on BOTH the C
    path and the pure-Python fallback, never decode a wrong value."""
    import os

    from chimp_spark.codecs import xor_ref as X

    # hand-built stream: first value (8B), record1 meta+6B payload,
    # record2 meta CLAIMING sig_bytes=8 with only zero-padding left —
    # its payload read would cross the buffer end (p+sig > nbytes)
    buf = (
        np.float64(100.0).view(np.uint64).byteswap().tobytes()
        + bytes([0x01, 0x40])  # meta: idx=0 sig=6 trail=0
        + b"\x11\x22\x33\x44\x55\x66"  # 6 payload bytes
        + bytes([0x01, 0xC0])  # meta: idx=0 sig=8 trail=0 -> needs 8B
        + b"\x00" * 6  # word padding only: payload is MISSING
    )
    assert len(buf) == 24
    words_cut = np.frombuffer(buf, dtype=">u8").astype("=u8")
    from chimp_spark import _native

    for force_py in (False, True):
        saved = _native._FUNCS
        try:
            if force_py:
                _native._FUNCS = {}
            with pytest.raises(EOFError):
                X.patas_decode(words_cut, n_values=3)
        finally:
            _native._FUNCS = saved


def test_dec_for_decimal_floats():
    prices = np.round(rng.uniform(900, 104950, 8000), 2)
    blob, meta = framing.encode_chunk(pa.array(prices), codec="auto")
    assert meta.codec == "dec_for"
    out = np.asarray(framing.decode_chunk(blob, pa.float64()))
    np.testing.assert_array_equal(out.view(np.uint64), prices.view(np.uint64))
    assert meta.enc_bytes * 8 / meta.n < 26  # ~24 bits vs 64 raw

    # -0.0 / NaN / non-decimal tails must never pick (or must survive) dec_for
    for vals in (
        np.array([1.25, -0.0, 3.5] * 50),
        np.concatenate([np.round(rng.uniform(0, 9, 5000), 1), rng.normal(0, 1, 50)]),
        np.array([np.nan, 1.5, np.inf] * 20),
    ):
        blob, meta = framing.encode_chunk(pa.array(vals), codec="auto")
        out = np.asarray(framing.decode_chunk(blob, pa.float64()))
        np.testing.assert_array_equal(out.view(np.uint64), vals.view(np.uint64))

    # explicit dec_for on non-decimal data raises (no silent loss)
    with pytest.raises(ValueError):
        framing.encode_chunk(pa.array(rng.normal(0, 1, 100)), codec="dec_for")


def test_gcd_for_date_aligned_timestamps():
    day = 86_400_000_000
    ts = pa.array(1_500_000_000_000_000 + rng.integers(0, 2500, 6000) * day,
                  type=pa.timestamp("us"))
    blob, meta = framing.encode_chunk(ts, codec="auto")
    assert meta.codec == "gcd_for", meta.reason
    assert framing.decode_chunk(blob, ts.type).equals(ts)
    assert meta.enc_bytes * 8 / meta.n < 14

    # jittery (gcd 1) timestamps must not regress
    ts2 = pa.array(1_500_000_000_000_000 + np.cumsum(rng.integers(1, 999, 3000)),
                   type=pa.timestamp("us"))
    blob, meta = framing.encode_chunk(ts2, codec="auto")
    assert framing.decode_chunk(blob, ts2.type).equals(ts2)


def test_frame_decoder_rejects_garbage():
    """Corrupted/truncated frames raise clean exceptions, never return
    wrong data silently (resume safety: a torn write must not decode)."""
    arr = ARRAYS["f64_walk"]
    blob, _ = framing.encode_chunk(arr, codec="chimp")
    rng2 = np.random.default_rng(0)
    for attempt in range(30):
        b = bytearray(blob)
        kind = attempt % 3
        if kind == 0:
            b = b[: rng2.integers(1, max(len(b) - 1, 2))]  # truncate
        elif kind == 1:
            b[rng2.integers(0, 4)] ^= 0xFF  # corrupt magic/header
        else:
            b[rng2.integers(16, len(b))] ^= 0xFF  # corrupt payload
        try:
            out = framing.decode_chunk(bytes(b), arr.type)
            # payload bit-flips can decode to different values; they
            # must then fail the checksum the engine verifies
            if kind == 2:
                assert framing.checksum_of(out) != framing.checksum_of(arr) or \
                    np.asarray(out).view(np.uint64).tolist() == np.asarray(arr).view(np.uint64).tolist()
        except Exception:
            pass  # clean failure is the expected outcome


def test_frame_decoder_rejects_garbage_new_codecs():
    """Round-2 frame layouts (bss, list_block, fsst, dict) under the
    same truncate/corrupt fuzz: clean exceptions or checksum-detectable
    corruption, never silent wrong data."""
    import pyarrow as pa

    rng2 = np.random.default_rng(1)
    frames = []
    f32 = pa.array(rng2.standard_normal(4000).astype(np.float32))
    frames.append((framing.encode_chunk(f32, codec="bss"), f32))
    emb = pa.FixedSizeListArray.from_arrays(
        pa.array(rng2.standard_normal(4000).astype(np.float32)), 40
    ).cast(pa.list_(pa.float32()))
    frames.append((framing.encode_chunk(emb, codec="auto"), emb))
    txt = pa.array([f"the quick brown fox {i} jumps over" for i in range(500)])
    frames.append((framing.encode_chunk(txt, codec="fsst"), txt))
    frames.append((framing.encode_chunk(pa.array(["ab", "cd"] * 300), codec="dict"),
                   pa.array(["ab", "cd"] * 300)))

    for (blob, meta), arr in frames:
        for attempt in range(24):
            b = bytearray(blob)
            kind = attempt % 3
            if kind == 0:
                b = b[: rng2.integers(1, max(len(b) - 1, 2))]
            elif kind == 1:
                b[rng2.integers(0, 4)] ^= 0xFF
            else:
                b[rng2.integers(16, len(b))] ^= 0xFF
            try:
                out = framing.decode_chunk(bytes(b), arr.type)
                if kind == 2 and len(out) == len(arr):
                    # payload flip must be caught by the checksum the
                    # engine verifies, or decode identically
                    assert (
                        framing.checksum_of(out) != meta.checksum
                        or out.equals(arr)
                    )
            except Exception:
                pass  # clean failure is the expected outcome


def test_explicit_codec_on_all_null_chunk():
    """Regression: explicitly-requested codecs must survive all-null /
    empty chunks (forced to plain)."""
    nulls = pa.array([None, None, None], type=pa.float64())
    for codec in ["rle", "delta_bp", "const", "for_bitpack", "dec_for", "chimp"]:
        blob, meta = framing.encode_chunk(nulls, codec=codec)
        out = framing.decode_chunk(blob, pa.float64())
        assert out.null_count == 3 and len(out) == 3
        assert meta.codec == "plain"


def test_bss_roundtrip_property():
    """bss survives adversarial lane content (all-zero lanes, const
    lanes, random) for f32 and f64."""
    rng2 = np.random.default_rng(11)
    cases = [
        rng2.standard_normal(5000).astype(np.float32),
        (rng2.integers(0, 255, 5000) / 10).astype(np.float32),  # quantized
        np.zeros(777, dtype=np.float64),
        np.full(123, -0.0, dtype=np.float32),
        rng2.standard_normal(5000).astype(np.float16).astype(np.float64),
        np.array([], dtype=np.float32),
    ]
    for vals in cases:
        blob = L.bss_encode(vals)
        out = L.bss_decode(memoryview(blob), vals.size, vals.dtype)
        np.testing.assert_array_equal(
            out.view(np.uint8), np.ascontiguousarray(vals).view(np.uint8)
        )


def test_selector_near_decimal_falls_to_xor_family():
    """A chunk whose SAMPLE looks decimal but whose tail is not (a
    handful of full-precision floats) must fall through to the real
    non-decimal candidate set — not collapse to plain/xor_split only
    (review finding: near-decimal chunks regressed to a worse codec)."""
    from chimp_spark import selector

    rng = np.random.default_rng(11)
    vals = np.round(100.0 + np.cumsum(rng.standard_normal(20_000)) * 0.1, 2)
    vals[-7:] = vals[-7:] + np.pi * 1e-9  # tail breaks decimality
    out = selector.choose_codec(vals, "f64")
    codec, reason = out[0], out[1]
    assert codec in ("chimp", "chimpn", "patas", "gorilla", "bss", "xor_split")
    # the XOR-family trials must have actually run
    assert "chimp" in reason
    blob, meta = framing.encode_chunk(pa.array(vals), codec="auto")
    got = framing.decode_chunk(blob, pa.float64())
    assert np.array_equal(np.asarray(got), vals)


def test_deflate_string_roundtrip_and_selection():
    """deflate: general-purpose entropy codec for markup-heavy
    payloads — repeated tags exceed a 255-symbol FSST table. Auto must
    pick it on html-like data (big ratio gap) but leave natural text
    to fsst/dict (speed rank prices deflate's slower decode)."""
    html = pa.array(
        [f"<html><body class='m'><div id='c{i}'>"
         + "<p>lorem ipsum dolor sit</p>" * (1 + i % 7)
         + "</div></body></html>" for i in range(2000)]
    )
    blob, meta = framing.encode_chunk(html, codec="deflate")
    assert framing.decode_chunk(blob, pa.string()).equals(html)
    auto_blob, auto_meta = framing.encode_chunk(html, codec="auto")
    assert auto_meta.codec == "deflate", auto_meta.reason
    assert len(auto_blob) * 4 < len(framing.encode_chunk(html, codec="fsst")[0])

    # binary payloads route through the same block codecs
    bins = pa.array([b"\x00\x01" * 300, b"", None, b"\xff" * 64], type=pa.binary())
    bblob, bmeta = framing.encode_chunk(bins, codec="deflate")
    assert framing.decode_chunk(bblob, pa.binary()).equals(bins)


def test_timestamp_ms_unit_normalized_not_corrupted():
    """TIMESTAMP_MILLIS/SECONDS inputs (pandas/legacy parquet writers)
    must round-trip to the same INSTANT — the old path tagged them
    ts_ns without rescaling, decoding wrong values under a PASSING
    checksum (review-confirmed corruption)."""
    import pyarrow as pa

    from chimp_spark import framing

    vals = [1_600_000_000_123, 1_600_000_111_456, None]
    arr_ms = pa.array(vals, pa.timestamp("ms"))
    blob, meta = framing.encode_chunk(arr_ms, codec="auto")
    out = framing.decode_chunk(memoryview(blob))
    assert out.type == pa.timestamp("us")
    assert out.cast(pa.timestamp("ms")).to_pylist() == arr_ms.to_pylist()

    arr_s = pa.array([1_600_000_000, 1_600_000_111], pa.timestamp("s"))
    blob, _ = framing.encode_chunk(arr_s, codec="auto")
    out = framing.decode_chunk(memoryview(blob))
    assert out.cast(pa.timestamp("s")).to_pylist() == arr_s.to_pylist()

    # the type mapper itself refuses un-normalized units loudly
    import pytest as _pytest

    with _pytest.raises(TypeError, match="normalized"):
        framing.dtype_of_arrow(pa.timestamp("ms"))


def test_selector_full_range_int64_no_overflow():
    """xxhash/signature columns span nearly the full int64 range; the
    width screen must use Python ints (numpy subtraction wraps with a
    RuntimeWarning and a bogus width)."""
    import warnings

    import pyarrow as pa

    from chimp_spark import framing

    rng = np.random.default_rng(11)
    vals = rng.integers(np.iinfo(np.int64).min, np.iinfo(np.int64).max,
                        5000, dtype=np.int64)
    vals[0] = np.iinfo(np.int64).min + 2
    vals[1] = np.iinfo(np.int64).max - 2
    with warnings.catch_warnings():
        warnings.simplefilter("error", RuntimeWarning)
        blob, meta = framing.encode_chunk(pa.array(vals), codec="auto")
    out = framing.decode_chunk(memoryview(blob))
    np.testing.assert_array_equal(np.asarray(out), vals)


def test_analytic_sizes_exact():
    """The selector's analytic trial sizes must equal len(encode())
    EXACTLY for every FOR-family codec and ts_chimp/chimp — the r6
    trial fast path replaces full trial encodes with these, so any
    drift would silently change codec selection."""
    rng = np.random.default_rng(42)
    arrays = [
        np.arange(5000, dtype=np.int64) * 7 + 13,
        rng.integers(0, 1000, 5000, dtype=np.int64),
        rng.integers(-(2**40), 2**40, 5000, dtype=np.int64) * 86_400,
        np.repeat(rng.integers(0, 50, 100, dtype=np.int64), 50),
        np.array([5], dtype=np.int64),
        np.array([3, 3, 3, 9], dtype=np.int64),
        np.sort(rng.integers(0, 2**45, 4096, dtype=np.int64)),
        np.array([np.iinfo(np.int64).min + 2, np.iinfo(np.int64).max - 2, 0],
                 dtype=np.int64),
    ]
    from chimp_spark.codecs import light as L

    for iv in arrays:
        assert L.for_bitpack_size(iv) == len(L.for_bitpack_encode(iv))
        assert L.gcd_for_stats(iv)[0] == len(L.gcd_for_encode(iv))
        assert L.delta_bp_size(iv) == len(L.delta_bp_encode(iv))
        assert L.ts_chimp_size(iv) == len(L.ts_chimp_encode(iv))
    floats = [
        rng.normal(0, 1, 5000),
        np.round(rng.normal(100, 5, 5000), 2),
        np.repeat(rng.normal(0, 1, 50), 100),
    ]
    for fv in floats:
        assert L.chimp_block_size(fv) == len(L.chimp_block_encode(fv))


def test_chimp_size_bits_matches_encode():
    """Each XOR codec's size-only length (the C pass's size-only mode,
    and the numpy encoder's total without native code) == its encoder's
    reported total on adversarial inputs (zero XORs, state churn,
    low-byte-zero flag-01 records); the selector's block and xor_split
    sizes == the encoded lengths."""
    from chimp_spark.codecs import light as L
    from chimp_spark.codecs import xor_ref as X

    rng = np.random.default_rng(7)
    cases = [
        rng.normal(0, 1, 3000).view(np.uint64),
        np.repeat(rng.normal(0, 1, 30), 100).view(np.uint64),
        (rng.integers(0, 2**20, 3000, dtype=np.int64) << 8).view(np.uint64),
        np.array([1.5], dtype=np.float64).view(np.uint64),
        np.zeros(100, dtype=np.uint64),
        rng.integers(0, 2**63, 2000, dtype=np.int64).view(np.uint64),
    ]

    def check():
        for bits in cases:
            for codec in ("chimp", "chimpn", "gorilla", "patas"):
                _words, total = getattr(X, f"{codec}_encode")(bits)
                assert getattr(X, f"{codec}_size_bits")(bits) == total, codec
            for codec in ("chimp", "chimpn", "patas"):
                want = len(getattr(L, f"{codec}_block_encode")(bits))
                assert getattr(L, f"{codec}_block_size")(bits) == want, codec
            assert L.xor_split_size(bits) == len(L.xor_split_encode(bits))

    check()
    # numpy twin parity (no-native path)
    import chimp_spark._native as N

    saved = N._FUNCS
    try:
        N._FUNCS = {}
        check()
    finally:
        N._FUNCS = saved


def test_dec_verify_scale_parity():
    """The fused C decimal verify must agree with the numpy reference
    path on every edge: -0.0, half-to-even rounding, 2^53 boundary,
    sub-ULP noise, and plain decimals."""
    import chimp_spark._native as N
    from chimp_spark.codecs import light as L

    rng = np.random.default_rng(3)
    cases = [
        np.round(rng.normal(100, 30, 4000), 2),
        np.round(rng.normal(0, 1, 4000), 4),
        rng.normal(0, 1, 4000),                      # not decimal
        np.array([-0.0, 1.5, 2.25]),                 # -0.0 must fail k
        np.array([0.5, 1.5, 2.5, 3.5]),              # half-to-even
        np.array([2.0**52, 2.0**52 + 0.5]),          # near 2^53 after *10
        np.array([1e15, 2e15]),                      # over 2^53 when scaled
        np.round(rng.normal(100, 30, 4000), 2) + 1e-12,  # sub-ULP noise
        np.array([0.1, 0.2, 0.3]),
    ]
    # a hinted k that overflows 2^53 while k=0 verifies: both paths
    # must move on to the next k
    hinted = [(np.array([1e12, 2e12, 3e12]), 4)]
    saved = N._FUNCS
    for vals, k_hint in [(v, None) for v in cases] + hinted:
        nat_hit = L._dec_for_detect_iv(vals, k_hint=k_hint)
        try:
            N._FUNCS = {}
            ref_hit = L._dec_for_detect_iv(vals, k_hint=k_hint)
        finally:
            N._FUNCS = saved
        if k_hint is not None:
            assert ref_hit is not None and ref_hit[0] == 0
        if ref_hit is None:
            assert nat_hit is None
        else:
            assert nat_hit is not None
            assert nat_hit[0] == ref_hit[0]
            np.testing.assert_array_equal(nat_hit[1], ref_hit[1])
        # and the full encoder round-trips when detection succeeds
        if ref_hit is not None:
            blob = L.dec_for_encode(vals)
            out = L.dec_for_decode(memoryview(blob), vals.size, np.float64)
            assert (out.view(np.uint64) == vals.view(np.uint64)).all()


def test_dict_codes_parity():
    """C dict_encode_block must reproduce pyarrow dictionary_encode
    exactly: first-occurrence code order, same dictionary bytes."""
    import pyarrow as pa

    from chimp_spark import framing

    rng = np.random.default_rng(5)
    cases = [
        pa.array(rng.choice(["A", "N", "R"], 5000).tolist()),
        pa.array(rng.choice(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT", "5-LOW"], 3000).tolist()),
        pa.array([f"v{i % 700}" for i in range(4000)]),
        pa.array(["", "x", "", "xy", "x", ""]),
        pa.array([("s" * (i % 40)) for i in range(2000)]),
    ]
    for dense in cases:
        offs, data = framing._string_block(dense)
        codes, doffs, ddata = framing._dict_codes(offs, data, dense)
        d = dense.dictionary_encode()
        ref_codes = np.asarray(d.indices).astype(np.int64)
        ref_doffs, ref_ddata = framing._string_block(d.dictionary)
        np.testing.assert_array_equal(codes, ref_codes)
        np.testing.assert_array_equal(doffs, ref_doffs)
        np.testing.assert_array_equal(ddata, ref_ddata)


def test_gcd_for_stats_prefix_short_circuit_parity():
    """gcd_for_stats (prefix-gcd shortcuts) must equal the plain full
    np.gcd.reduce on random, grid-aligned and constant-prefix chunks."""
    rng = np.random.default_rng(23)
    cases = [
        rng.integers(-(10**9), 10**9, 20_000, dtype=np.int64),
        rng.integers(0, 10**6, 20_000, dtype=np.int64) * 86_400 + 7,
        rng.integers(0, 1000, 20_000, dtype=np.int64) * 25,
        # prefix on a coarser grid than the whole chunk: the check fails
        np.concatenate([np.arange(5000, dtype=np.int64) * 50,
                        np.arange(15_000, dtype=np.int64) * 10]),
        # constant prefix (prefix gcd 0): the gcd comes from the rest
        np.concatenate([np.zeros(5000, dtype=np.int64),
                        rng.integers(1, 100, 15_000, dtype=np.int64) * 12]),
        np.full(10_000, 42, dtype=np.int64),
    ]
    for iv in cases:
        rel = (iv - iv.min()).view(np.uint64)
        want = max(int(np.gcd.reduce(rel)), 1)
        _size, lo, g, width = L.gcd_for_stats(iv)
        assert (lo, g) == (int(iv.min()), want)
        assert width == (int(rel.max()) // want).bit_length()
