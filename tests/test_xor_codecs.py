"""Round-trip oracles for the XOR codec family, using the exact literal
vectors from the reference unit tests (FIXTURES.md F1):

- chimp  /root/reference/src/chimp.rs:324-374
- chimpn /root/reference/src/chimpn.rs:272-294
- patas  /root/reference/src/aligned.rs:210-234
- gorilla /root/reference/src/gorilla.rs:166-188

plus property tests over random/edge-case doubles in framed (count-
based) mode, where NaN payloads are representable.
"""

import math

import numpy as np
import pytest

from chimp_spark.codecs import xor_ref as X

CHIMP_SIMPLE = [
    1.0, 1.0, 16.42, 1.0, 0.00123, 24435.0, 0.0, 420.69, 64.2, 49.4, 48.8,
    46.4, 64.2, 49.4, 48.8, 46.4, 47.9, 48.7, 48.9, 48.8, 46.4, 47.9, 48.7,
    48.9, 123.0, 123.0, 332232.0, 124642356.0, 1.1111111,
]
CHIMP_SIMD = [
    1.0, 1.0, 16.42, 1.0, 0.00123, 24435.0, 0.0, 420.69, 64.2, 49.4, 48.8,
    46.4, 64.2, 49.4, 48.8, 46.4, 47.9, 48.7, 48.9, 48.8, 46.4, 47.9, 48.7,
    48.9, 48.1, 48.12, 1.0, 2.0, 0.3,
]
CLUSTER = [49.4, 48.8, 46.4, 47.9, 48.7, 48.9, 48.8, 46.4, 47.9, 48.7, 48.9]
GORILLA_SIMPLE = [1.0, 1.0, 16.42, 1.0, 0.00123, 24435.0, 0.0, 420.69, 64.2,
                  49.4, 48.8, 46.4]


def f2b(vals):
    return np.asarray(vals, dtype=np.float64).view(np.uint64)


CODECS = {
    "chimp": (X.chimp_encode, X.chimp_decode),
    "chimpn": (X.chimpn_encode, X.chimpn_decode),
    "gorilla": (X.gorilla_encode, X.gorilla_decode),
    "patas": (X.patas_encode, X.patas_decode),
}

VECTORS = {
    "chimp_simple": CHIMP_SIMPLE,
    "chimp_simd": CHIMP_SIMD,
    "cluster": CLUSTER,
    "gorilla_simple": GORILLA_SIMPLE,
}


@pytest.mark.parametrize("codec", CODECS)
@pytest.mark.parametrize("vec", VECTORS)
def test_reference_vectors_sentinel_mode(codec, vec):
    """Reference close() framing: sentinel-terminated, like the Rust tests."""
    enc, dec = CODECS[codec]
    bits = f2b(VECTORS[vec])
    kwargs = {"fixed": False} if codec == "patas" else {}
    words, nbits = enc(bits, reference_close=True, **kwargs)
    assert nbits == words.size * 64  # reference size accounting
    out = dec(words, sentinel=True)
    np.testing.assert_array_equal(out, bits)


@pytest.mark.parametrize("codec", CODECS)
@pytest.mark.parametrize("vec", VECTORS)
def test_reference_vectors_framed_mode(codec, vec):
    enc, dec = CODECS[codec]
    bits = f2b(VECTORS[vec])
    words, _ = enc(bits)
    out = dec(words, n_values=bits.size)
    np.testing.assert_array_equal(out, bits)


def _edge_values():
    tiny = np.finfo(np.float64).tiny
    return [
        0.0, -0.0, 1.0, -1.0, math.inf, -math.inf, tiny, tiny / 2**20,
        np.finfo(np.float64).max, -np.finfo(np.float64).max, 1e-300, 1e300,
        math.pi, -math.pi, 2.0**-1074,
    ]


@pytest.mark.parametrize("codec", CODECS)
def test_edge_values_framed(codec):
    enc, dec = CODECS[codec]
    bits = f2b(_edge_values())
    words, _ = enc(bits)
    np.testing.assert_array_equal(dec(words, n_values=bits.size), bits)


@pytest.mark.parametrize("codec", CODECS)
def test_nan_payload_framed_mode(codec):
    """Framed mode must round-trip real NaNs (incl. the sentinel bit
    pattern) — the reference cannot (in-band terminator, lib.rs:12)."""
    enc, dec = CODECS[codec]
    bits = np.array(
        [np.uint64(0x7FF8000000000000), f2b([1.5])[0], np.uint64(0x7FF8000000000001)],
        dtype=np.uint64,
    )
    words, _ = enc(bits)
    np.testing.assert_array_equal(dec(words, n_values=3), bits)


@pytest.mark.parametrize("codec", CODECS)
@pytest.mark.parametrize("kind", ["walk", "uniform", "runs", "mixed"])
def test_property_roundtrip(codec, kind):
    rng = np.random.default_rng(7)
    n = 4003
    if kind == "walk":
        vals = 48.0 + np.cumsum(rng.normal(0, 0.3, n))
    elif kind == "uniform":
        vals = rng.uniform(-1e9, 1e9, n)
    elif kind == "runs":
        vals = np.repeat(rng.normal(0, 100, 37), n // 37 + 1)[:n]
    else:
        vals = rng.choice(
            np.array(_edge_values() + [42.0, 48.5, 1e6], dtype=np.float64), n
        )
    bits = vals.astype(np.float64).view(np.uint64)
    enc, dec = CODECS[codec]
    words, nbits = enc(bits)
    np.testing.assert_array_equal(dec(words, n_values=n), bits)
    # compression sanity on compressible data (patas pays a 16-bit
    # metadata word per value — aligned.rs:68-69 — so only long runs
    # of identical values are guaranteed below 64 bits/value)
    if kind == "runs" or (kind == "walk" and codec != "patas"):
        assert nbits < 64 * n


@pytest.mark.parametrize("codec", CODECS)
def test_single_and_empty(codec):
    enc, dec = CODECS[codec]
    one = f2b([3.75])
    words, _ = enc(one)
    np.testing.assert_array_equal(dec(words, n_values=1), one)
    words, nbits = enc(np.zeros(0, dtype=np.uint64))
    assert nbits == 0
    np.testing.assert_array_equal(
        dec(np.zeros(0, dtype=np.uint64), n_values=0), np.zeros(0, dtype=np.uint64)
    )


def test_chimp_beats_gorilla_on_clustered():
    """Motivating property from the Chimp paper (README.md:2): better
    ratio than Gorilla on slowly-varying series."""
    rng = np.random.default_rng(3)
    vals = 48.0 + np.round(np.cumsum(rng.normal(0, 0.1, 20000)), 1)
    bits = vals.view(np.uint64)
    _, chimp_bits = X.chimp_encode(bits)
    _, chimpn_bits = X.chimpn_encode(bits)
    _, gor_bits = X.gorilla_encode(bits)
    assert chimpn_bits <= gor_bits
    assert chimp_bits < 64 * vals.size


def test_patas_fixed_handles_ambiguous_case():
    """The case the reference desyncs on (aligned.rs:163-165 vs 71-73):
    xor != 0 with sig_bytes == 1 and trail == 0."""
    a = np.uint64(0x4000000000000000)
    b = a ^ np.uint64(0x5)  # lead >= 56 from a? xor = 0x5: sig_bits=3, trail=0
    bits = np.array([a, b, a, b ^ np.uint64(0x1)], dtype=np.uint64)
    words, _ = X.patas_encode(bits, fixed=True)
    np.testing.assert_array_equal(X.patas_decode(words, n_values=4), bits)


def test_gorilla_sentinel_repetitive_stream():
    """Regression: sentinel-mode decode must size for 1-bit records
    (zero-XOR repeats), not assume >=2 bits/record."""
    vals = np.full(5000, 3.14159).view(np.uint64)
    words, _ = X.gorilla_encode(vals, reference_close=True)
    out = X.gorilla_decode(words, sentinel=True)
    np.testing.assert_array_equal(out, vals)


def test_truncated_streams_raise_not_garbage(monkeypatch):
    """Truncated/corrupt frames must RAISE on both decode paths —
    review-confirmed: the native xor_split read past the payload
    buffer (silent garbage), and the pure-python chimp/gorilla
    decoders returned SHORT arrays or IndexError instead of EOFError."""
    import struct as _struct

    from chimp_spark import _native
    from chimp_spark.codecs import light as L

    rng = np.random.default_rng(5)
    vals = (100.0 + np.cumsum(rng.standard_normal(200) * 0.25)).view(np.uint64)

    # xor_split: truncate payload; both paths must raise
    frame = L.xor_split_encode(vals)
    cut = memoryview(frame[: len(frame) - 10])
    with pytest.raises(ValueError):
        L.xor_split_decode(cut)
    real = _native.get()
    monkeypatch.setattr(_native, "_FUNCS", {})  # force pure-python
    with pytest.raises(ValueError):
        L.xor_split_decode(cut)
    monkeypatch.setattr(_native, "_FUNCS", real or {})

    # chimp / gorilla framed mode: asking for more values than the
    # stream holds must raise EOFError on BOTH paths, never return a
    # short array (and never IndexError)
    # gorilla note: its flag-0 record is ONE bit, so word padding
    # can decode as up to 63 bogus "repeat" records — asking for 500
    # exhausts any padding; the frame's exact n + checksum guard the
    # real decode path
    for enc, dec in ((X.chimp_encode, X.chimp_decode),
                     (X.gorilla_encode, X.gorilla_decode)):
        words, _bits = enc(vals[:10])
        for funcs in (real or {}, {}):
            monkeypatch.setattr(_native, "_FUNCS", funcs)
            with pytest.raises(EOFError):
                dec(words, n_values=500)
            # truncating words mid-stream: EOFError, not IndexError
            with pytest.raises(EOFError):
                dec(words[: max(len(words) // 2, 2)], n_values=10)
        monkeypatch.setattr(_native, "_FUNCS", real or {})

    # patas through the block decoder, which decodes the frame's bytes
    # as stored: a frame cut inside the first value, mid-stream, or
    # past its last word's padding must raise on both paths
    frame = L.patas_block_encode(vals)
    for funcs in (real or {}, {}):
        monkeypatch.setattr(_native, "_FUNCS", funcs)
        for cut in (12, len(frame) // 2, len(frame) - 9):
            with pytest.raises(EOFError):
                L.patas_block_decode(memoryview(frame[:cut]), vals.size,
                                     np.dtype(np.float64))
    monkeypatch.setattr(_native, "_FUNCS", real or {})


@pytest.mark.parametrize("path", ["native", "fallback"])
@pytest.mark.parametrize("codec", ["chimp", "chimpn", "gorilla", "patas"])
def test_reference_mode_empty_stream_decodes_empty(codec, path, monkeypatch):
    """close() on no values writes only the terminator (the NaN
    sentinel as the first value; Patas' 0xffff metadata): reference
    mode decodes that to no values, not to the terminator as a value,
    through the words and the byte entry points. Framed mode carries
    its count and decodes empty from the same stream."""
    from chimp_spark import _native

    if path == "native" and _native.get() is None:
        pytest.skip("no C toolchain")
    monkeypatch.setattr(_native, "_FUNCS", None if path == "native" else {})
    words, _ = getattr(X, f"{codec}_encode")(np.zeros(0, np.uint64), reference_close=True)
    assert getattr(X, f"{codec}_decode")(words, sentinel=True).size == 0
    buf8 = words.astype(">u8").view(np.uint8)
    assert getattr(X, f"{codec}_decode_bytes")(buf8, sentinel=True).size == 0
    assert getattr(X, f"{codec}_decode")(words, n_values=0).size == 0
    # one value whose bits lead like the terminator still decodes
    one = np.array([0xFFFF_0000_0000_0001], dtype=np.uint64)
    words, _ = getattr(X, f"{codec}_encode")(one, reference_close=True)
    np.testing.assert_array_equal(getattr(X, f"{codec}_decode")(words, sentinel=True), one)
