"""The C fast paths must be byte/bit-identical to the pure-Python
reference implementations (which remain the fallback)."""

import numpy as np
import pytest

import chimp_spark._native as native_mod
from chimp_spark.codecs import fsst
from chimp_spark.codecs import xor_ref as X

pytestmark = pytest.mark.skipif(native_mod.get() is None, reason="no C toolchain")


@pytest.fixture()
def no_native(monkeypatch):
    monkeypatch.setattr(native_mod, "_FUNCS", {})
    yield
    monkeypatch.setattr(native_mod, "_FUNCS", None)


def _data():
    rng = np.random.default_rng(3)
    walk = (48.0 + np.cumsum(rng.normal(0, 0.2, 50_000))).view(np.uint64)
    uni = rng.integers(0, 2**64, 50_000, dtype=np.uint64)
    runs = np.repeat(rng.integers(0, 2**64, 100, dtype=np.uint64), 500)
    return {"walk": walk, "uniform": uni, "runs": runs}


@pytest.mark.parametrize("codec", ["chimp", "chimpn", "gorilla", "patas"])
def test_decode_native_equals_python(codec, no_native, monkeypatch):
    enc = getattr(X, f"{codec}_encode")
    dec = getattr(X, f"{codec}_decode")
    for name, bits in _data().items():
        words, _ = enc(bits)
        py = dec(words, n_values=bits.size)  # native disabled by fixture
        monkeypatch.setattr(native_mod, "_FUNCS", None)  # re-enable
        nat = dec(words, n_values=bits.size)
        monkeypatch.setattr(native_mod, "_FUNCS", {})  # disable again
        np.testing.assert_array_equal(py, nat, err_msg=f"{codec}/{name}")
        np.testing.assert_array_equal(nat, bits)


@pytest.mark.parametrize("codec", ["chimp", "chimpn", "gorilla", "patas"])
def test_decode_bytes_native_equals_python(codec, no_native, monkeypatch):
    """The big-endian byte entry points (what block decode hands a
    frame's payload to) decode what the word decoders decode, C and
    Python alike, in framed and reference mode, also from an unaligned
    buffer, and raise on a cut stream on both paths."""
    enc = getattr(X, f"{codec}_encode")
    dec_bytes = getattr(X, f"{codec}_decode_bytes")
    for name, bits in _edge_cases().items():
        if not bits.size:
            continue
        ref_bits = bits[bits != X.NAN_SENTINEL]  # reference mode holds no sentinel
        framed = enc(bits)[0].astype(">u8").tobytes()
        closed = enc(ref_bits, reference_close=True)[0].astype(">u8").tobytes()
        # one leading pad byte: the payload starts off word alignment,
        # as ts_chimp's does inside its frame
        unaligned = np.frombuffer(b"\0" + framed, dtype=np.uint8)[1:]
        got = {}
        for funcs in ({}, None):  # Python, then C
            monkeypatch.setattr(native_mod, "_FUNCS", funcs)
            tag = f"{codec}/{name}/{'C' if funcs is None else 'py'}"
            got[funcs is None] = dec_bytes(np.frombuffer(framed, np.uint8), n_values=bits.size)
            np.testing.assert_array_equal(got[funcs is None], bits, err_msg=tag)
            np.testing.assert_array_equal(dec_bytes(unaligned, n_values=bits.size), bits,
                                          err_msg=tag)
            np.testing.assert_array_equal(
                dec_bytes(np.frombuffer(closed, np.uint8), sentinel=True), ref_bits,
                err_msg=tag)
            with pytest.raises(EOFError):
                dec_bytes(np.frombuffer(framed[:8], np.uint8), n_values=bits.size + 64)
        monkeypatch.setattr(native_mod, "_FUNCS", {})


def _edge_cases():
    """Inputs that steer every branch of the XOR encoders' plans."""
    rng = np.random.default_rng(11)
    specials = np.array(
        [0.0, -0.0, np.inf, -np.inf, 5e-324, -5e-324, 2.2e-308, 1.0, -1.0],
    ).view(np.uint64)
    nans = np.concatenate([
        np.uint64(0x7FF8_0000_0000_0000) | rng.integers(1, 2**51, 50, dtype=np.uint64),
        np.array([0x7FF0_0000_0000_0001, 0xFFF8_0000_0000_0000,
                  0xFFFF_FFFF_FFFF_FFFF], dtype=np.uint64),
    ])
    walk = (48.0 + np.cumsum(rng.normal(0, 0.2, 65_536))).view(np.uint64)
    # every 14-bit LSB pattern recurs exactly 200 values later: the
    # Chimp128/Patas index finds it, but outside the 128-value ring
    far = (rng.integers(0, 2**64, 1000, dtype=np.uint64) & ~np.uint64(0x3FFF)) \
        | (np.arange(1000, dtype=np.uint64) % np.uint64(200))
    far[600:] = far[400:800]  # exact repeats, also 200 apart
    # in-ring repeats and near-repeats (high trailing-zero XORs)
    near = rng.integers(0, 2**64, 3000, dtype=np.uint64)
    near[100::3] = near[50:-50:3][: near[100::3].size] ^ (np.uint64(1) << np.uint64(40))
    near[101::7] = near[1:-100:7][: near[101::7].size]
    # unseen LSB patterns alias to index 0 in Chimp128's zero-initialized
    # index: XORs with the first value of every trailing-zero count 0-13
    # straddle the candidate threshold (trail > 13)
    first = walk[:1]
    alias = first ^ ((rng.integers(0, 2**49, 14, dtype=np.uint64) << np.uint64(15))
                     | (np.uint64(1) << np.arange(14, dtype=np.uint64)))
    a = np.uint64(0x4000000000000000)  # Patas' ambiguous sig_bytes==1, trail==0
    return {
        "empty": np.zeros(0, dtype=np.uint64),
        "one": walk[:1],
        "two": walk[:2],
        "129": walk[:129],
        "65536": walk,
        "specials": rng.choice(np.concatenate([specials, nans]), 4000),
        "nan_payloads": nans,
        "zero_runs": np.repeat(rng.choice(specials, 40), rng.integers(1, 90, 40)),
        "all_zero": np.zeros(300, dtype=np.uint64),
        "same_lsb_far": far,
        "same_lsb_near": near,
        "lsb_alias": np.concatenate([first, alias, walk[1:50]]),
        "patas_ambiguous": np.array([a, a ^ np.uint64(5), a, a ^ np.uint64(1)],
                                    dtype=np.uint64),
    }


@pytest.mark.parametrize("codec", ["chimp", "chimpn", "gorilla", "patas"])
def test_encode_native_equals_numpy(codec, no_native, monkeypatch):
    """Each C encoder pass writes the numpy encoder's words and total in
    framed and reference-close modes (patas with fixed on and off), and
    its size-only mode returns the same length."""
    enc = getattr(X, f"{codec}_encode")
    size_bits = getattr(X, f"{codec}_size_bits")
    variants = [{"fixed": True}, {"fixed": False}] if codec == "patas" else [{}]
    unused = np.zeros(1, dtype=np.uint64)
    for name, bits in _edge_cases().items():
        np_size = size_bits(bits)  # native disabled by fixture
        for kw in variants:
            for close in (False, True):
                want = enc(bits, reference_close=close, **kw)
                monkeypatch.setattr(native_mod, "_FUNCS", None)  # re-enable
                words, total = enc(bits, reference_close=close, **kw)
                flags = [int(kw["fixed"])] if kw else []
                exact = native_mod.get()[f"{codec}_enc"](
                    bits, bits.size, int(close), *flags, 1, unused)
                monkeypatch.setattr(native_mod, "_FUNCS", {})
                tag = f"{codec}/{name}/{kw}/close={close}"
                assert total == want[1], tag
                np.testing.assert_array_equal(words, want[0], err_msg=tag)
                # close() reports padded words; the pass's exact length
                # must still fill exactly those words
                assert (exact + 63) >> 6 == words.size, tag
                if not close:
                    assert exact == total, tag
                if not close and kw.get("fixed", True):
                    assert np_size == total, tag
                    monkeypatch.setattr(native_mod, "_FUNCS", None)
                    assert size_bits(bits) == total, tag
                    monkeypatch.setattr(native_mod, "_FUNCS", {})


def test_selector_same_picks_native_and_numpy(no_native, monkeypatch):
    """choose_codec returns the same (codec, reason) from the C
    size-only trials as from the numpy encoders, on every f64 chunk of
    the float_series workload for seeds 1-3 (sampled-decimal chunks
    whose full chunk is not decimal included)."""
    from benchmark import gen
    from chimp_spark import selector as S
    from chimp_spark.codecs import light as L

    fell_through = 0
    for seed in (1, 2, 3):
        t = gen.float_series(seed, 16, 65_536)
        for col in t.column_names:
            arr = t.column(col).combine_chunks()
            if str(arr.type) != "double":
                continue
            vals = arr.to_numpy(zero_copy_only=False)
            for off in range(0, vals.size, 65_536):
                chunk = np.ascontiguousarray(vals[off : off + 65_536])
                py = S.choose_codec(chunk, "f64")[:2]  # native disabled
                monkeypatch.setattr(native_mod, "_FUNCS", None)
                nat = S.choose_codec(chunk, "f64")[:2]
                monkeypatch.setattr(native_mod, "_FUNCS", {})
                assert nat == py, f"seed {seed} {col}@{off}"
                sample = np.concatenate(
                    [chunk[s] for s in S._sample_slices(chunk.size)])
                if L.dec_for_detect(sample) is not None and "dec_for" not in py[1]:
                    fell_through += 1
    assert fell_through > 0  # the NotDecimalError branch ran


def test_fsst_native_equals_python(no_native, monkeypatch):
    rng = np.random.default_rng(5)
    vocab = "the of and web page data crawl index search content \xff weird".split()
    strings = [(" ".join(rng.choice(vocab, rng.integers(0, 30)))).encode() for _ in range(2000)]
    strings += [b"", b"\xff" * 9, bytes(range(256))]
    data = b"".join(strings)
    offs = np.zeros(len(strings) + 1, dtype=np.int64)
    np.cumsum([len(s) for s in strings], out=offs[1:])
    d = np.frombuffer(data, dtype=np.uint8)
    sample = strings[:300]
    symbols = fsst.train(sample)
    py_lens, py_codes = fsst.compress_strings(offs, d, symbols)  # python path
    monkeypatch.setattr(native_mod, "_FUNCS", None)
    nat_lens, nat_codes = fsst.compress_strings(offs, d, symbols)
    np.testing.assert_array_equal(py_lens, nat_lens)
    assert py_codes == nat_codes
    # and the full frame round-trips
    blob = fsst.encode(offs, d)
    o2, d2 = fsst.decode(memoryview(blob))
    assert d2.tobytes() == data
    np.testing.assert_array_equal(o2, offs)


def test_xor_split_native_equals_python(no_native, monkeypatch):
    from chimp_spark.codecs import light as L

    for bits in _data().values():
        py_buf = L.xor_split_encode(bits)
        py_out = L.xor_split_decode(memoryview(py_buf))
        monkeypatch.setattr(native_mod, "_FUNCS", None)
        nat_buf = L.xor_split_encode(bits)
        nat_out = L.xor_split_decode(memoryview(py_buf))
        monkeypatch.setattr(native_mod, "_FUNCS", {})
        assert nat_buf == py_buf
        np.testing.assert_array_equal(py_out, nat_out)
        np.testing.assert_array_equal(nat_out, bits)


def test_bitpack_bitunpack_native_equals_python(no_native, monkeypatch):
    """bp_fixed/bu_fixed (C) must be byte-identical to the numpy
    scatter/gather across widths incl. word-crossing and width 64."""
    from chimp_spark.codecs import light as L

    rng = np.random.default_rng(9)
    for width in (1, 3, 7, 8, 13, 23, 31, 33, 47, 56, 63, 64):
        vals = rng.integers(0, 2**64, 4097, dtype=np.uint64)
        if width < 64:
            vals &= np.uint64((1 << width) - 1)
        # python reference (native disabled by fixture)
        py_blob = L.bitpack(vals, width)
        py_back = L.bitunpack(memoryview(py_blob), vals.size, width)
        np.testing.assert_array_equal(py_back, vals)
        # native
        monkeypatch.setattr(native_mod, "_FUNCS", None)
        assert native_mod.get() is not None
        c_blob = L.bitpack(vals, width)
        assert c_blob == py_blob, f"width {width}: pack bytes differ"
        c_back = L.bitunpack(memoryview(c_blob), vals.size, width)
        np.testing.assert_array_equal(c_back, vals)
        monkeypatch.setattr(native_mod, "_FUNCS", {})


def test_fsst_decode_native_equals_python(no_native, monkeypatch):
    """The C decode (sizing walk + 8-byte-store copy walk) must produce
    byte-identical (offsets, data) to the numpy escape-parity path,
    including 0xFF-literal runs, empty strings, and full-byte-range
    payloads."""
    rng = np.random.default_rng(7)
    vocab = "the of and web page data crawl index \xff\xff odd".split()
    strings = [(" ".join(rng.choice(vocab, rng.integers(0, 40)))).encode() for _ in range(3000)]
    strings += [b"", b"\xff" * 9, bytes(range(256)), b"\xff"]
    data = b"".join(strings)
    offs = np.zeros(len(strings) + 1, dtype=np.int64)
    np.cumsum([len(s) for s in strings], out=offs[1:])
    blob = fsst.encode(offs, np.frombuffer(data, dtype=np.uint8))
    be_py, data_py = fsst.decode(memoryview(blob))  # native disabled
    monkeypatch.setattr(native_mod, "_FUNCS", None)  # re-enable
    be_nat, data_nat = fsst.decode(memoryview(blob))
    monkeypatch.setattr(native_mod, "_FUNCS", {})
    np.testing.assert_array_equal(be_py, be_nat)
    np.testing.assert_array_equal(np.asarray(data_py), np.asarray(data_nat))
    assert bytes(data_nat) == data


def test_fsst_decode_truncated_escape_guard():
    """A corrupt payload whose LAST code byte is 0xFF (an escape with
    no literal) must be rejected (-1) by both C walks, not read one
    byte out of bounds."""
    import ctypes

    nat = native_mod.get()
    sym_len = np.ones(256, dtype=np.int32)
    codes = np.array([1, 2, 255], dtype=np.uint8)  # trailing escape
    assert nat["fsst_decoded_size"](codes, ctypes.c_long(3), sym_len) == -1

    code_off = np.array([0, 3], dtype=np.int64)
    table = np.zeros(256 * 8, dtype=np.uint8)
    out = np.empty(64, dtype=np.uint8)
    byte_ends = np.zeros(1, dtype=np.int64)
    got = nat["fsst_decode_block"](
        codes, code_off, ctypes.c_long(1), table, sym_len, out,
        ctypes.c_long(64), byte_ends,
    )
    assert got == -1
