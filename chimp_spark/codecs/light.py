"""Lightweight columnar codecs beyond the reference's XOR family.

The reference compresses only f64 streams (lib.rs:44-50). The north
rule generalizes it into a per-column lightweight-codec suite:
dictionary, RLE, bit-packing, frame-of-reference, delta, Chimp over
timestamp deltas (the reference's own TODO — chimp.rs:167 "NOTE:
timestamps?", gorilla.rs:63), plus a byte-aligned split-stream XOR
float codec designed here for fully-vectorized encode AND decode.

All payload formats are little-endian and self-contained given the
value count ``n`` (carried by the chunk frame — no in-band sentinel,
unlike lib.rs:12). Numeric kernels take/return numpy arrays; string
kernels use Arrow's (offsets, data) layout so no per-row Python
objects are ever created.
"""

from __future__ import annotations

import struct
import zlib

import numpy as np

from ..bitio import scatter_bits, unpack_fields
from . import xor_ref as X

_U64 = np.uint64


# ---------------------------------------------------------------------------
# fixed-width bit-packing primitive (generalizes write_bits,
# bitstream.rs:103-120, to one vectorized pass)
# ---------------------------------------------------------------------------

import sys as _sys

_LE_HOST = _sys.byteorder == "little"


def _be_bytes(words: np.ndarray) -> bytes:
    """words (host-endian u64, exclusively owned by the caller) ->
    big-endian bytes. In-place byteswap on LE hosts skips the extra
    array astype('>u8') would allocate."""
    if _LE_HOST:
        words.byteswap(inplace=True)
        return words.tobytes()
    return words.astype(">u8").tobytes()


def bitpack(values: np.ndarray, width: int) -> bytes:
    """Pack non-negative uint64 values at fixed ``width`` bits, MSB-first."""
    n = values.size
    if width == 0 or n == 0:
        return b""
    total = n * width
    nwords = (total + 63) >> 6
    from .. import _native

    nat = _native.get()
    if nat is not None:
        out = np.zeros(nwords + 1, dtype=np.uint64)
        nat["bp_fixed"](
            np.ascontiguousarray(values, dtype=np.uint64), n, width, out
        )
        return _be_bytes(out[:nwords])
    out = np.zeros(nwords + 1, dtype=np.uint64)
    offsets = np.arange(n, dtype=np.int64) * width
    scatter_bits(out, offsets, values.astype(np.uint64, copy=False),
                 np.full(n, width, dtype=np.int64))
    return _be_bytes(out[:nwords])


def _bitpack_i64(iv: np.ndarray, lo: int, g: int, width: int) -> bytes:
    """pack(((iv - lo) as u64) // g, width) — fused C single pass when
    available, else the numpy passes. Byte-identical to
    bitpack(((iv - lo).view/astype(u64)) // g, width)."""
    n = iv.size
    if width == 0 or n == 0:
        return b""
    nwords = (n * width + 63) >> 6
    from .. import _native

    nat = _native.get()
    if nat is not None and -(2**63) <= lo < 2**63:
        out = np.zeros(nwords + 1, dtype=np.uint64)
        nat["bp_fixed_i64"](
            np.ascontiguousarray(iv, dtype=np.int64), n, lo, g, width, out
        )
        return _be_bytes(out[:nwords])
    rel = (iv - lo).view(np.uint64) if iv.dtype == np.int64 else (
        iv.astype(np.int64) - lo
    ).view(np.uint64)
    if g > 1:
        rel = rel // np.uint64(g)
    return bitpack(rel, width)


def bitunpack(buf: memoryview | bytes, n: int, width: int) -> np.ndarray:
    """Inverse of :func:`bitpack` — C fixed-width walk when available,
    else one vectorized numpy gather."""
    if width == 0 or n == 0:
        return np.zeros(n, dtype=np.uint64)
    from .. import _native

    nat = _native.get()
    if nat is not None:
        nwords = (n * width + 63) >> 6
        raw = np.frombuffer(buf, dtype=np.uint8, count=nwords * 8)
        out = np.empty(n, dtype=np.uint64)
        nat["bu_fixed"](np.ascontiguousarray(raw), n, width, out)
        return out
    words = np.frombuffer(buf, dtype=">u8", count=(n * width + 63) >> 6).astype("=u8")
    offsets = np.arange(n, dtype=np.uint64) * _U64(width)
    return unpack_fields(words, offsets, np.full(n, width, dtype=np.uint64))


# ---------------------------------------------------------------------------
# analytic frame sizes — exact len(encode(vals)) without encoding
# ---------------------------------------------------------------------------
# The FOR family's output length is a pure function of (n, bit width):
# header + ceil(n*width/64) big-endian words. The selector's trials
# only need lengths, so computing them from min/max/gcd stats skips
# the bit-packing entirely. ts_chimp and the XOR codecs need a real
# plan pass but not the pack: their sizes (ts_chimp_size here,
# *_block_size and xor_split_size next to the encoders) run the C
# passes' size-only mode. Pinned equal to the encoders by
# tests/test_light_codecs.py::test_analytic_sizes_exact and
# ::test_chimp_size_bits_matches_encode.

def _bp_nbytes(n: int, width: int) -> int:
    if width == 0 or n == 0:
        return 0
    return ((n * width + 63) >> 6) * 8


def for_bitpack_size(vals: np.ndarray) -> int:
    iv = vals.astype(np.int64, copy=False)
    width = (int(iv.max()) - int(iv.min())).bit_length()
    return 9 + _bp_nbytes(iv.size, width)


def gcd_for_stats(vals: np.ndarray) -> tuple[int, int, int, int]:
    """(frame size, lo, g, width) — the expensive full-chunk gcd is
    computed once and reusable by gcd_for_encode via pre=."""
    iv = vals.astype(np.int64, copy=False)
    lo = int(iv.min())
    rel = (iv - lo).view(np.uint64)
    if rel.size > 8192:
        # gcd(full) divides gcd(sample); if gcd(sample) also divides
        # every element it IS gcd(full). The divisibility check (one
        # vectorized modulo) is ~2x cheaper than the elementwise
        # Euclid reduce, and on grid-aligned data (the case where
        # gcd_for wins) it almost always verifies.
        gs = int(np.gcd.reduce(rel[:4096]))
        if gs == 1:  # gcd(full) divides 1: no full reduce needed
            g = 1
        elif gs > 1 and not (rel % np.uint64(gs)).any():
            g = gs
        else:  # gs == 0 (constant prefix) says nothing about the rest
            g = int(np.gcd.reduce(rel))
    else:
        g = int(np.gcd.reduce(rel)) if rel.size else 0
    if g <= 1:
        g = 1
    mx = int(rel.max()) if rel.size else 0
    # max(rel // g) == max(rel) // g: dividing by one positive g is
    # monotone over the unsigned distances
    width = (mx // g).bit_length()
    return 17 + _bp_nbytes(iv.size, width), lo, g, width


def delta_bp_size(vals: np.ndarray) -> int:
    iv = vals.astype(np.int64, copy=False)
    if iv.size == 1:
        return 8
    d = np.diff(iv)  # wraps exactly like the encoder's np.diff
    width = (int(d.max()) - int(d.min())).bit_length()
    return 8 + 9 + _bp_nbytes(d.size, width)


def ts_chimp_size(vals: np.ndarray) -> int:
    iv = vals.astype(np.int64, copy=False)
    if iv.size <= 1:
        return 9
    d = np.diff(iv)
    zz = ((d << 1) ^ (d >> 63)).view(np.uint64)
    width = int(zz.max()).bit_length()
    shift = 64 - max(width, 1)
    total = X.chimp_size_bits(zz << np.uint64(shift))
    return 9 + ((total + 63) >> 6) * 8


# ---------------------------------------------------------------------------
# PLAIN / CONST
# ---------------------------------------------------------------------------

def plain_encode(vals: np.ndarray) -> bytes:
    return np.ascontiguousarray(vals).tobytes()


def plain_decode(buf: memoryview, n: int, dtype: np.dtype) -> np.ndarray:
    return np.frombuffer(buf, dtype=dtype, count=n)


def const_encode(vals: np.ndarray) -> bytes:
    return np.ascontiguousarray(vals[:1]).tobytes()


def const_decode(buf: memoryview, n: int, dtype: np.dtype) -> np.ndarray:
    one = np.frombuffer(buf, dtype=dtype, count=1)
    return np.broadcast_to(one, (n,))


# ---------------------------------------------------------------------------
# FOR + bit-pack (frame-of-reference)
# ---------------------------------------------------------------------------

def for_bitpack_encode(vals: np.ndarray) -> bytes:
    """<i64 min><u8 width> + fixed-width packed (vals - min).

    Applies to any integer-kind column (and dictionary codes / run
    lengths). Width is exact: ceil(log2(max - min + 1)).
    """
    iv = vals.astype(np.int64, copy=False)
    lo = int(iv.min())
    hi = int(iv.max())
    width = (hi - lo).bit_length()
    header = struct.pack("<qB", lo, width)
    if width == 0:
        return header
    return header + _bitpack_i64(iv, lo, 1, width)


def for_bitpack_decode(buf: memoryview, n: int, dtype: np.dtype) -> np.ndarray:
    lo, width = struct.unpack_from("<qB", buf, 0)
    if width == 0:
        return np.full(n, lo, dtype=dtype)
    rel = bitunpack(buf[9:], n, width)
    return (rel.astype(np.int64) + lo).astype(dtype, copy=False)


# ---------------------------------------------------------------------------
# GCD-scaled FOR: ints/timestamps on a coarse grid [new]
# ---------------------------------------------------------------------------
# Date-aligned timestamps (multiples of 86_400e6 us), second-aligned
# logs (1e6), money-in-cents ints etc. share a large GCD; dividing it
# out before FOR collapses the bit width (l_shipdate: 48 -> 13 bits).
# Always exact: the divisor is computed on the full chunk and stored.

def gcd_for_encode(
    vals: np.ndarray, pre: tuple[int, int, int] | None = None
) -> bytes:
    iv = vals.astype(np.int64, copy=False)
    if pre is not None:
        lo, g, width = pre  # gcd_for_stats already paid the gcd scan
    else:
        lo = int(iv.min())
        # (iv - lo) can exceed int64 range (e.g. min=-2^62, max=2^62);
        # the int64 subtraction wraps, so reinterpret as uint64 — the
        # wrapped bit pattern IS the true unsigned distance
        rel = (iv - lo).view(np.uint64)
        g = int(np.gcd.reduce(rel)) if rel.size else 0
        if g <= 1:
            g = 1
        mx = int(rel.max()) if rel.size else 0
        width = (mx // g).bit_length()
    header = struct.pack("<qQB", lo, g, width)
    if width == 0:
        return header
    return header + _bitpack_i64(iv, lo, g, width)


def gcd_for_decode(buf: memoryview, n: int, dtype: np.dtype) -> np.ndarray:
    lo, g, width = struct.unpack_from("<qQB", buf, 0)
    if width == 0:
        return np.full(n, lo, dtype=dtype)
    rel = bitunpack(buf[17:], n, width)
    # uint64 multiply + two's-complement wrap-add of lo inverts encode
    out = (rel * np.uint64(g)).view(np.int64) + np.int64(lo)
    return out.astype(dtype, copy=False)


# ---------------------------------------------------------------------------
# DELTA + FOR bit-pack (sorted / near-sorted ints, ids, dates)
# ---------------------------------------------------------------------------

def delta_bp_encode(vals: np.ndarray) -> bytes:
    """<i64 first> + FOR-bitpacked deltas (FOR absorbs negative deltas)."""
    iv = vals.astype(np.int64, copy=False)
    header = struct.pack("<q", int(iv[0]))
    if iv.size == 1:
        return header
    return header + for_bitpack_encode(np.diff(iv))


def delta_bp_decode(buf: memoryview, n: int, dtype: np.dtype) -> np.ndarray:
    first = struct.unpack_from("<q", buf, 0)[0]
    out = np.empty(n, dtype=np.int64)
    out[0] = first
    if n > 1:
        deltas = for_bitpack_decode(buf[8:], n - 1, np.int64)
        np.cumsum(deltas, out=out[1:])
        out[1:] += first
    return out.astype(dtype, copy=False)


# ---------------------------------------------------------------------------
# RLE (run-length) — works on any numeric; strings go through DICT first
# ---------------------------------------------------------------------------

def rle_encode(vals: np.ndarray) -> bytes:
    """<u32 nruns> + FOR-bitpacked run lengths + run values (plain).

    Run detection is one vectorized diff (SURVEY.md §2.7).
    """
    n = vals.size
    if vals.dtype.kind == "f":
        # compare bit patterns so NaN runs collapse too
        cmp = vals.view(np.uint64 if vals.dtype.itemsize == 8 else np.uint32)
    else:
        cmp = vals
    starts = np.empty(n, dtype=bool)
    starts[0] = True
    np.not_equal(cmp[1:], cmp[:-1], out=starts[1:])
    idx = np.flatnonzero(starts)
    run_vals = vals[idx]
    run_lens = np.diff(np.append(idx, n))
    lens_blob = for_bitpack_encode(run_lens)
    return (
        struct.pack("<II", idx.size, len(lens_blob))
        + lens_blob
        + np.ascontiguousarray(run_vals).tobytes()
    )


def rle_decode(buf: memoryview, n: int, dtype: np.dtype) -> np.ndarray:
    nruns, lens_sz = struct.unpack_from("<II", buf, 0)
    run_lens = for_bitpack_decode(buf[8 : 8 + lens_sz], nruns, np.int64)
    run_vals = np.frombuffer(buf[8 + lens_sz :], dtype=dtype, count=nruns)
    return np.repeat(run_vals, run_lens)


# ---------------------------------------------------------------------------
# DEC_FOR — decimal-float detection (ALP-style, VLDB'23 insight) [new]
# ---------------------------------------------------------------------------
# Price/measurement doubles are usually decimals (48.8, 104950.25).
# Scaling by 10^k yields small integers that FOR/delta pack in ~half
# the bits of any XOR codec. Strictly lossless: encode verifies every
# value reconstructs BIT-identically (round-trip through the same
# double division decode performs) and raises otherwise, so the
# selector/framing falls back to the XOR family. -0.0, NaN, inf and
# sub-ULP noise all fail verification and fall back automatically.

class NotDecimalError(ValueError):
    pass


def _dec_for_detect_iv(
    vals: np.ndarray, max_k: int = 4, k_hint: int | None = None
) -> tuple[int, np.ndarray] | None:
    """(k, scaled int64 values) for the smallest verified k, or None.
    Returning the scaled ints saves the encoder a second round+cast
    pass over the chunk."""
    if vals.size == 0 or not np.isfinite(vals).all():
        return None
    bits = vals.view(np.uint64)
    ks = list(range(0, max_k + 1))
    if k_hint is not None and k_hint in ks:
        ks.remove(k_hint)
        ks.insert(0, k_hint)
    from .. import _native

    nat = _native.get()
    if nat is not None:
        # fused C pass: rint/range-check/cast/div/bit-compare per value
        # (exact numpy semantics — pinned by test_dec_verify_scale_parity)
        v = np.ascontiguousarray(vals, dtype=np.float64)
        out = np.empty(v.size, dtype=np.int64)
        for k in ks:
            if nat["dec_verify_scale"](v, v.size, k, out):
                return k, out
        return None
    for k in ks:
        mult = np.float64(10.0**k)
        iv = np.round(vals * mult)
        if np.abs(iv).max() >= 2**53:
            # a hinted k can overflow where a smaller k fits: move on,
            # as the C dec_verify_scale path does
            continue
        # verify through the EXACT decode path (int64 cast loses the
        # sign of -0.0, so it must be part of the check)
        iv64 = iv.astype(np.int64)
        recon = iv64 / mult
        if (recon.view(np.uint64) == bits).all():
            return k, iv64
    return None


def dec_for_detect(vals: np.ndarray, max_k: int = 4, k_hint: int | None = None) -> int | None:
    """Smallest k (0..max_k) such that vals == round(vals*10^k)/10^k
    bit-exactly; None if no k works. ``k_hint`` (e.g. from a sampled
    detection) is verified first — it's still a full bit-exact check,
    just skipping the scan over smaller k."""
    hit = _dec_for_detect_iv(vals, max_k, k_hint)
    return None if hit is None else hit[0]


def dec_for_encode(vals: np.ndarray, k_hint: int | None = None) -> bytes:
    """<u8 k><u8 inner: 0=FOR,1=delta> + int blob. Raises
    NotDecimalError when the chunk is not exactly decimal."""
    hit = _dec_for_detect_iv(vals, k_hint=k_hint)
    if hit is None:
        raise NotDecimalError("chunk is not decimal-representable")
    k, iv = hit
    # analytic inner choice: only the winner is actually bit-packed
    if iv.size and delta_bp_size(iv) < for_bitpack_size(iv):
        return struct.pack("<BB", k, 1) + delta_bp_encode(iv)
    return struct.pack("<BB", k, 0) + for_bitpack_encode(iv)


def dec_for_decode(buf: memoryview, n: int, dtype: np.dtype) -> np.ndarray:
    k, inner = struct.unpack_from("<BB", buf, 0)
    dec = delta_bp_decode if inner else for_bitpack_decode
    iv = dec(buf[2:], n, np.int64)
    return (iv / np.float64(10.0**k)).astype(dtype, copy=False)


# ---------------------------------------------------------------------------
# XOR_SPLIT — the engine's production float codec [new]
# ---------------------------------------------------------------------------
# Split-stream, byte-aligned XOR-against-previous: per value one control
# byte (sig_bytes(4 bits) | trail_bytes(3 bits)) in a contiguous control
# stream, significant bytes in a contiguous payload stream. Unlike the
# reference formats (bit-granular, interleaved — chimp.rs:53-85), BOTH
# directions vectorize completely: decode is cumsum + 2D scatter +
# prefix-XOR, no sequential header scan. Ratio sits between Patas and
# Chimp; throughput is the highest of the family.

def xor_split_encode(bits: np.ndarray) -> bytes:
    bits = np.ascontiguousarray(bits, dtype=np.uint64)
    n = bits.size
    head = struct.pack("<IQ", n, int(bits[0]) if n else 0)
    if n <= 1:
        return head
    from .. import _native

    nat = _native.get()
    if nat is not None:
        m = n - 1
        ctrl = np.empty(m, dtype=np.uint8)
        payload = np.empty(m * 8, dtype=np.uint8)
        plen = nat["xs_enc"](bits, n, 0, ctrl, payload)
        return head + ctrl.tobytes() + payload[:plen].tobytes()
    xor = bits[1:] ^ bits[:-1]
    m = n - 1
    tzb = np.minimum(X.ctz64(xor) >> _U64(3), _U64(7))  # trailing zero bytes
    lead = X.clz64(xor).astype(np.int64)
    sig_bits = np.maximum(
        np.int64(64) - lead - (tzb << _U64(3)).astype(np.int64), np.int64(0)
    )
    s = (sig_bits + 7) >> 3  # significant bytes; 0 iff xor == 0
    ctrl = ((s.astype(np.uint64) << _U64(3)) | tzb).astype(np.uint8)

    shifted = xor >> (tzb << _U64(3))
    mat = shifted.view(np.uint8).reshape(m, 8)  # little-endian byte lanes
    total = int(s.sum())
    row = np.repeat(np.arange(m, dtype=np.int64), s)
    ends = np.cumsum(s)
    col = np.arange(total, dtype=np.int64) - np.repeat(ends - s, s)
    payload = mat[row, col]
    return head + ctrl.tobytes() + payload.tobytes()


def xor_split_size(bits: np.ndarray) -> int:
    """len(xor_split_encode(bits)) without writing the streams: the
    header, one control byte per value after the first, the payload."""
    bits = np.ascontiguousarray(bits, dtype=np.uint64)
    n = bits.size
    from .. import _native

    nat = _native.get()
    if nat is None:
        return len(xor_split_encode(bits))
    if n <= 1:
        return 12
    unused = np.zeros(1, dtype=np.uint8)  # size-only: never written
    return 12 + (n - 1) + int(nat["xs_enc"](bits, n, 1, unused, unused))


def xor_split_decode(buf: memoryview, n_unused: int = 0) -> np.ndarray:
    n, first = struct.unpack_from("<IQ", buf, 0)
    out = np.empty(n, dtype=np.uint64)
    if n == 0:
        return out
    out[0] = first
    if n == 1:
        return out
    m = n - 1
    from .. import _native

    nat = _native.get()
    if nat is not None:
        ctrl = np.ascontiguousarray(np.frombuffer(buf, dtype=np.uint8, count=m, offset=12))
        payload = np.ascontiguousarray(np.frombuffer(buf, dtype=np.uint8, offset=12 + m))
        need = int((ctrl >> 3).astype(np.int64).sum())
        if need > payload.size:
            # C xs_dec trusts the ctrl stream's byte counts — on a
            # truncated frame it would read past the buffer and
            # return garbage as a successful decode (the python
            # twin's frombuffer raises for the same input)
            raise ValueError(
                f"xor_split frame truncated: ctrl stream needs {need} "
                f"payload bytes, frame has {payload.size}"
            )
        if payload.size == 0:
            payload = np.zeros(1, dtype=np.uint8)
        nat["xs_dec"](ctrl, m, payload, first, out)
        return out
    ctrl = np.frombuffer(buf, dtype=np.uint8, count=m, offset=12)
    s = (ctrl >> 3).astype(np.int64)
    tzb = (ctrl & 7).astype(np.uint64)
    total = int(s.sum())
    payload = np.frombuffer(buf, dtype=np.uint8, count=total, offset=12 + m)
    mat = np.zeros((m, 8), dtype=np.uint8)
    row = np.repeat(np.arange(m, dtype=np.int64), s)
    ends = np.cumsum(s)
    col = np.arange(total, dtype=np.int64) - np.repeat(ends - s, s)
    mat[row, col] = payload
    xor = mat.view(np.uint64)[:, 0] << (tzb << _U64(3))
    np.bitwise_xor.accumulate(xor, out=xor)
    out[1:] = _U64(first) ^ xor
    return out


# ---------------------------------------------------------------------------
# BSS — byte-stream split + deflate (f32/f64 lanes) [new]
# ---------------------------------------------------------------------------
# The reference's XOR family is f64-only (lib.rs:44-50); float32
# payloads (embedding tables — the largest float payload of an LLM
# pipeline) need their own path. Byte-stream split (Parquet
# BYTE_STREAM_SPLIT / BtrBlocks-style) groups each byte lane of the
# IEEE words contiguously: sign+exponent lanes are low-entropy and
# deflate well, mantissa lanes of real-valued data stay near-random
# and are stored raw when compression doesn't pay (per-lane flag).
# For i.i.d. random embeddings the information-theoretic bound is
# ~32/25 bits (mantissas incompressible); quantized or fp16-upcast
# embeddings compress 2x+.

def bss_encode(vals: np.ndarray, level: int = 2) -> bytes:
    """<u8 itemsize><u8 lane-compressed bitmask> + per lane
    <u32 len><bytes>: lane i deflated iff bit i set (raw otherwise)."""
    # lanes are defined over LITTLE-ENDIAN words (the module-wide
    # payload invariant); on BE hosts this astype byteswaps, on LE
    # it's a no-op view
    b = np.ascontiguousarray(vals)
    b = b.astype(b.dtype.newbyteorder("<"), copy=False)
    itemsize = b.dtype.itemsize
    n = b.size
    lanes = b.view(np.uint8).reshape(n, itemsize) if n else np.zeros((0, itemsize), np.uint8)
    parts: list[bytes] = []
    mask = 0
    for i in range(itemsize):
        raw = np.ascontiguousarray(lanes[:, i]).tobytes()
        comp = zlib.compress(raw, level)
        if len(comp) < 0.98 * len(raw):
            mask |= 1 << i
            parts.append(struct.pack("<I", len(comp)) + comp)
        else:
            parts.append(struct.pack("<I", len(raw)) + raw)
    return struct.pack("<BB", itemsize, mask) + b"".join(parts)


def bss_decode(buf: memoryview, n: int, dtype: np.dtype) -> np.ndarray:
    itemsize, mask = struct.unpack_from("<BB", buf, 0)
    pos = 2
    lanes = np.empty((n, itemsize), dtype=np.uint8)
    for i in range(itemsize):
        ln = struct.unpack_from("<I", buf, pos)[0]
        pos += 4
        raw = bytes(buf[pos : pos + ln])
        pos += ln
        if mask & (1 << i):
            raw = zlib.decompress(raw)
        lanes[:, i] = np.frombuffer(raw, dtype=np.uint8, count=n)
    le = np.ascontiguousarray(lanes).view(np.dtype(dtype).newbyteorder("<")).ravel()
    return le.astype(dtype, copy=False)  # byteswap only on BE hosts


# ---------------------------------------------------------------------------
# TS_CHIMP — delta + Chimp for timestamps [new; reference TODO chimp.rs:167]
# ---------------------------------------------------------------------------

def ts_chimp_encode(vals: np.ndarray) -> bytes:
    """<i64 first><u8 shift> + Chimp over MSB-aligned zigzag deltas.

    Chimp's bit plan targets f64 patterns whose information sits in the
    HIGH bits (leading-zero classes cap at 24 — lib.rs:22-26), so raw
    small-int deltas would waste ~40 payload bits each. Zigzag folds
    the sign, then a constant left shift (stored in the header) aligns
    the deltas' MSBs to bit 63: XORs get long *trailing*-zero runs and
    hit Chimp's cheap flag-01 path (chimp.rs:63-73).
    """
    iv = vals.astype(np.int64, copy=False)
    if iv.size <= 1:
        return struct.pack("<qB", int(iv[0]) if iv.size else 0, 0)
    d = np.diff(iv)
    zz = ((d << 1) ^ (d >> 63)).view(np.uint64)
    width = int(zz.max()).bit_length()
    shift = 64 - max(width, 1)
    words, _ = X.chimp_encode(zz << np.uint64(shift))
    return struct.pack("<qB", int(iv[0]), shift) + _be_bytes(words)


def ts_chimp_decode(buf: memoryview, n: int, dtype: np.dtype) -> np.ndarray:
    first, shift = struct.unpack_from("<qB", buf, 0)
    out = np.empty(n, dtype=np.int64)
    if n == 0:
        return out.astype(dtype, copy=False)
    out[0] = first
    if n > 1:
        payload = np.frombuffer(buf, dtype=np.uint8, offset=9)
        zz = X.chimp_decode_bytes(payload, n_values=n - 1) >> _U64(shift)
        # inverse zigzag: (zz >> 1) ^ -(zz & 1)
        deltas = (zz >> _U64(1)).astype(np.int64) ^ -((zz & _U64(1)).astype(np.int64))
        np.cumsum(deltas, out=out[1:])
        out[1:] += first
    return out.astype(dtype, copy=False)


# ---------------------------------------------------------------------------
# XOR bit-stream codecs framed for the engine (count-based, no sentinel)
# ---------------------------------------------------------------------------

def _xorwords_encode(enc):
    def f(vals: np.ndarray) -> bytes:
        bits = vals.view(np.uint64) if vals.dtype != np.uint64 else vals
        words, nbits = enc(bits)
        return struct.pack("<Q", nbits) + _be_bytes(words)

    return f


def _xorwords_size(size_bits):
    def f(vals: np.ndarray) -> int:
        bits = vals.view(np.uint64) if vals.dtype != np.uint64 else vals
        return 8 + ((size_bits(bits) + 63) >> 6) * 8

    return f


def _xorwords_decode(dec_bytes):
    # the decoder reads the frame's big-endian words as stored, with no
    # copy into host-order words
    def f(buf: memoryview, n: int, dtype: np.dtype) -> np.ndarray:
        if n == 0:
            return np.zeros(0, dtype=dtype)
        return dec_bytes(np.frombuffer(buf, dtype=np.uint8, offset=8), n_values=n).view(dtype)

    return f


chimp_block_encode = _xorwords_encode(X.chimp_encode)
chimp_block_decode = _xorwords_decode(X.chimp_decode_bytes)
chimp_block_size = _xorwords_size(X.chimp_size_bits)
chimpn_block_encode = _xorwords_encode(X.chimpn_encode)
chimpn_block_decode = _xorwords_decode(X.chimpn_decode_bytes)
chimpn_block_size = _xorwords_size(X.chimpn_size_bits)
gorilla_block_encode = _xorwords_encode(X.gorilla_encode)
gorilla_block_decode = _xorwords_decode(X.gorilla_decode_bytes)
patas_block_encode = _xorwords_encode(X.patas_encode)
patas_block_decode = _xorwords_decode(X.patas_decode_bytes)
patas_block_size = _xorwords_size(X.patas_size_bits)


# ---------------------------------------------------------------------------
# string blocks: Arrow (offsets, data) layout
# ---------------------------------------------------------------------------

def str_plain_encode(offsets: np.ndarray, data: np.ndarray) -> bytes:
    """<u32 n><u32[n+1] offsets as delta-bitpacked lengths> + data."""
    lens = np.diff(offsets.astype(np.int64))
    lens_blob = for_bitpack_encode(lens) if lens.size else b""
    return (
        struct.pack("<II", lens.size, len(lens_blob))
        + lens_blob
        + np.ascontiguousarray(data).tobytes()
    )


def str_plain_decode(buf: memoryview, n: int) -> tuple[np.ndarray, np.ndarray]:
    n_str, lens_sz = struct.unpack_from("<II", buf, 0)
    offsets = np.zeros(n_str + 1, dtype=np.int64)
    if n_str:
        lens = for_bitpack_decode(buf[8 : 8 + lens_sz], n_str, np.int64)
        np.cumsum(lens, out=offsets[1:])
    data = np.frombuffer(buf[8 + lens_sz :], dtype=np.uint8, count=int(offsets[-1]))
    return offsets, data


def str_deflate_encode(offsets: np.ndarray, data: np.ndarray, level: int = 6) -> bytes:
    """General-purpose entropy codec for string/binary blocks:
    lengths FOR-bitpacked + one DEFLATE stream over the concatenated
    bytes (stdlib zlib — no external deps). The ratio option for
    MARKUP-heavy payloads (html, json): repeated tags/attributes
    exceed what a 255-symbol FSST table can capture. Decode is a
    single zlib.decompress (~300 MB/s/core) vs FSST's ~2 GB/s — the
    selector's speed rank prices that in, so deflate only wins when
    its ratio advantage is real."""
    lens = np.diff(offsets.astype(np.int64))
    lens_blob = for_bitpack_encode(lens) if lens.size else b""
    comp = zlib.compress(np.ascontiguousarray(data).tobytes(), level)
    return (
        struct.pack("<III", lens.size, len(lens_blob), len(comp))
        + lens_blob + comp
    )


def str_deflate_decode(buf: memoryview, n: int) -> tuple[np.ndarray, np.ndarray]:
    n_str, lens_sz, comp_sz = struct.unpack_from("<III", buf, 0)
    offsets = np.zeros(n_str + 1, dtype=np.int64)
    if n_str:
        lens = for_bitpack_decode(buf[12 : 12 + lens_sz], n_str, np.int64)
        np.cumsum(lens, out=offsets[1:])
    raw = zlib.decompress(bytes(buf[12 + lens_sz : 12 + lens_sz + comp_sz]))
    data = np.frombuffer(raw, dtype=np.uint8, count=int(offsets[-1]))
    return offsets, data


def str_const_encode(offsets: np.ndarray, data: np.ndarray) -> bytes:
    ln = int(offsets[1] - offsets[0])
    return struct.pack("<I", ln) + bytes(data[int(offsets[0]) : int(offsets[0]) + ln])


def str_const_decode(buf: memoryview, n: int) -> tuple[np.ndarray, np.ndarray]:
    ln = struct.unpack_from("<I", buf, 0)[0]
    one = np.frombuffer(buf[4 : 4 + ln], dtype=np.uint8)
    offsets = np.arange(n + 1, dtype=np.int64) * ln
    return offsets, np.tile(one, n)


def str_dict_encode(
    offsets: np.ndarray, data: np.ndarray, codes: np.ndarray,
    dict_offsets: np.ndarray, dict_data: np.ndarray, rle: bool = False,
) -> bytes:
    """DICT (optionally +RLE over codes): dictionary as plain string
    block, codes FOR-bitpacked (or RLE'd first for clustered columns)."""
    dict_blob = str_plain_encode(dict_offsets, dict_data)
    if rle:
        codes_blob = rle_encode(codes.astype(np.int64))
    else:
        codes_blob = for_bitpack_encode(codes)
    return (
        struct.pack("<IBI", len(dict_blob), 1 if rle else 0, len(codes_blob))
        + dict_blob
        + codes_blob
    )


def str_dict_decode(buf: memoryview, n: int) -> tuple[np.ndarray, np.ndarray]:
    dict_sz, rle_flag, codes_sz = struct.unpack_from("<IBI", buf, 0)
    doff, ddata = str_plain_decode(buf[9 : 9 + dict_sz], 0)
    codes_buf = buf[9 + dict_sz : 9 + dict_sz + codes_sz]
    if rle_flag:
        codes = rle_decode(codes_buf, n, np.int64)
    else:
        codes = for_bitpack_decode(codes_buf, n, np.int64)
    dlens = np.diff(doff)
    if dlens.size and int(ddata.size) == dlens.size * int(dlens[0]) and (
        dlens == dlens[0]
    ).all():
        # fixed-width dictionary (flags, enums): one 2-D take replaces
        # the per-byte repeat/arange gather (~6x on 1-char columns)
        width = int(dlens[0])
        if width == 0:
            return np.zeros(codes.size + 1, dtype=np.int64), np.zeros(0, np.uint8)
        out = ddata.reshape(-1, width)[codes].reshape(-1)
        return np.arange(codes.size + 1, dtype=np.int64) * width, out
    return gather_strings(doff, ddata, codes)


def gather_strings(
    offsets: np.ndarray, data: np.ndarray, idx: np.ndarray
) -> tuple[np.ndarray, np.ndarray]:
    """Vectorized take() on a string block: build (offsets, data) of
    ``block[idx]`` with repeat/arange byte gathers — no Python loop."""
    offsets = offsets.astype(np.int64, copy=False)
    starts = offsets[idx]
    lens = offsets[idx + 1] - starts
    out_off = np.zeros(idx.size + 1, dtype=np.int64)
    np.cumsum(lens, out=out_off[1:])
    total = int(out_off[-1])
    pos = np.arange(total, dtype=np.int64) - np.repeat(out_off[:-1], lens)
    src = np.repeat(starts, lens) + pos
    return out_off, data[src]


CODEC_IDS = {
    "plain": 1,
    "const": 2,
    "chimp": 3,
    "chimpn": 4,
    "gorilla": 5,
    "patas": 6,
    "xor_split": 7,
    "dict": 8,
    "rle": 9,
    "for_bitpack": 10,
    "delta_bp": 11,
    "ts_chimp": 12,
    "fsst": 13,
    "bool_pack": 14,
    "dict_rle": 15,
    "list_plain": 16,
    "dec_for": 17,
    "gcd_for": 18,
    "bss": 19,
    "list_block": 20,
    "deflate": 21,
}
CODEC_NAMES = {v: k for k, v in CODEC_IDS.items()}
