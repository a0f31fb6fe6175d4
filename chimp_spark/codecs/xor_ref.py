"""XOR-family float codecs, bit-exact to the reference formats.

The four stream formats of the reference:

- Chimp      (chimp.rs:38-85, decoder 242-270)
- Chimp128   (chimpn.rs:43-120, decoder 186-238)
- Gorilla    (gorilla.rs:25-62, decoder 110-130)
- Patas      (aligned.rs:42-83, decoder 144-176, byte-aligned, "based
              off of the Patas compression implemented in DuckDB"
              aligned.rs:6)

Each encoder is one sequential C pass (``chimp_enc`` and friends in
:mod:`chimp_spark._native`) that plans and packs every record in one
walk, like the reference's scalar loops. A size-only mode of the same
pass returns the exact length without writing; the selector's trials
use it (``*_size_bits``). Each decoder is one C pass as well
(``chimp_dec`` ... ``patas_dec``) over the stream's big-endian bytes,
the layout a frame stores: ``*_decode_bytes`` read a frame's payload in
place, and the word-array ``*_decode`` wrap them.

The numpy encoders below are the fallback when no C compiler is present
(or ``CHIMP_SPARK_NO_NATIVE=1``) and the tests' oracle; they write the
same words. Re-derived from scratch (NOT a translation of the Rust state
machines), they plan-then-pack, the split the reference's own SIMD
variant demonstrates (chimp.rs:87-151): the whole bit plan as numpy
arrays (XOR, leading/trailing-zero classes, flags, field widths, and the
loop-carried leading-zeros state, which reduces to a forward-fill over
the last non-zero-XOR record), then one vectorized scatter.

Two framings:

- ``reference mode`` (used by the parity tests and size accounting):
  in-band NaN-sentinel terminator + trailing 0 bit + word padding,
  byte-for-byte the reference's close() (chimp.rs:194-201,
  chimpn.rs:149-156, gorilla.rs:79-85, aligned.rs:112-119). Streams in
  this mode CANNOT hold real NaNs — same restriction as the reference
  (lib.rs:12).
- ``framed mode`` (used by the engine): no sentinel; the chunk header
  carries an explicit value count (and a validity bitmap — see
  chimp_spark.framing), so NaN payloads round-trip bit-identically.

All kernels operate on uint64 *bit patterns*; float<->bits conversion
happens at the boundary (``f64.view(uint64)``), mirroring
``value.to_bits()`` (chimp.rs:39,44). This also lets the timestamp
codec reuse the Chimp kernel on int64 deltas (the reference's own
"NOTE: timestamps?" TODO at chimp.rs:167).
"""

from __future__ import annotations

import numpy as np

from ..bitio import pack_bits, scatter_bits, unpack_fields
from .. import _native


def _native_decode(
    fn, buf8: np.ndarray, n_values, sentinel, min_record_bits: int = 2
) -> np.ndarray:
    """One C decoder pass over a stream's big-endian bytes."""
    if n_values is not None and n_values == 0:
        return np.zeros(0, dtype=np.uint64)
    b = np.ascontiguousarray(buf8, dtype=np.uint8)
    # sentinel mode must size for the worst case: gorilla's zero-XOR
    # record is a single bit, chimp-family records are >= 2 bits
    max_out = (
        n_values if n_values is not None
        else (b.size * 8) // min_record_bits + 2
    )
    out = np.empty(max(max_out, 1), dtype=np.uint64)
    cnt = fn(b, b.size, out, max_out, 1 if sentinel else 0)
    if cnt < 0 or (n_values is not None and cnt != n_values):
        raise EOFError("stream truncated")
    return out[:cnt]


def _be_u8(words: np.ndarray) -> np.ndarray:
    """A word stream's big-endian bytes: the layout frames store."""
    return np.ascontiguousarray(words, dtype=np.uint64).astype(">u8").view(np.uint8)


def _bytes_decoder(codec: str, decode_words, min_record_bits: int = 2):
    """``<codec>_decode_bytes(buf8, n_values=None, sentinel=False)``:
    decode a word stream from its big-endian bytes, the layout a frame
    stores, so the block decoder hands its payload over as is. The C
    pass reads the words in place; without it the bytes become host
    words for the Python decoder (a trailing partial word is ignored
    on both paths)."""

    def decode_bytes(buf8: np.ndarray, n_values: int | None = None,
                     sentinel: bool = False) -> np.ndarray:
        if (n_values is None) == (not sentinel):
            raise ValueError("exactly one of n_values / sentinel required")
        nat = _native.get()
        if nat is not None:
            return _native_decode(nat[f"{codec}_dec"], buf8, n_values, sentinel,
                                  min_record_bits)
        whole = buf8[: buf8.size - buf8.size % 8]
        return decode_words(np.frombuffer(whole, dtype=">u8").astype(np.uint64),
                            n_values, sentinel)

    decode_bytes.__name__ = decode_bytes.__qualname__ = f"{codec}_decode_bytes"
    return decode_bytes


# worst-case header + payload bits of one record, which sizes the C
# encoders' output: chimp/chimpn flag 11 (5 + 64), gorilla control 11
# (13 + 64), patas (16 + 64)
_MAX_RECORD_BITS = {"chimp": 69, "chimpn": 69, "gorilla": 77, "patas": 80}
_NO_OUT = np.zeros(1, dtype=np.uint64)  # size-only passes never write it


def _native_encode(
    nat, codec: str, bits: np.ndarray, reference_close: bool, *flags: int
) -> tuple[np.ndarray, int]:
    """One C pass of ``<codec>_enc``: (words, total) exactly as the
    numpy encoder returns them. ``flags`` sit between the close and
    size-only arguments (patas' ``fixed``)."""
    n = bits.size
    # first value, n records plus close()'s sentinel record, the tail
    cap = (64 + _MAX_RECORD_BITS[codec] * (n + 1) + 17 + 63) >> 6
    out = np.empty(cap, dtype=np.uint64)
    total = int(nat[f"{codec}_enc"](bits, n, int(reference_close), *flags, 0, out))
    nwords = (total + 63) >> 6
    # reference close() reports the padded word length (chimp.rs:199)
    return out[:nwords], (nwords * 64 if reference_close else total)


def _size_bits(codec: str, encode, bits: np.ndarray, *flags: int) -> int:
    """Framed-mode total bits of ``encode(bits)``: the C pass's
    size-only mode, else the numpy encoder's own total."""
    bits = np.ascontiguousarray(bits, dtype=np.uint64)
    nat = _native.get()
    if nat is None:
        return encode(bits)[1]
    return int(nat[f"{codec}_enc"](bits, bits.size, 0, *flags, 1, _NO_OUT))


# NaN sentinel terminator, lib.rs:12
NAN_SENTINEL = np.uint64(0x7FF8000000000000)

# Leading-zero rounding/encode/decode tables, lib.rs:14-26
LEADING_ROUND = np.array(
    [0] * 8 + [8] * 4 + [12] * 4 + [16, 16, 18, 18, 20, 20, 22, 22] + [24] * 40,
    dtype=np.uint64,
)
LEADING_REPR_ENC = np.array(
    [0] * 8 + [1] * 4 + [2] * 4 + [3, 3, 4, 4, 5, 5, 6, 6] + [7] * 40,
    dtype=np.uint64,
)
LEADING_REPR_DEC = np.array([0, 8, 12, 16, 18, 20, 22, 24], dtype=np.uint64)

_U64 = np.uint64


def clz64(x: np.ndarray) -> np.ndarray:
    """Vectorized count-leading-zeros; clz(0) == 64.

    Uses the IEEE-754 exponent of ``float64(x)``: the conversion can
    round up across a power-of-two boundary (then the exponent is one
    too high), which a single bit-probe corrects exactly.
    """
    fb = x.astype(np.float64).view(np.uint64)
    c = np.int64(63 + 1023) - (fb >> _U64(52)).astype(np.int64)
    np.clip(c, 0, 63, out=c)
    probe = (x >> (np.uint64(63) - c.astype(np.uint64))) & _U64(1)
    c += np.int64(1) - probe.astype(np.int64)
    return np.where(x == 0, np.int64(64), c).astype(np.uint64)


def ctz64(x: np.ndarray) -> np.ndarray:
    """Vectorized count-trailing-zeros; ctz(0) == 64.

    ``x & -x`` isolates the lowest set bit — an exact power of two, so
    its float64 exponent is the trailing-zero count with no rounding.
    """
    low = x & (~x + _U64(1))
    fb = low.astype(np.float64).view(np.uint64)
    e = (fb >> _U64(52)).astype(np.int64) - np.int64(1023)
    return np.where(x == 0, np.int64(64), e).astype(np.uint64)


def _pack_records(
    first: np.uint64,
    hdr_v: np.ndarray,
    hdr_w: np.ndarray,
    pay_v: np.ndarray,
    pay_w: np.ndarray,
    tail_zero_bits: int = 0,
) -> tuple[np.ndarray, int]:
    """Pack a 64-bit first value + per-record (header, payload) fields.

    All XOR-family streams share this shape: raw first value
    (chimp.rs:38-41), then one header field (flag/lead/center/meta,
    <= 18 bits) and one optional payload field (<= 64 bits) per record.
    Widths are int64; values must be pre-masked to their width (the
    planners guarantee it structurally). ``tail_zero_bits`` appends
    zero bits (the reference's trailing write_bit(0), chimp.rs:197).
    """
    m = hdr_w.size
    off = np.empty(m + 1, dtype=np.int64)
    off[0] = 64
    np.cumsum(hdr_w + pay_w, out=off[1:])
    off[1:] += 64
    total = int(off[-1]) + tail_zero_bits
    nwords = (total + 63) >> 6
    out = np.zeros(nwords + 1, dtype=np.uint64)
    out[0] = first
    if m:
        scatter_bits(out, off[:-1], hdr_v, hdr_w)
        sel = np.flatnonzero(pay_w > 0)
        if sel.size:
            scatter_bits(out, off[:-1][sel] + hdr_w[sel], pay_v[sel], pay_w[sel])
    return out[:nwords], total


def _prev_same_lsb(bits: np.ndarray, default: int) -> np.ndarray:
    """For each i, the last j<i with bits[j]&0x3FFF == bits[i]&0x3FFF.

    Vectorized equivalent of the reference's 2^14-entry LSB index
    (chimpn.rs:56, aligned.rs:51). ``default`` models the index-array
    initialization: 0 for Chimp128's ``Encoder::new`` (chimpn.rs:23 —
    an unseen LSB aliases to index 0), -1 (= usize::MAX, always out of
    scope) for Patas' ``Encoder::new`` (aligned.rs:24).
    """
    n = bits.size
    lsb = (bits & _U64(0x3FFF)).astype(np.int64)
    order = np.argsort(lsb, kind="stable")
    prev = np.full(n, default, dtype=np.int64)
    if n > 1:
        same = lsb[order][1:] == lsb[order][:-1]
        prev[order[1:][same]] = order[:-1][same]
    return prev


# ---------------------------------------------------------------------------
# Chimp (chimp.rs)
# ---------------------------------------------------------------------------

def chimp_encode(bits: np.ndarray, reference_close: bool = False) -> tuple[np.ndarray, int]:
    """Encode uint64 bit patterns in the Chimp format (chimp.rs:38-85).

    Returns (words, total_payload_bits). In ``reference_close`` mode the
    NaN sentinel + trailing 0 bit are appended (chimp.rs:194-201) and
    the reported length is the padded word length * 64 (chimp.rs:199).
    """
    bits = np.ascontiguousarray(bits, dtype=np.uint64)
    nat = _native.get()
    if nat is not None:
        return _native_encode(nat, "chimp", bits, reference_close)
    if reference_close:
        bits = np.append(bits, NAN_SENTINEL)
    n = bits.size
    if n == 0:
        return np.zeros(0, dtype=np.uint64), 0

    xor = bits[1:] ^ bits[:-1]
    m = xor.size
    if m == 0:
        words, total = _pack_records(
            bits[0],
            np.zeros(0, dtype=np.uint64),
            np.zeros(0, dtype=np.int64),
            np.zeros(0, dtype=np.uint64),
            np.zeros(0, dtype=np.int64),
            tail_zero_bits=1 if reference_close else 0,
        )
        return words, (words.size * 64 if reference_close else total)

    lead_u = LEADING_ROUND[np.minimum(clz64(xor), _U64(63)).astype(np.int64)]
    enc3 = LEADING_REPR_ENC[lead_u.astype(np.int64)]
    tz_u = ctz64(xor)
    lead = lead_u.astype(np.int64)
    tz = tz_u.astype(np.int64)
    nz = xor != _U64(0)
    low8 = (xor & _U64(0xFF)) == _U64(0)

    # loop-carried leading-zeros state (chimp.rs:73,76-80): after any
    # non-zero-XOR record the state equals its rounded lead, so the
    # state *before* record i is the lead of the last non-zero record
    # before i — a forward fill. Initial state u32::MAX (chimp.rs:24).
    last_nz = np.maximum.accumulate(np.where(nz, np.arange(m), -1))
    prev_nz = np.empty(m, dtype=np.int64)
    prev_nz[0] = -1
    prev_nz[1:] = last_nz[:-1]
    state = np.where(prev_nz >= 0, lead[np.maximum(prev_nz, 0)], np.int64(-1))

    f1 = nz & low8
    f23 = nz & ~low8
    f3 = f23 & (lead != state)

    center1 = np.int64(64) - lead - tz  # flag-01 center width

    # header: flag 00 -> 2 bits of 0; flag 01 -> 2+3+6 = 11 bits
    # (chimp.rs:66-71); flag 10 -> 2 bits; flag 11 -> 2+3 = 5 bits
    hdr_w = 2 + f1 * np.int64(9) + f3 * np.int64(3)
    hdr_v = np.zeros(m, dtype=np.uint64)
    hdr_v[f1] = (_U64(1) << _U64(9)) | (enc3[f1] << _U64(6)) | center1[f1].astype(np.uint64)
    f2 = f23 & (lead == state)
    hdr_v[f2] = 2
    hdr_v[f3] = (_U64(3) << _U64(3)) | enc3[f3]

    # payload: flag 01 -> xor >> trail (center bits); flags 10/11 ->
    # low (64-lead) bits of xor (high rounded-lead bits are zero by
    # construction, so no masking needed)
    pay_w = f1 * center1 + f23 * (np.int64(64) - lead)
    pay_v = xor.copy()
    pay_v[f1] = xor[f1] >> tz_u[f1]

    words, total = _pack_records(
        bits[0], hdr_v, hdr_w, pay_v, pay_w,
        tail_zero_bits=1 if reference_close else 0,
    )
    if reference_close:
        total = words.size * 64  # chimp.rs:199 counts padded words
    return words, total


def chimp_size_bits(bits: np.ndarray) -> int:
    """Total bits chimp_encode(bits) reports, without writing the
    stream: the selector's trials and the analytic ts_chimp size need
    only the length."""
    return _size_bits("chimp", chimp_encode, bits)


def chimp_decode(
    words: np.ndarray, n_values: int | None = None, sentinel: bool = False
) -> np.ndarray:
    """Decode a Chimp stream back to uint64 bit patterns.

    ``n_values`` drives framed mode; ``sentinel`` reference mode stops
    at the NaN sentinel (chimp.rs:285-288).
    """
    return chimp_decode_bytes(_be_u8(words), n_values, sentinel)


def _chimp_decode_py(words: np.ndarray, n_values: int | None, sentinel: bool) -> np.ndarray:
    """chimp_decode without the C pass: the fallback and oracle.

    Two-pass: a sequential header scan locates every payload field
    (positions are data-dependent — chimp.rs:242-270), then payloads
    are gathered vectorized and the value chain is rebuilt with a
    single ``bitwise_xor.accumulate`` (Chimp always XORs against the
    immediately previous value, chimp.rs:44).
    """
    if n_values is not None and n_values == 0:
        return np.zeros(0, dtype=np.uint64)
    wl = words.tolist()
    nwords = len(wl)
    end = nwords << 6
    if end < 64:
        raise EOFError("stream too short")

    def read(pos: int, nb: int) -> int:
        if pos + nb > end:
            # mid-record truncation: raise the same EOFError the C
            # twin does, not an IndexError from wl[w + 1]
            raise EOFError("chimp stream truncated")
        w = pos >> 6
        s = pos & 63
        room = 64 - s
        if nb <= room:
            return (wl[w] >> (room - nb)) & ((1 << nb) - 1)
        hi = wl[w] & ((1 << room) - 1)
        rest = nb - room
        return (hi << rest) | (wl[w + 1] >> (64 - rest))

    first = read(0, 64)
    pos = 64
    max_records = (end - 64) >> 1 if n_values is None else n_values - 1

    offs: list[int] = []
    widths: list[int] = []
    shifts: list[int] = []
    lead_state = 0  # decoder init, chimp.rs:219
    count = 0
    LEAD_DEC = LEADING_REPR_DEC.tolist()
    while count < max_records:
        if pos + 2 > end:
            break
        flag = read(pos, 2)
        pos += 2
        if flag == 0:
            offs.append(0)
            widths.append(0)
            shifts.append(0)
        elif flag == 1:
            hdr = read(pos, 9)
            pos += 9
            lead_state = LEAD_DEC[hdr >> 6]
            center = hdr & 63
            if center == 0:
                center = 64  # chimp.rs:249-251
            trail = 64 - center - lead_state
            offs.append(pos)
            widths.append(center)
            shifts.append(trail)
            pos += center
        elif flag == 2:
            center = 64 - lead_state
            offs.append(pos)
            widths.append(center)
            shifts.append(0)
            pos += center
        else:
            lead_state = LEAD_DEC[read(pos, 3)]
            pos += 3
            center = 64 - lead_state
            offs.append(pos)
            widths.append(center)
            shifts.append(0)
            pos += center
        count += 1
        if pos > end:
            raise EOFError("chimp stream truncated")
    if n_values is not None and count < max_records:
        # the record supply ran out before n_values: silently
        # returning a short array would pair wrong values with an
        # n-length validity bitmap downstream (C twin raises here too)
        raise EOFError("chimp stream truncated")

    xors = unpack_fields(
        words,
        np.array(offs, dtype=np.uint64),
        np.array(widths, dtype=np.uint64),
    ) << np.array(shifts, dtype=np.uint64)
    out = np.empty(count + 1, dtype=np.uint64)
    out[0] = first
    if count:
        np.bitwise_xor.accumulate(xors, out=xors)
        out[1:] = _U64(first) ^ xors
    if sentinel:
        hits = np.flatnonzero(out == NAN_SENTINEL)
        if hits.size:
            out = out[: hits[0]]
    return out


chimp_decode_bytes = _bytes_decoder("chimp", _chimp_decode_py)


# ---------------------------------------------------------------------------
# Gorilla (gorilla.rs)
# ---------------------------------------------------------------------------

def gorilla_encode(bits: np.ndarray, reference_close: bool = False) -> tuple[np.ndarray, int]:
    """Gorilla XOR codec (gorilla.rs:25-62).

    The (lead, trail) window state is loop-carried through a reuse
    comparison (gorilla.rs:43), so the plan runs as a tight Python loop
    over precomputed vectorized lead/trail arrays; packing is one
    vectorized pass.
    """
    bits = np.ascontiguousarray(bits, dtype=np.uint64)
    nat = _native.get()
    if nat is not None:
        return _native_encode(nat, "gorilla", bits, reference_close)
    if reference_close:
        bits = np.append(bits, NAN_SENTINEL)
    n = bits.size
    if n == 0:
        return np.zeros(0, dtype=np.uint64), 0

    fvals: list[int] = [int(bits[0])]
    fbits: list[int] = [64]
    if n > 1:
        xor = bits[1:] ^ bits[:-1]
        lead_a = np.minimum(clz64(xor), _U64(31)).astype(np.int64)  # cap, gorilla.rs:39-41
        trail_a = ctz64(xor).astype(np.int64)
        xl = xor.tolist()
        ll = lead_a.tolist()
        tl = trail_a.tolist()
        st_lead = 1 << 32  # u32::MAX init, gorilla.rs:19 (never <= any lead)
        st_trail = 0
        ap_v = fvals.append
        ap_b = fbits.append
        for i in range(len(xl)):
            x = xl[i]
            if x == 0:
                ap_v(0)
                ap_b(1)
                continue
            lead = ll[i]
            trail = tl[i]
            if st_lead <= lead and st_trail <= trail:
                # control '10': reuse window (gorilla.rs:43-48)
                ap_v(2)
                ap_b(2)
                center = 64 - st_lead - st_trail
                ap_v(x >> st_trail)
                ap_b(center)
            else:
                # control '11': new window (gorilla.rs:49-57)
                ap_v(3)
                ap_b(2)
                ap_v(lead)
                ap_b(5)
                center = 64 - lead - trail
                ap_v(center - 1)
                ap_b(6)
                ap_v(x >> trail)
                ap_b(center)
                st_lead = lead
                st_trail = trail
    # gorilla close() appends only the sentinel value, no extra bit
    # (gorilla.rs:79-85)
    words, total_bits = pack_bits(
        np.array(fvals, dtype=np.uint64), np.array(fbits, dtype=np.uint64)
    )
    if reference_close:
        total_bits = words.size * 64  # gorilla.rs:83
    return words, total_bits


def gorilla_size_bits(bits: np.ndarray) -> int:
    """Total bits gorilla_encode(bits) reports, without writing."""
    return _size_bits("gorilla", gorilla_encode, bits)


def gorilla_decode(
    words: np.ndarray, n_values: int | None = None, sentinel: bool = False
) -> np.ndarray:
    """Decode Gorilla (gorilla.rs:110-130)."""
    return gorilla_decode_bytes(_be_u8(words), n_values, sentinel)


def _gorilla_decode_py(words: np.ndarray, n_values: int | None, sentinel: bool) -> np.ndarray:
    """gorilla_decode without the C pass: header scan + prefix-XOR."""
    if n_values is not None and n_values == 0:
        return np.zeros(0, dtype=np.uint64)
    wl = words.tolist()
    end = len(wl) << 6
    if end < 64:
        raise EOFError("stream too short")

    def read(pos: int, nb: int) -> int:
        if pos + nb > end:
            raise EOFError("gorilla stream truncated")  # not IndexError
        w = pos >> 6
        s = pos & 63
        room = 64 - s
        if nb <= room:
            return (wl[w] >> (room - nb)) & ((1 << nb) - 1)
        hi = wl[w] & ((1 << room) - 1)
        rest = nb - room
        return (hi << rest) | (wl[w + 1] >> (64 - rest))

    first = read(0, 64)
    pos = 64
    max_records = end if n_values is None else n_values - 1
    offs: list[int] = []
    widths: list[int] = []
    shifts: list[int] = []
    lead = 0
    trail = 0
    count = 0
    while count < max_records:
        if pos + 1 > end:
            break
        b = read(pos, 1)
        pos += 1
        if b == 0:
            offs.append(0)
            widths.append(0)
            shifts.append(0)
        else:
            if pos + 1 > end:
                raise EOFError("gorilla stream truncated")
            b2 = read(pos, 1)
            pos += 1
            if b2 == 1:
                hdr = read(pos, 11)
                pos += 11
                lead = hdr >> 6
                center = (hdr & 63) + 1
                trail = 64 - lead - center
            center = 64 - lead - trail
            offs.append(pos)
            widths.append(center)
            shifts.append(trail)
            pos += center
            if pos > end:
                raise EOFError("gorilla stream truncated")
        count += 1
    if n_values is not None and count < max_records:
        raise EOFError("gorilla stream truncated")  # never return short

    xors = unpack_fields(
        words,
        np.array(offs, dtype=np.uint64),
        np.array(widths, dtype=np.uint64),
    ) << np.array(shifts, dtype=np.uint64)
    out = np.empty(count + 1, dtype=np.uint64)
    out[0] = first
    if count:
        np.bitwise_xor.accumulate(xors, out=xors)
        out[1:] = _U64(first) ^ xors
    if sentinel:
        hits = np.flatnonzero(out == NAN_SENTINEL)
        if hits.size:
            out = out[: hits[0]]
    return out


gorilla_decode_bytes = _bytes_decoder("gorilla", _gorilla_decode_py, min_record_bits=1)


# ---------------------------------------------------------------------------
# Chimp128 / ChimpN (chimpn.rs)
# ---------------------------------------------------------------------------

def chimpn_encode(bits: np.ndarray, reference_close: bool = False) -> tuple[np.ndarray, int]:
    """Chimp128: 128-entry ring + 14-bit LSB index (chimpn.rs:43-120).

    The reference-value *choice* depends only on the input (not on
    encoder output), so it vectorizes: previous-same-LSB via stable
    argsort, in-scope + trailing-zero-threshold tests as masks.
    Canonical init matches ``Encoder::new`` (zero-initialized index
    array, chimpn.rs:23): an unseen LSB aliases to index 0. The decoder
    is agnostic (the chosen index is explicit in the stream).
    """
    bits = np.ascontiguousarray(bits, dtype=np.uint64)
    nat = _native.get()
    if nat is not None:
        return _native_encode(nat, "chimpn", bits, reference_close)
    if reference_close:
        bits = np.append(bits, NAN_SENTINEL)
    n = bits.size
    if n == 0:
        return np.zeros(0, dtype=np.uint64), 0
    if n == 1:
        words, total = _pack_records(
            bits[0],
            np.zeros(0, dtype=np.uint64),
            np.zeros(0, dtype=np.int64),
            np.zeros(0, dtype=np.uint64),
            np.zeros(0, dtype=np.int64),
            tail_zero_bits=1 if reference_close else 0,
        )
        return words, (words.size * 64 if reference_close else total)

    prev = _prev_same_lsb(bits, default=0)[1:]  # candidate j for value i>=1
    i_arr = np.arange(1, n, dtype=np.int64)
    # in-scope: lsb_index <= index(=i-1) && index - lsb_index < 128
    # (chimpn.rs:59); with zero-init, j=0 is always <= i-1.
    in_scope = (prev <= i_arr - 1) & ((i_arr - 1 - prev) < 128)
    cand_xor = bits[1:] ^ bits[np.where(in_scope, prev, 0)]
    cand_trail = ctz64(cand_xor)
    use_cand = in_scope & (cand_trail > _U64(13))  # THRESHOLD, chimpn.rs:4,64
    # trail keeps the *candidate's* value even when falling back to the
    # previous value (chimpn.rs:53,61-73) — it only matters for the
    # >THRESHOLD flag test, which use_cand already captures.
    xor = np.where(use_cand, cand_xor, bits[1:] ^ bits[:-1])
    ring_idx = np.where(use_cand, prev & 127, (i_arr - 1) & 127).astype(np.uint64)

    lead_u = LEADING_ROUND[np.minimum(clz64(xor), _U64(63)).astype(np.int64)]
    enc3 = LEADING_REPR_ENC[lead_u.astype(np.int64)]
    lead = lead_u.astype(np.int64)
    nz = xor != _U64(0)
    m = xor.size

    # leading-zeros state forward-fill; init 0 (chimpn.rs:24). Flags
    # 01/11 set state = lead (chimpn.rs:95,99-103); flag 10 means
    # lead == state; flag 00 leaves it — so after any non-zero record
    # state == its lead, same forward fill as Chimp.
    last_nz = np.maximum.accumulate(np.where(nz, np.arange(m), -1))
    prev_nz = np.empty(m, dtype=np.int64)
    prev_nz[0] = -1
    prev_nz[1:] = last_nz[:-1]
    state = np.where(prev_nz >= 0, lead[np.maximum(prev_nz, 0)], np.int64(0))

    f0 = ~nz
    f1 = nz & use_cand  # cand_trail > 13 by construction
    f23 = nz & ~use_cand
    f3 = f23 & (lead != state)

    center = np.int64(64) - lead - cand_trail.astype(np.int64)  # f1 rows only

    # header widths: flag 00 -> 9 (00 ++ 7-bit ring index,
    # chimpn.rs:78-80); flag 01 -> 18-bit packed header
    # (chimpn.rs:85-93); flag 10 -> 2; flag 11 -> 5 (chimpn.rs:99-108)
    hdr_w = np.int64(9) * f0 + np.int64(18) * f1 + np.int64(2) * f23 + np.int64(3) * f3
    hdr_v = np.zeros(m, dtype=np.uint64)
    hdr_v[f0] = ring_idx[f0]
    hdr_v[f1] = (
        ((_U64(128) | ring_idx[f1]) << _U64(9))
        | (enc3[f1] << _U64(6))
        | (center[f1].astype(np.uint64) & _U64(63))
    )
    f2 = f23 & (lead == state)
    hdr_v[f2] = 2
    hdr_v[f3] = (_U64(3) << _U64(3)) | enc3[f3]

    pay_w = f1 * center + f23 * (np.int64(64) - lead)
    pay_v = xor.copy()
    pay_v[f1] = xor[f1] >> cand_trail[f1]

    words, total = _pack_records(
        bits[0], hdr_v, hdr_w, pay_v, pay_w,
        tail_zero_bits=1 if reference_close else 0,  # chimpn.rs:152
    )
    if reference_close:
        total = words.size * 64  # chimpn.rs:154
    return words, total


def chimpn_size_bits(bits: np.ndarray) -> int:
    """Total bits chimpn_encode(bits) reports, without writing."""
    return _size_bits("chimpn", chimpn_encode, bits)


def chimpn_decode(
    words: np.ndarray, n_values: int | None = None, sentinel: bool = False
) -> np.ndarray:
    """Decode Chimp128 (chimpn.rs:186-238)."""
    return chimpn_decode_bytes(_be_u8(words), n_values, sentinel)


def _chimpn_decode_py(words: np.ndarray, n_values: int | None, sentinel: bool) -> np.ndarray:
    """chimpn_decode without the C pass. Sequential: the ring of
    *decoded* values is loop-carried through explicit stream indices."""
    if n_values is not None and n_values == 0:
        return np.zeros(0, dtype=np.uint64)
    wl = words.tolist()
    end = len(wl) << 6
    if end < 64:
        raise EOFError("stream too short")
    wl.append(0)  # pad: reads that cross the end return zeros, the
    # pos>end check after each record turns them into EOFError

    def rd(pos: int, nb: int) -> int:
        w = pos >> 6
        s = 64 - (pos & 63)
        if w + 1 >= len(wl):
            raise EOFError("chimpn stream truncated")
        if nb <= s:
            return (wl[w] >> (s - nb)) & ((1 << nb) - 1)
        rest = nb - s
        return ((wl[w] & ((1 << s) - 1)) << rest) | (wl[w + 1] >> (64 - rest))

    LD = LEADING_REPR_DEC.tolist()
    first = rd(0, 64)
    nan = int(NAN_SENTINEL)
    if sentinel and first == nan:  # empty stream: close() wrote only the sentinel
        return np.zeros(0, dtype=np.uint64)
    pos = 64
    out = [first]
    ring = list(range(128))  # decoder init, chimpn.rs:178
    ring[0] = first
    ci = 0
    curr = first
    lead = 0
    limit = n_values if n_values is not None else 1 << 62
    while len(out) < limit:
        if pos + 2 > end:
            if sentinel:
                break
            raise EOFError("chimpn stream truncated")
        flag = rd(pos, 2)
        pos += 2
        if flag == 1:
            tmp = rd(pos, 16)
            pos += 16
            center = tmp & 0x3F
            lead = LD[(tmp >> 6) & 7]
            curr = ring[(tmp >> 9) & 127]
            if center == 0:
                center = 64
            curr ^= rd(pos, center) << (64 - center - lead)
            pos += center
        elif flag == 2:
            c = 64 - lead
            curr ^= rd(pos, c)
            pos += c
        elif flag == 3:
            lead = LD[rd(pos, 3)]
            pos += 3
            c = 64 - lead
            curr ^= rd(pos, c)
            pos += c
        else:
            curr = ring[rd(pos, 7)]
            pos += 7
        if pos > end:
            if sentinel:
                break
            raise EOFError("chimpn stream truncated")
        ci = (ci + 1) & 127
        ring[ci] = curr
        if sentinel and curr == nan:
            break
        out.append(curr)
    return np.array(out, dtype=np.uint64)


chimpn_decode_bytes = _bytes_decoder("chimpn", _chimpn_decode_py)


# ---------------------------------------------------------------------------
# Patas byte-aligned (aligned.rs)
# ---------------------------------------------------------------------------

def patas_encode(
    bits: np.ndarray, reference_close: bool = False, fixed: bool = True
) -> tuple[np.ndarray, int]:
    """Byte-aligned Patas (aligned.rs:42-83). Fully vectorized.

    ``fixed=True`` (framed/engine mode) repairs the reference's
    encoder/decoder desync: for xor != 0 with sig_bytes == 1 and
    trail == 0 the reference encoder writes 8 payload bits
    (aligned.rs:71-73) that its decoder never reads (aligned.rs:163-165
    infers "identical value"). We bump such records to sig_bytes = 2 so
    the decoder's inference stays unambiguous. ``fixed=False`` keeps
    reference-exact bits (its own tests never hit the case,
    aligned.rs:210-234).

    Canonical init matches ``Encoder::new`` (usize::MAX index array,
    aligned.rs:24): unseen LSB -> out of scope -> previous value.
    """
    bits = np.ascontiguousarray(bits, dtype=np.uint64)
    nat = _native.get()
    if nat is not None:
        return _native_encode(nat, "patas", bits, reference_close, int(fixed))
    n = bits.size
    if n == 0:
        if reference_close:
            w, _ = pack_bits(
                np.array([0xFFFF, 0], dtype=np.uint64), np.array([16, 1], dtype=np.uint64)
            )
            return w, w.size * 64
        return np.zeros(0, dtype=np.uint64), 0

    m = n - 1
    if m:
        prev = _prev_same_lsb(bits, default=-1)[1:]
        i_arr = np.arange(1, n, dtype=np.int64)
        in_scope = (prev >= 0) & (prev <= i_arr - 1) & ((i_arr - 1 - prev) < 128)
        ref_j = np.where(in_scope, prev, i_arr - 1)
        ring_idx = (ref_j & 127).astype(np.uint64)  # lsb_index %= 128, aligned.rs:58
        xor = bits[1:] ^ bits[ref_j]
        trail = ctz64(xor)
        lead = clz64(xor)
        nz = xor != _U64(0)
        sig_bits = np.where(nz, _U64(64) - trail - lead, _U64(1))
        sig_bytes = (sig_bits >> _U64(3)) + ((sig_bits & _U64(7)) != 0)
        if fixed:
            # repair the ambiguous (sig_bytes==1, trail==0, xor!=0) case
            amb = nz & (sig_bytes == 1) & ((trail & _U64(0x3F)) == 0)
            sig_bytes = np.where(amb, _U64(2), sig_bytes)
        hdr_v = (
            (ring_idx << _U64(9))
            | (((sig_bytes - _U64(1)) & _U64(7)) << _U64(6))
            | (trail & _U64(0x3F))
        )
        hdr_w = np.full(m, 16, dtype=np.int64)
        pay_w = nz * (sig_bytes.astype(np.int64) << 3)
        pay_v = xor >> (trail & _U64(63))
    else:
        hdr_v = np.zeros(0, dtype=np.uint64)
        hdr_w = np.zeros(0, dtype=np.int64)
        pay_v = hdr_v
        pay_w = hdr_w

    if reference_close:
        # terminator 0xffff + trailing 0 bit (aligned.rs:112-119)
        hdr_v = np.append(hdr_v, _U64(0xFFFF))
        hdr_w = np.append(hdr_w, np.int64(16))
        pay_v = np.append(pay_v, _U64(0))
        pay_w = np.append(pay_w, np.int64(0))

    words, total_bits = _pack_records(
        bits[0], hdr_v, hdr_w, pay_v, pay_w,
        tail_zero_bits=1 if reference_close else 0,
    )
    if reference_close:
        total_bits = words.size * 64  # aligned.rs:117
    return words, total_bits


def patas_size_bits(bits: np.ndarray) -> int:
    """Total bits patas_encode(bits) (``fixed=True``) reports, without
    writing."""
    return _size_bits("patas", patas_encode, bits, 1)


def patas_decode(
    words: np.ndarray, n_values: int | None = None, sentinel: bool = False
) -> np.ndarray:
    """Decode Patas (aligned.rs:144-176 with the fixed-format rule)."""
    return patas_decode_bytes(_be_u8(words), n_values, sentinel)


def patas_decode_bytes(
    buf8: np.ndarray, n_values: int | None = None, sentinel: bool = False
) -> np.ndarray:
    """Decode Patas from the stream's big-endian bytes, the layout a
    frame stores, so the block decoder hands its payload over as is.

    Sequential scan (payload width chains through the 16-bit metadata),
    ring of decoded values like Chimp128.
    """
    if (n_values is None) == (not sentinel):
        raise ValueError("exactly one of n_values / sentinel required")
    nat = _native.get()
    if nat is not None:
        # a record is >= 16 bits (its metadata)
        return _native_decode(nat["patas_dec"], buf8, n_values, sentinel, min_record_bits=16)
    if n_values is not None and n_values == 0:
        return np.zeros(0, dtype=np.uint64)
    # the Patas stream is byte-aligned throughout (64-bit first value,
    # 16-bit metadata, whole-byte payloads — aligned.rs:65-73), so
    # decode walks a plain byte string: ~5x faster than a bit cursor
    buf = buf8.tobytes()
    nbytes = len(buf)
    if nbytes < 8:
        raise EOFError("patas stream truncated")
    if sentinel and nbytes < 10 and buf[:2] == b"\xff\xff":
        # empty stream: the terminator alone, with no room for a first
        # value and a terminator after it
        return np.zeros(0, dtype=np.uint64)
    first = int.from_bytes(buf[:8], "big")
    out = [first]
    ring = list(range(128))
    ring[0] = first
    ci = 0
    p = 8
    limit = n_values if n_values is not None else 1 << 62
    while len(out) < limit:
        if p + 2 > nbytes:
            if sentinel:
                break
            raise EOFError("patas stream truncated")
        meta = (buf[p] << 8) | buf[p + 1]
        if sentinel and meta == 0xFFFF:
            break
        p += 2
        trail = meta & 0x3F
        sig_bytes = ((meta >> 6) & 7) + 1
        if sig_bytes == 1 and trail == 0:
            curr = ring[meta >> 9]  # identical value (aligned.rs:163-165)
        else:
            if p + sig_bytes > nbytes:
                # frame truncated mid-payload: a short slice would
                # silently decode a wrong final value (C path returns -1)
                if sentinel:
                    break
                raise EOFError("patas stream truncated")
            curr = ring[meta >> 9] ^ (int.from_bytes(buf[p : p + sig_bytes], "big") << trail)
            p += sig_bytes
        ci = (ci + 1) & 127
        ring[ci] = curr
        out.append(curr)
    return np.array(out, dtype=np.uint64)
