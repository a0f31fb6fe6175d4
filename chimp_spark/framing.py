"""Chunk framing: typed, null-aware, self-contained compressed blobs.

One frame = one column chunk. Unlike the reference's in-band NaN
terminator (lib.rs:12, appended at close() chimp.rs:196), a frame
carries an explicit value count and an Arrow-style validity bitmap, so:

- real NaN payloads round-trip bit-identically (the reference cannot
  represent them — any NaN truncates its stream);
- decode never scans for a sentinel (count-driven, vectorizable);
- nulls are first-class for every codec.

Frame layout (little-endian):

    magic   'CSK1'            4 bytes
    codec   u8                light.CODEC_IDS
    dtype   u8                DTYPE_IDS
    flags   u8                bit0: has validity bitmap
    pad     u8
    n       u32               total slots
    n_valid u32               non-null slots
    [validity bitmap: ceil(n/8) bytes, LSB-first (Arrow order)]
    payload ...               codec-specific, covers valid slots only

Frames are decodable in isolation — the unit of parallelism AND of
resume, mirroring the reference's independent 2,500-value rayon chunks
(chimp.rs:154-165) at Spark-task granularity.
"""

from __future__ import annotations

import struct
import zlib
from dataclasses import dataclass

import numpy as np
import pyarrow as pa

from .codecs import fsst
from .codecs import light as L
from .selector import choose_codec

MAGIC = b"CSK1"

DTYPE_IDS = {
    "f64": 1, "f32": 2, "i64": 3, "i32": 4, "i16": 5, "i8": 6,
    "ts_us": 10, "ts_ns": 11, "date32": 12, "bool": 13,
    "str": 20, "bin": 21,
    "list_f32": 30, "list_f64": 31, "list_i64": 32, "list_i32": 33,
}
DTYPE_NAMES = {v: k for k, v in DTYPE_IDS.items()}

_NUMPY_OF = {
    "f64": np.dtype("float64"), "f32": np.dtype("float32"),
    "i64": np.dtype("int64"), "i32": np.dtype("int32"),
    "i16": np.dtype("int16"), "i8": np.dtype("int8"),
    "ts_us": np.dtype("int64"), "ts_ns": np.dtype("int64"),
    "date32": np.dtype("int32"), "bool": np.dtype("bool"),
}


def dtype_of_arrow(t: pa.DataType) -> str:
    if pa.types.is_float64(t):
        return "f64"
    if pa.types.is_float32(t):
        return "f32"
    if pa.types.is_int64(t):
        return "i64"
    if pa.types.is_int32(t):
        return "i32"
    if pa.types.is_int16(t):
        return "i16"
    if pa.types.is_int8(t):
        return "i8"
    if pa.types.is_timestamp(t):
        # ONLY exact units: tagging an ms/s array ts_ns would store
        # raw ms/s integers that decode as nanoseconds — wrong values
        # with a PASSING checksum. encode_chunk normalizes ms/s to us
        # before reaching here; anything else must fail loudly.
        if t.unit == "us":
            return "ts_us"
        if t.unit == "ns":
            return "ts_ns"
        raise TypeError(
            f"timestamp unit {t.unit!r} must be normalized to us before "
            f"framing (encode_chunk does this; see dtype_of_arrow)"
        )
    if pa.types.is_date32(t):
        return "date32"
    if pa.types.is_boolean(t):
        return "bool"
    if pa.types.is_string(t) or pa.types.is_large_string(t):
        return "str"
    if pa.types.is_binary(t) or pa.types.is_large_binary(t):
        return "bin"
    if pa.types.is_list(t) or pa.types.is_large_list(t) or pa.types.is_fixed_size_list(t):
        inner = dtype_of_arrow(t.value_type)
        code = f"list_{inner}"
        if code in DTYPE_IDS:
            return code
    raise TypeError(f"unsupported arrow type: {t}")


def arrow_of_dtype(code: str, tz=None) -> pa.DataType:
    return {
        "f64": pa.float64(), "f32": pa.float32(), "i64": pa.int64(),
        "i32": pa.int32(), "i16": pa.int16(), "i8": pa.int8(),
        "ts_us": pa.timestamp("us", tz), "ts_ns": pa.timestamp("ns", tz),
        "date32": pa.date32(), "bool": pa.bool_(),
        "str": pa.string(), "bin": pa.binary(),
        "list_f32": pa.list_(pa.float32()), "list_f64": pa.list_(pa.float64()),
        "list_i64": pa.list_(pa.int64()), "list_i32": pa.list_(pa.int32()),
    }[code]


def _list_block(
    arr: pa.Array, npdt: np.dtype
) -> tuple[np.ndarray, np.ndarray, np.ndarray | None]:
    """(lengths, flat VALID values, child validity | None) of a
    list<numeric> array whose outer nulls are already dropped.

    Inner (element-level) nulls are preserved via the returned child
    validity bitmap — ``np.asarray`` on a nullable child would silently
    turn nulls into NaN / INT64_MIN garbage, violating the lossless
    contract."""
    if pa.types.is_fixed_size_list(arr.type) or pa.types.is_large_list(arr.type):
        arr = arr.cast(pa.list_(arr.type.value_type))
    offs = np.frombuffer(arr.buffers()[1], dtype=np.int32)[
        arr.offset : arr.offset + len(arr) + 1
    ].astype(np.int64)
    lo = int(offs[0]) if offs.size else 0
    hi = int(offs[-1]) if offs.size else 0
    child = arr.values.slice(lo, hi - lo)
    if child.null_count:
        child_valid = np.asarray(child.is_valid())
        vals = np.asarray(child.drop_null(), dtype=npdt)
    else:
        child_valid = None
        vals = np.asarray(child, dtype=npdt)
    return np.diff(offs), vals, child_valid


def _string_block(arr: pa.Array) -> tuple[np.ndarray, np.ndarray]:
    """Zero-copy-ish (offsets, data) of a no-null arrow string/binary
    array, rebased to offset 0."""
    bufs = arr.buffers()
    width = np.int64 if pa.types.is_large_string(arr.type) or pa.types.is_large_binary(arr.type) else np.int32
    offs = np.frombuffer(bufs[1], dtype=width)[arr.offset : arr.offset + len(arr) + 1].astype(np.int64)
    data = np.frombuffer(bufs[2], dtype=np.uint8) if bufs[2] is not None else np.zeros(0, np.uint8)
    lo = int(offs[0]) if offs.size else 0
    hi = int(offs[-1]) if offs.size else 0
    return offs - lo, data[lo:hi]


# numeric codec registries: name -> (encode(vals)->bytes, decode(buf,n,dtype)->vals)
_NUM_ENC = {
    "plain": L.plain_encode,
    "const": L.const_encode,
    "rle": L.rle_encode,
    "for_bitpack": L.for_bitpack_encode,
    "delta_bp": L.delta_bp_encode,
    "ts_chimp": L.ts_chimp_encode,
    "xor_split": lambda v: L.xor_split_encode(v.view(np.uint64)),
    "dec_for": L.dec_for_encode,
    "gcd_for": L.gcd_for_encode,
    "chimp": L.chimp_block_encode,
    "chimpn": L.chimpn_block_encode,
    "gorilla": L.gorilla_block_encode,
    "patas": L.patas_block_encode,
    "bss": L.bss_encode,
}
_NUM_DEC = {
    "plain": L.plain_decode,
    "const": L.const_decode,
    "rle": L.rle_decode,
    "for_bitpack": L.for_bitpack_decode,
    "delta_bp": L.delta_bp_decode,
    "ts_chimp": L.ts_chimp_decode,
    "xor_split": lambda b, n, dt: L.xor_split_decode(b).view(dt),
    "dec_for": L.dec_for_decode,
    "gcd_for": L.gcd_for_decode,
    "chimp": L.chimp_block_decode,
    "chimpn": L.chimpn_block_decode,
    "gorilla": L.gorilla_block_decode,
    "patas": L.patas_block_decode,
    "bss": L.bss_decode,
}

_STR_ENC = {
    "plain": L.str_plain_encode,
    "const": L.str_const_encode,
    "fsst": fsst.encode,
    "deflate": L.str_deflate_encode,
}
_STR_DEC = {
    "plain": L.str_plain_decode,
    "const": L.str_const_decode,
    "fsst": fsst.decode,
    "dict": L.str_dict_decode,
    "dict_rle": L.str_dict_decode,
    "deflate": L.str_deflate_decode,
}


@dataclass
class ChunkMeta:
    codec: str
    dtype: str
    n: int
    n_valid: int
    raw_bytes: int
    enc_bytes: int
    checksum: int
    reason: str = ""
    stat_min: float | None = None  # zone map (numeric/temporal),
    stat_max: float | None = None  # 1-ulp padded -> always conservative
    stat_min_bin: bytes | None = None  # zone map (string/binary):
    stat_max_bin: bytes | None = None  # 16-byte truncated bounds


def encode_chunk(
    arr: pa.Array, codec: str = "auto", cache: dict | None = None
) -> tuple[bytes, ChunkMeta]:
    """Compress one arrow array into a self-contained frame.

    ``cache`` (optional, per-column, task-local) amortizes FSST table
    training across the chunks of a task; every frame still embeds its
    own table, so decode stays chunk-independent.
    """
    if isinstance(arr, pa.ChunkedArray):
        arr = arr.combine_chunks()
    if pa.types.is_timestamp(arr.type) and arr.type.unit in ("ms", "s"):
        # TIMESTAMP_MILLIS/SECONDS inputs (pandas/legacy parquet
        # writers) upscale to us exactly; without this the values
        # would be tagged ns and decode wrong with a passing checksum
        arr = arr.cast(pa.timestamp("us", arr.type.tz))
    dtype = dtype_of_arrow(arr.type)
    n = len(arr)
    n_nulls = arr.null_count
    has_nulls = n_nulls > 0
    if has_nulls:
        valid = np.asarray(arr.is_valid())
        dense = arr.drop_null()
        bitmap = np.packbits(valid, bitorder="little").tobytes()
    else:
        valid = None
        dense = arr
        bitmap = b""
    n_valid = n - n_nulls

    reason = ""
    stat_min = stat_max = None
    flags_child = False
    if n_valid == 0 and dtype != "bool" and not dtype.startswith("list_"):
        # nothing to encode: several codecs (rle/delta/const/for/dec)
        # require at least one value; plain handles zero values for
        # every dtype, so override regardless of the requested codec
        if codec != "auto" and codec != "plain":
            reason = f"requested={codec};empty->plain"
        codec = "plain"
    stat_min_bin = stat_max_bin = None
    if dtype in ("str", "bin"):
        offs, data = _string_block(dense)
        if int(data.size) >= 1 << 31:
            # the decode side builds int32-offset arrays; emitting
            # this frame would commit data that every later decode
            # refuses — fail at ENCODE, where the fix is actionable
            raise ValueError(
                f"string/binary chunk payload {int(data.size)} bytes "
                f"exceeds int32 offsets; re-encode with smaller "
                f"chunk_rows"
            )
        raw_bytes = int(data.size) + 4 * n
        checksum = zlib.crc32(data) ^ n
        if codec == "auto":
            codec, reason = choose_codec_str(offs, data, cache)
        if codec in ("dict", "dict_rle"):
            # one dictionary pass serves both the payload and the
            # zone map: the dictionary holds exactly the distinct
            # values present, so min/max over it equals min/max over
            # the chunk at a fraction of the scan
            codes, doffs, ddata = _dict_codes(offs, data, dense)
            payload = L.str_dict_encode(
                offs, data, codes, doffs, ddata, rle=(codec == "dict_rle")
            )
            stat_min_bin, stat_max_bin = _string_bounds(_binary_block_array(doffs, ddata))
        else:
            payload = _encode_str_payload(codec, offs, data, dense, cache)
            stat_min_bin, stat_max_bin = _string_bounds(dense)
    elif dtype.startswith("list_"):
        # embedding-style list<numeric>: lengths FOR-bitpacked, flat
        # values through the numeric codec suite (auto-selected, so
        # f32 embeddings get byte-stream split, int lists get FOR/delta)
        inner_dt = dtype[5:]
        lens, vals, child_valid = _list_block(dense, _NUMPY_OF[inner_dt])
        if int(vals.size) >= 1 << 31:
            # mirror of the decode-side int32-offset guard: fail at
            # encode instead of committing an undecodable frame
            raise ValueError(
                f"list chunk child count {int(vals.size)} overflows "
                f"int32 offsets; re-encode with smaller chunk_rows"
            )
        inner_payload = None
        if codec in ("auto", "list_plain", "list_block"):
            if vals.size:
                picked = choose_codec(vals, inner_dt)
                inner, reason = picked[0], picked[1]
                if len(picked) == 3:
                    inner_payload = picked[2]
            else:
                inner, reason = "plain", "empty"
        else:
            inner, reason = codec, f"requested={codec}"
        if inner_payload is None:
            try:
                inner_payload = _NUM_ENC[inner](vals)
            except L.NotDecimalError:
                inner = "xor_split" if inner_dt == "f64" else "bss"
                reason += ";dec_for_fallback"
                inner_payload = _NUM_ENC[inner](vals)
        codec = "list_block"
        raw_bytes = int(vals.nbytes) + 4 * n
        checksum = zlib.crc32(np.ascontiguousarray(vals)) ^ n
        lens_blob = L.for_bitpack_encode(lens) if lens.size else b""
        head_parts = [
            struct.pack("<BI", L.CODEC_IDS[inner], len(lens_blob)),
            lens_blob,
        ]
        if child_valid is not None:
            head_parts.append(struct.pack("<I", child_valid.size))
            head_parts.append(np.packbits(child_valid, bitorder="little").tobytes())
        payload = b"".join(head_parts) + inner_payload
        flags_child = child_valid is not None
        reason = f"inner={inner};{reason}" if reason else f"inner={inner}"
    else:
        npdt = _NUMPY_OF[dtype]
        if dtype == "bool":
            vals = np.asarray(dense)
            codec = "bool_pack"
            payload = np.packbits(vals, bitorder="little").tobytes()
        else:
            if pa.types.is_timestamp(dense.type) or pa.types.is_date32(dense.type):
                ints = dense.cast(pa.int64() if npdt == np.dtype("int64") else pa.int32())
                vals = np.asarray(ints)
            else:
                vals = np.asarray(dense)
            vals = np.ascontiguousarray(vals, dtype=npdt)
            if codec == "auto":
                picked = choose_codec(vals, dtype)
                codec, reason = picked[0], picked[1]
                if len(picked) == 3:  # full-chunk trial payload reused
                    payload = picked[2]
                else:
                    try:
                        payload = _NUM_ENC[codec](vals)
                    except L.NotDecimalError:
                        # sampled detection said decimal but the full
                        # chunk isn't: fall back to the float codec
                        codec = "xor_split"
                        reason += ";dec_for_fallback"
                        payload = _NUM_ENC[codec](vals)
            else:
                payload = _NUM_ENC[codec](vals)
        raw_bytes = n_valid * npdt.itemsize
        checksum = zlib.crc32(np.ascontiguousarray(vals)) ^ n
        if dtype != "bool" and n_valid and np.isfinite(vals).all():
            import math

            stat_min = math.nextafter(float(vals.min()), -math.inf)
            stat_max = math.nextafter(float(vals.max()), math.inf)
        else:
            stat_min = stat_max = None

    flags = (1 if has_nulls else 0) | (2 if flags_child else 0)
    head = MAGIC + struct.pack(
        "<BBBBII", L.CODEC_IDS[codec], DTYPE_IDS[dtype], flags, 0, n, n_valid
    )
    blob = head + bitmap + payload
    meta = ChunkMeta(
        codec=codec, dtype=dtype, n=n, n_valid=n_valid, raw_bytes=raw_bytes,
        enc_bytes=len(blob), checksum=checksum, reason=reason,
        stat_min=stat_min, stat_max=stat_max,
        stat_min_bin=stat_min_bin, stat_max_bin=stat_max_bin,
    )
    return blob, meta


def _dict_codes(
    offs: np.ndarray, data: np.ndarray, dense: pa.Array
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """(codes, dict_offsets, dict_data) with pyarrow dictionary_encode
    semantics (codes in first-occurrence order). C single pass when
    available; the library call is the fallback twin (pinned equal by
    tests/test_light_codecs.py::test_dict_codes_parity)."""
    from . import _native

    nat = _native.get()
    n = offs.size - 1
    if nat is not None and n:
        codes = np.empty(n, dtype=np.int64)
        first_row = np.empty(n, dtype=np.int64)
        card = nat["dict_encode_block"](
            np.ascontiguousarray(data), np.ascontiguousarray(offs), n,
            codes, first_row, n,
        )
        if card >= 0:
            doffs, ddata = L.gather_strings(offs, data, first_row[:card])
            return codes, doffs, ddata
    d = dense.dictionary_encode()
    doffs, ddata = _string_block(d.dictionary)
    return np.asarray(d.indices).astype(np.int64), doffs, ddata


def _binary_block_array(offs: np.ndarray, data: np.ndarray) -> pa.Array:
    """(offsets, data) -> pa.binary array (zone-map bounds input);
    byte-wise min/max over binary equals the string column's UTF-8
    lexicographic bounds."""
    return pa.Array.from_buffers(
        pa.binary(), offs.size - 1,
        [None, pa.py_buffer(offs.astype(np.int32).tobytes()),
         pa.py_buffer(np.ascontiguousarray(data).tobytes())],
    )


_STAT_PREFIX = 16


def _string_bounds(dense: pa.Array) -> tuple[bytes | None, bytes | None]:
    """Conservative 16-byte zone-map bounds for a string/binary chunk.

    min bound: a PREFIX of the true min is lexicographically <= it, so
    truncation alone stays a valid lower bound. max bound: a prefix is
    NOT an upper bound, so the truncated prefix's last non-0xFF byte
    is incremented (parquet's truncate-and-increment); if every prefix
    byte is 0xFF the bound is None (= unbounded, conservative)."""
    if len(dense) == 0:
        return None, None
    import pyarrow.compute as pc

    try:
        mm = pc.min_max(dense)
    except pa.ArrowNotImplementedError:
        return None, None
    mn = mm["min"].as_py()
    mx = mm["max"].as_py()
    if mn is None or mx is None:
        return None, None
    if isinstance(mn, str):
        mn, mx = mn.encode(), mx.encode()
    lo = mn[:_STAT_PREFIX]
    hi = mx
    if len(mx) > _STAT_PREFIX:
        trunc = bytearray(mx[:_STAT_PREFIX])
        for i in range(len(trunc) - 1, -1, -1):
            if trunc[i] < 0xFF:
                trunc[i] += 1
                hi = bytes(trunc[: i + 1])
                break
        else:
            return lo, None  # all-0xFF prefix: no finite upper bound
    return lo, hi


def _encode_str_payload(
    codec: str, offs: np.ndarray, data: np.ndarray, dense: pa.Array,
    cache: dict | None = None,
) -> bytes:
    if codec in ("dict", "dict_rle"):
        d = dense.dictionary_encode()
        codes = np.asarray(d.indices).astype(np.int64)
        doffs, ddata = _string_block(d.dictionary)
        return L.str_dict_encode(offs, data, codes, doffs, ddata, rle=(codec == "dict_rle"))
    if codec == "fsst":
        symbols = cache.get("fsst_symbols") if cache is not None else None
        if symbols is None:
            blob = fsst.encode(offs, data)
            if cache is not None:
                cache["fsst_symbols"] = fsst.table_of(memoryview(blob))
            return blob
        return fsst.encode(offs, data, symbols=symbols)
    return _STR_ENC[codec](offs, data)


def checksum_of(arr: pa.Array) -> int:
    """Recompute the frame checksum of a decoded array (crc32 of the
    canonical valid-values bytes ^ row count) — the integrity check a
    decode job can run against the lineage rows."""
    if isinstance(arr, pa.ChunkedArray):
        arr = arr.combine_chunks()
    dtype = dtype_of_arrow(arr.type)
    n = len(arr)
    dense = arr.drop_null() if arr.null_count else arr
    if dtype in ("str", "bin"):
        _offs, data = _string_block(dense)
        return zlib.crc32(data) ^ n
    if dtype.startswith("list_"):
        _lens, vals, _cv = _list_block(dense, _NUMPY_OF[dtype[5:]])
        return zlib.crc32(np.ascontiguousarray(vals)) ^ n
    npdt = _NUMPY_OF[dtype]
    if pa.types.is_timestamp(dense.type) or pa.types.is_date32(dense.type):
        dense = dense.cast(pa.int64() if npdt == np.dtype("int64") else pa.int32())
    vals = np.ascontiguousarray(np.asarray(dense), dtype=npdt)
    return zlib.crc32(vals) ^ n


def decode_chunk(blob: bytes | memoryview, arrow_type: pa.DataType | None = None) -> pa.Array:
    """Decompress a frame back to an arrow array (nulls restored)."""
    buf = memoryview(blob)
    if buf.format != "B":
        # pa.Buffer memoryviews are format 'b' (SIGNED char): byte
        # indexing would return negative ints and desync header parses
        buf = buf.cast("B")
    if bytes(buf[:4]) != MAGIC:
        raise ValueError("bad chunk magic")
    codec_id, dtype_id, flags, _pad, n, n_valid = struct.unpack_from("<BBBBII", buf, 4)
    codec = L.CODEC_NAMES[codec_id]
    dtype = DTYPE_NAMES[dtype_id]
    pos = 16
    valid = None
    if flags & 1:
        nbytes = (n + 7) >> 3
        valid = np.unpackbits(
            np.frombuffer(buf[pos : pos + nbytes], dtype=np.uint8),
            bitorder="little", count=n,
        ).astype(bool)
        pos += nbytes
    payload = buf[pos:]

    if arrow_type is None:
        arrow_type = arrow_of_dtype(dtype)

    if dtype in ("str", "bin"):
        offs, data = _STR_DEC[codec](payload, n_valid)
        return _build_string_array(arrow_type, n, valid, offs, data)
    if dtype.startswith("list_"):
        npdt = _NUMPY_OF[dtype[5:]]
        if codec == "list_plain":  # legacy layout: values always plain
            lens_sz = struct.unpack_from("<I", payload, 0)[0]
            lens = (
                L.for_bitpack_decode(payload[4 : 4 + lens_sz], n_valid, np.int64)
                if n_valid
                else np.zeros(0, dtype=np.int64)
            )
            vals = np.frombuffer(payload[4 + lens_sz :], dtype=npdt)
            return _build_list_array(arrow_type, n, valid, lens, vals, None)
        inner_id, lens_sz = struct.unpack_from("<BI", payload, 0)
        pos_l = 5
        lens = (
            L.for_bitpack_decode(payload[pos_l : pos_l + lens_sz], n_valid, np.int64)
            if n_valid
            else np.zeros(0, dtype=np.int64)
        )
        pos_l += lens_sz
        child_valid = None
        n_child_valid = int(lens.sum()) if lens.size else 0
        if flags & 2:
            n_child = struct.unpack_from("<I", payload, pos_l)[0]
            pos_l += 4
            cb = (n_child + 7) >> 3
            child_valid = np.unpackbits(
                np.frombuffer(payload[pos_l : pos_l + cb], dtype=np.uint8),
                bitorder="little", count=n_child,
            ).astype(bool)
            pos_l += cb
            n_child_valid = int(np.count_nonzero(child_valid))
        vals = _NUM_DEC[L.CODEC_NAMES[inner_id]](payload[pos_l:], n_child_valid, npdt)
        return _build_list_array(arrow_type, n, valid, lens, vals, child_valid)
    if dtype == "bool":
        vals = np.unpackbits(
            np.frombuffer(payload, dtype=np.uint8), bitorder="little", count=n_valid
        ).astype(bool)
    else:
        vals = _NUM_DEC[codec](payload, n_valid, _NUMPY_OF[dtype])

    if valid is None:
        return pa.array(vals, type=arrow_type) if dtype not in ("ts_us", "ts_ns", "date32") else _cast_temporal(vals, arrow_type)
    full = np.zeros(n, dtype=vals.dtype)
    full[valid] = vals
    if dtype in ("ts_us", "ts_ns", "date32"):
        base = _cast_temporal(full, arrow_type)
        return pa.Array.from_buffers(
            arrow_type, n,
            [pa.py_buffer(np.packbits(valid, bitorder="little").tobytes()),
             base.buffers()[1]],
        )
    return pa.array(full, type=arrow_type, mask=~valid)


def _cast_temporal(ints: np.ndarray, t: pa.DataType) -> pa.Array:
    return pa.Array.from_buffers(
        t, ints.size, [None, pa.py_buffer(np.ascontiguousarray(ints).tobytes())]
    )


def _build_string_array(
    t: pa.DataType, n: int, valid: np.ndarray | None, offs: np.ndarray, data: np.ndarray
) -> pa.Array:
    if valid is None:
        full_offs = offs
        validity_buf = None
    else:
        lens = np.zeros(n, dtype=np.int64)
        lens[valid] = np.diff(offs)
        full_offs = np.zeros(n + 1, dtype=np.int64)
        np.cumsum(lens, out=full_offs[1:])
        validity_buf = pa.py_buffer(np.packbits(valid, bitorder="little").tobytes())
    if full_offs.size and full_offs[-1] > np.iinfo(np.int32).max:
        # silently-wrapped offsets would mis-slice every string past 2 GiB
        raise ValueError(
            f"string chunk payload {full_offs[-1]} bytes overflows int32 "
            "offsets; re-encode with smaller chunk_rows"
        )
    off32 = full_offs.astype(np.int32)
    return pa.Array.from_buffers(
        t, n,
        [validity_buf, pa.py_buffer(off32.tobytes()), pa.py_buffer(np.ascontiguousarray(data).tobytes())],
    )


def _build_list_array(
    t: pa.DataType, n: int, valid: np.ndarray | None, lens: np.ndarray,
    vals: np.ndarray, child_valid: np.ndarray | None,
) -> pa.Array:
    if valid is None:
        full_lens = lens
        validity_buf = None
    else:
        full_lens = np.zeros(n, dtype=np.int64)
        full_lens[valid] = lens
        validity_buf = pa.py_buffer(np.packbits(valid, bitorder="little").tobytes())
    offs64 = np.zeros(n + 1, dtype=np.int64)
    np.cumsum(full_lens, out=offs64[1:])
    if offs64[-1] > np.iinfo(np.int32).max:
        raise ValueError(
            f"list chunk child count {offs64[-1]} overflows int32 offsets; "
            "re-encode with smaller chunk_rows"
        )
    offs = offs64.astype(np.int32)
    if child_valid is None:
        child = pa.array(vals, type=t.value_type)
    else:
        full = np.zeros(child_valid.size, dtype=vals.dtype)
        full[child_valid] = vals
        child = pa.array(full, type=t.value_type, mask=~child_valid)
    return pa.Array.from_buffers(
        t, n, [validity_buf, pa.py_buffer(offs.tobytes())], children=[child]
    )


def choose_codec_str(
    offs: np.ndarray, data: np.ndarray, cache: dict | None = None
) -> tuple[str, str]:
    from .selector import choose_codec_string

    return choose_codec_string(offs, data, cache)
