"""Per-layer metrics of the traced run (``--trace 1``).

Layers are the repository's modules. Spans are recorded from the
benchmark's own files, around its calls into each layer; nothing inside
the engine is instrumented. Two sources feed the metrics:

* traced passes: the workload's pass with extra breakdown actions (the
  encode is materialized before the commit, the decode is counted before
  the aggregate). Each metric is the median over the traced passes.
* replays in this process: the workload's chunks and frames run once
  through the selector, framing and codecs, and the sink's parquet write
  is repeated on the exported shards. These time a layer in isolation,
  single-threaded, with no Spark in the way. The selector is fed through
  framing's own block helpers, exactly as ``encode_chunk`` feeds it.

``LAYERS`` lists every metric with the end-to-end metric it should move
and on which workload; the traced run prints that mapping. Metrics of a
layer a workload leaves idle read 0.
"""

from __future__ import annotations

import contextlib
import os
import statistics
import time
from collections import Counter

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

CODECS = ("plain", "const", "chimp", "chimpn", "gorilla", "patas", "xor_split",
          "dict", "dict_rle", "rle", "for_bitpack", "delta_bp", "ts_chimp", "fsst",
          "dec_for", "gcd_for", "bss", "deflate")

_ENC = "encode_mb_s"
_DEC = "decode_mb_s"

# name -> (unit, better, the end-to-end metric it should move and where)
LAYERS: dict[str, tuple[str, str, str]] = {
    "scan.units": ("count", "lower", f"{_ENC} on tpch and float_series"),
    "scan.read_s": ("s", "lower", f"{_ENC} on tpch and float_series"),
    "core.encode_action_s": ("s", "lower", f"{_ENC} on tpch and float_series"),
    "core.kernel_core_s": ("s", "lower", f"{_ENC} on tpch and float_series"),
    "core.kernel_share": ("frac", "higher", f"{_ENC} on tpch and float_series"),
    "core.chunks": ("count", "lower", f"{_ENC} on tpch and float_series"),
    "core.decode_action_s": ("s", "lower", f"{_DEC} (the query) on tpch and float_series"),
    "selector.calls": ("count", "lower", f"{_ENC}, mostly on float_series"),
    "selector.choose_s": ("s", "lower", f"{_ENC}, mostly on float_series"),
    **{f"selector.codec.{c}": ("count", "higher",
                               "compression_ratio on tpch and float_series (must not drop)")
       for c in CODECS},
    "framing.encode_s": ("s", "lower", f"{_ENC} on tpch and float_series"),
    **{f"framing.encode_fixed_s.{c}": ("s", "lower",
                                       f"{_ENC}: XOR codecs on float_series, light codecs on tpch")
       for c in CODECS},
    "codecs.fsst.train_s": ("s", "lower", f"{_ENC} on tpch"),
    **{f"framing.decode_s.{c}": ("s", "lower", f"{_DEC} on tpch and float_series")
       for c in CODECS},
    "framing.checksum_s": ("s", "lower", f"{_DEC} on float_series (checksums verified)"),
    "native.loaded": ("bool", "higher", "explains a step change on every workload"),
    "sink.action_s": ("s", "lower", f"{_DEC} on tpch; 0 on float_series"),
    "sink.split_action_s": ("s", "lower", f"{_DEC} on tpch (split export); 0 on float_series"),
    "sink.rows": ("count", "higher", f"{_DEC} on tpch"),
    "sink.frame_bytes_read": ("bytes", "lower", f"{_DEC} on tpch (split export)"),
    "sink.frame_bytes_total": ("bytes", "lower", f"{_DEC} on tpch (split export)"),
    "sink.read_fraction": ("frac", "lower",
                           f"{_DEC} on tpch (split export; base: frame_bytes_total)"),
    "sink.write_s": ("s", "lower", f"{_DEC} on tpch"),
    "manifest.commit_s": ("s", "lower", f"{_ENC} on tpch; 0 on float_series"),
    "manifest.files": ("count", "lower", f"{_ENC} on tpch"),
    "manifest.read_s": ("s", "lower", f"{_DEC} (the query) on tpch"),
    "trace.overhead_frac": ("frac", "lower", "none: traced wall / untraced wall - 1"),
}


class Tracer:
    """In-memory spans (name, start, end) and counters."""

    enabled = True

    def __init__(self):
        self.spans: list[tuple[str, float, float]] = []
        self.counts: Counter = Counter()

    @contextlib.contextmanager
    def span(self, name: str):
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.spans.append((name, t0, time.perf_counter()))

    def add(self, name: str, value) -> None:
        self.counts[name] += value

    def total(self, name: str) -> float:
        return sum(e - s for n, s, e in self.spans if n == name)


class _NullTracer:
    enabled = False

    def span(self, name: str):
        return contextlib.nullcontext()

    def add(self, name: str, value) -> None:
        pass


NULL = _NullTracer()


def _selector_call(arr: pa.Array, cache: dict) -> float:
    """Time the selector on one chunk, fed the way encode_chunk feeds it."""
    from chimp_spark import framing, selector

    dtype = framing.dtype_of_arrow(arr.type)
    dense = arr.drop_null() if arr.null_count else arr
    if dtype in ("str", "bin"):
        offs, data = framing._string_block(dense)
        t0 = time.perf_counter()
        selector.choose_codec_string(offs, data, cache)
        return time.perf_counter() - t0
    npdt = framing._NUMPY_OF[dtype]
    if pa.types.is_timestamp(dense.type) or pa.types.is_date32(dense.type):
        dense = dense.cast(pa.int64() if npdt == np.dtype("int64") else pa.int32())
    vals = np.ascontiguousarray(np.asarray(dense), dtype=npdt)
    t0 = time.perf_counter()
    selector.choose_codec(vals, dtype)
    return time.perf_counter() - t0


def _fsst_train(arr: pa.Array) -> float:
    """Time one FSST training on the strided sample the selector uses."""
    from chimp_spark import framing, selector
    from chimp_spark.codecs import fsst

    offs, data = framing._string_block(arr.drop_null() if arr.null_count else arr)
    idx = np.concatenate([np.arange(s.start, s.stop) for s in
                          selector._sample_slices(offs.size - 1, selector._SAMPLE_STR)])
    raw = data.tobytes()
    step = max(1, idx.size // 256)
    sample = [raw[int(offs[i]):int(offs[i + 1])] for i in idx[::step]]
    t0 = time.perf_counter()
    fsst.train(sample)
    return time.perf_counter() - t0


def replay_encode(chunks, m: dict) -> list[tuple[str, bytes]]:
    """Selector, auto encode and pinned-codec encode of every chunk.
    Returns (codec, frame) for the decode replay."""
    from chimp_spark import framing

    sel_cache: dict = {}
    enc_cache: dict = {}
    fixed_cache: dict = {}
    frames = []
    for table, col, arr in chunks:
        key = (table, col)
        m["selector.calls"] += 1
        m["selector.choose_s"] += _selector_call(arr, sel_cache.setdefault(key, {}))
        t0 = time.perf_counter()
        blob, meta = framing.encode_chunk(arr, codec="auto", cache=enc_cache.setdefault(key, {}))
        m["framing.encode_s"] += time.perf_counter() - t0
        # pinned to the codec auto chose, with a warm cache: selection
        # and FSST training excluded
        cache = fixed_cache.setdefault(key, dict(enc_cache[key]))
        t0 = time.perf_counter()
        framing.encode_chunk(arr, codec=meta.codec, cache=cache)
        m[f"framing.encode_fixed_s.{meta.codec}"] += time.perf_counter() - t0
        if meta.codec == "fsst":
            m["codecs.fsst.train_s"] += _fsst_train(arr)
        frames.append((meta.codec, blob))
    return frames


def replay_decode(frames, m: dict) -> None:
    """decode_chunk and checksum_of of every (codec, frame)."""
    from chimp_spark import framing

    for codec, blob in frames:
        t0 = time.perf_counter()
        arr = framing.decode_chunk(memoryview(blob))
        m[f"framing.decode_s.{codec}"] += time.perf_counter() - t0
        t0 = time.perf_counter()
        framing.checksum_of(arr)
        m["framing.checksum_s"] += time.perf_counter() - t0


def replay(wl, m: dict, tr: Tracer) -> None:
    """The workload's in-process layer replays."""
    frames = replay_encode(wl.chunks(tr), m)
    m["scan.read_s"] = tr.total("scan.read")
    if wl.name == "float_series":  # the pass decodes what it encoded
        replay_decode(frames, m)
        return
    # tpch: the frames the last traced pass committed, then the sink's
    # shard write repeated on the shards its full export wrote
    t = pa.concat_tables(pq.read_table(f, columns=["codec", "frame"]) for f in wl.data_files())
    replay_decode(zip(t.column("codec").to_pylist(),
                      (b.as_buffer() for b in t.column("frame"))), m)
    out = os.path.join(wl.run_dir, "sink-write-replay")
    os.makedirs(out, exist_ok=True)
    for f in sorted(p for p in os.listdir(wl.last_export) if p.endswith(".parquet")):
        shard = pq.read_table(os.path.join(wl.last_export, f))
        t0 = time.perf_counter()
        pq.write_table(shard, os.path.join(out, f), compression="snappy", use_dictionary=False)
        m["sink.write_s"] += time.perf_counter() - t0


def per_layer(wl, untraced, traced, cond: dict) -> dict:
    """Every LAYERS metric for one workload, with its unit."""
    m: dict[str, float] = {name: 0 for name in LAYERS}

    def med(values):
        return statistics.median(values) if values else 0

    span_of = {"core.encode_action_s": "core.encode_action",
               "core.decode_action_s": "core.decode_action",
               "sink.action_s": "export_full", "sink.split_action_s": "export_split",
               "manifest.commit_s": "manifest.commit", "manifest.read_s": "manifest.read"}
    for metric, span in span_of.items():
        m[metric] = med([p.tracer.total(span) for p in traced])
    counts = traced[-1].tracer.counts
    for name in ("scan.units", "core.chunks", "sink.rows", "sink.frame_bytes_read",
                 "sink.frame_bytes_total", "manifest.files"):
        m[name] = counts.get(name, 0)
    for c in CODECS:
        m[f"selector.codec.{c}"] = counts.get(f"selector.codec.{c}", 0)
    m["core.kernel_core_s"] = med([p.tracer.counts.get("core.kernel_ns", 0) / 1e9
                                   for p in traced])
    if m["core.encode_action_s"]:
        m["core.kernel_share"] = m["core.kernel_core_s"] / (
            m["core.encode_action_s"] * cond["nproc"])
    if m["sink.frame_bytes_total"]:
        m["sink.read_fraction"] = m["sink.frame_bytes_read"] / m["sink.frame_bytes_total"]
    m["native.loaded"] = int(cond["native.loaded"])
    m["trace.overhead_frac"] = (med([p.wall for p in traced])
                                / med([p.wall for p in untraced]) - 1)

    replay(wl, m, Tracer())
    for name, (unit, _better, moves) in LAYERS.items():
        print(f"layer {wl.name} {name} -> {moves}")
    return {name: (m[name], LAYERS[name][0]) for name in LAYERS}

