"""Per-chunk codec auto-selection (the engine's domain-specific
"optimizer" — SURVEY.md §4: no Catalyst extension needed, selection is
a pure driver-side/worker-side function over sampled statistics).

Strategy: size a bounded sample (head + middle slices, so sorted
prefixes don't bias) with every applicable codec, score by

    score = sampled_bytes * (1 + ALPHA * (speed_rank - 1))

where speed_rank reflects relative encode+decode cost. The cheapest
plausible codecs are screened first with O(1) stats (constant? run
count? sortedness? cardinality?) so the expensive trials only run when
they can win. The XOR and FOR families compute their exact encoded
length without writing it; the rest (rle, dec_for, bss, the string
codecs) trial-encode. Deterministic — same chunk always picks the
same codec; the decision and per-candidate sizes are recorded in
lineage.
"""

from __future__ import annotations

import numpy as np

from .codecs import fsst
from .codecs import light as L

_SAMPLE = 4096
_SAMPLE_STR = 256  # string trials re-compress real payload bytes —
# 2x256 strings bounds the per-chunk trial cost while staying unbiased
ALPHA = 0.05

# relative encode+decode cost ranks (measured order of magnitude)
SPEED = {
    "const": 0.5, "plain": 1.0, "for_bitpack": 1.2, "delta_bp": 1.3,
    "rle": 1.2, "xor_split": 1.6, "patas": 2.5, "chimp": 3.0,
    "chimpn": 4.0, "gorilla": 4.5, "ts_chimp": 3.0,
    "dict": 1.5, "dict_rle": 1.4, "fsst": 12.0, "dec_for": 1.3,
    "gcd_for": 1.25, "bss": 3.0, "deflate": 20.0,
}


def _sample_slices(n: int, size: int = _SAMPLE) -> list[slice]:
    """head + mid + tail thirds: a head/mid-only sample systematically
    misreads sorted/clustered chunks (regular deltas at the head,
    irregular later)."""
    third = max(size * 2 // 3, 1)
    if n <= 4 * third:  # below this the three slices would overlap —
        return [slice(0, n)]  # and double-counted values bias trials
    mid = n // 2
    return [slice(0, third), slice(mid, mid + third), slice(n - third, n)]


def _score(nbytes: float, codec: str) -> float:
    return nbytes * (1.0 + ALPHA * (SPEED[codec] - 1.0))


def _pick(cands: dict[str, float], raw: int) -> tuple[str, str]:
    best = min(cands, key=lambda c: _score(cands[c], c))
    # don't pay a codec that saves <2%
    if best != "plain" and "plain" in cands and cands[best] > 0.98 * cands["plain"]:
        best = "plain"
    reason = ",".join(f"{c}={cands[c]:.0f}" for c in sorted(cands, key=cands.get))
    return best, f"sample_raw={raw};{reason}"


def choose_codec(
    vals: np.ndarray, dtype: str
) -> tuple[str, str] | tuple[str, str, bytes]:
    """Pick a codec for a numeric/temporal chunk (valid values only).

    Returns (codec, reason) — or (codec, reason, payload) when the
    winner was trial-encoded on the FULL chunk, so the caller reuses
    the bytes instead of encoding a second time."""
    n = vals.size
    if n == 0:
        return "plain", "empty"
    if dtype in ("f64", "f32"):
        cmpv = vals.view(np.uint64 if vals.dtype.itemsize == 8 else np.uint32)
    else:
        cmpv = vals
    if n == 1 or bool((cmpv == cmpv[0]).all()):
        return "const", "all-equal"

    sample = np.concatenate([vals[s] for s in _sample_slices(n)])
    m = sample.size
    raw = sample.nbytes
    cands: dict[str, float] = {"plain": float(raw)}
    full_payloads: dict[str, bytes] = {}
    gcd_pre: list | None = None

    def full_trial(enc, name: str) -> float:
        # cheap codecs trial-encode the FULL chunk (C-packed, ~0.2 ms
        # per 65k values): head+mid samples systematically misjudge
        # delta widths on sorted/clustered data. Normalized to the
        # sample's value count so sampled and full sizes compare; the
        # payload is kept so the winner isn't encoded twice.
        blob = enc(vals)
        full_payloads[name] = blob
        return len(blob) * (m / n)

    nruns = int(np.count_nonzero(np.diff(
        sample.view(np.uint64) if dtype == "f64" else
        sample.view(np.uint32) if dtype == "f32" else sample
    ))) + 1
    if nruns < sample.size // 4:
        cands["rle"] = len(L.rle_encode(sample))

    if dtype in ("f64",):
        k = L.dec_for_detect(sample)
        if k is not None:
            # decimal chunks: dec_for (FOR over small scaled ints) beats
            # every XOR-family/bss candidate by 2x+ — skip their trials.
            # Full trial: the encode verifies the WHOLE chunk bit-exactly
            # (the sampled k can fail on the tail), and the payload is
            # reused, so there's no second detect+encode pass
            try:
                cands["dec_for"] = full_trial(
                    lambda v: L.dec_for_encode(v, k_hint=k), "dec_for"
                )
            except L.NotDecimalError:
                # sampled-decimal but not chunk-decimal: fall through to
                # the full non-decimal candidate set — leaving only
                # plain/rle/xor_split would regress near-decimal chunks
                # to a clearly worse codec
                cands["chimp"] = L.chimp_block_size(sample)
                cands["patas"] = L.patas_block_size(sample)
                cands["chimpn"] = L.chimpn_block_size(sample)
                cands["bss"] = len(L.bss_encode(sample))
            cands["xor_split"] = L.xor_split_size(sample.view(np.uint64))
        else:
            # XOR trials are exact size-only passes, equal to the
            # encoded lengths; bss needs its deflate, so it encodes
            cands["xor_split"] = L.xor_split_size(sample.view(np.uint64))
            cands["chimp"] = L.chimp_block_size(sample)
            cands["patas"] = L.patas_block_size(sample)
            cands["chimpn"] = L.chimpn_block_size(sample)
            cands["bss"] = len(L.bss_encode(sample))
    elif dtype == "f32":
        # XOR family is 64-bit (lib.rs:44-50); f32 embedding payloads
        # go through byte-stream split (exponent/sign lanes deflate,
        # incompressible mantissa lanes stay raw per-lane). Full trial:
        # the winner's deflate pass is the dominant cost — reuse it.
        cands["bss"] = full_trial(L.bss_encode, "bss")
    elif dtype in ("ts_us", "ts_ns"):
        # full-chunk sizing for the whole ts family (sampled thirds
        # still misjudge chimp's header amortization on clustered
        # timestamps) — but ANALYTIC: the FOR family's length is a
        # pure function of full-chunk min/max/gcd stats and ts_chimp
        # needs only the plan pass (chimp_size_bits), so no trial
        # bit-packs anything; the winner is encoded once by the caller
        cands["ts_chimp"] = L.ts_chimp_size(vals) * (m / n)
        cands["delta_bp"] = L.delta_bp_size(vals) * (m / n)
        cands["for_bitpack"] = L.for_bitpack_size(vals) * (m / n)
        iv = sample.astype(np.int64)
        if iv.size and int(np.gcd.reduce(iv - iv.min())) > 1:
            sz, *gcd_pre = L.gcd_for_stats(vals)
            cands["gcd_for"] = sz * (m / n)
    else:  # integer kinds, date32
        iv = sample.astype(np.int64)
        # range in PYTHON ints: xxhash/signature columns span nearly
        # the full int64 range, where iv.max()-iv.min() wraps (numpy
        # overflow warning + a bogus width that defeats the screen);
        # everything inside the width<=56 branch is then wrap-safe
        width = (int(iv.max()) - int(iv.min())).bit_length() if iv.size else 0
        if width <= 56:
            # analytic full-chunk sizes (see ts branch): screens stay
            # sampled, lengths are exact, nothing is packed twice
            cands["for_bitpack"] = L.for_bitpack_size(vals) * (m / n)
            if iv.size and int(np.gcd.reduce(iv - iv.min())) > 1:
                sz, *gcd_pre = L.gcd_for_stats(vals)
                cands["gcd_for"] = sz * (m / n)
            dmax = np.abs(np.diff(iv)).max() if iv.size > 1 else 0
            if int(dmax).bit_length() < width:
                cands["delta_bp"] = L.delta_bp_size(vals) * (m / n)
    best, reason = _pick(cands, raw)
    if best in full_payloads:
        return best, reason, full_payloads[best]
    if best == "gcd_for" and gcd_pre is not None:
        # the stats pass already paid the full-chunk gcd: hand the
        # encoder the precomputed (lo, g, width) instead of a re-scan
        return best, reason, L.gcd_for_encode(vals, pre=tuple(gcd_pre))
    return best, reason


def choose_codec_string(
    offs: np.ndarray, data: np.ndarray, cache: dict | None = None
) -> tuple[str, str]:
    """Pick a codec for a string/binary chunk given its (offsets, data)."""
    n = offs.size - 1
    if n == 0:
        return "plain", "empty"
    lens = np.diff(offs)
    if n == 1 or (bool((lens == lens[0]).all()) and _all_rows_equal(offs, data, lens)):
        return "const", "all-equal"

    # sample string block
    sl = _sample_slices(n, _SAMPLE_STR)
    s_idx = np.concatenate([np.arange(s.start, s.stop, dtype=np.int64) for s in sl])
    soffs, sdata = L.gather_strings(offs, data, s_idx)
    m = s_idx.size
    raw = int(sdata.size) + 4 * m
    cands: dict[str, int] = {"plain": len(L.str_plain_encode(soffs, sdata))}

    # cardinality screen on a hashed sample
    import pyarrow as pa

    sample_arr = _to_arrow(soffs, sdata)
    card = len(sample_arr.unique())
    if card <= max(2, m // 2):
        d = sample_arr.dictionary_encode()
        codes = np.asarray(d.indices).astype(np.int64)
        doffs, ddata = _block_of(d.dictionary)
        cands["dict"] = len(L.str_dict_encode(soffs, sdata, codes, doffs, ddata))
        nruns = int(np.count_nonzero(np.diff(codes))) + 1
        if nruns < m // 2:
            cands["dict_rle"] = len(
                L.str_dict_encode(soffs, sdata, codes, doffs, ddata, rle=True)
            )
    avg_len = float(sdata.size) / max(m, 1)
    if avg_len >= 8:
        # markup/JSON-heavy payloads exceed a 255-symbol FSST table;
        # the sampled trial decides (speed rank prices deflate's
        # slower decode, so it only wins on a real ratio gap). The
        # TRIAL runs level 1 (~3x cheaper than the level-6 payload
        # encode, ~10-20% larger) — a conservative estimate that only
        # under-sells deflate, never over-sells it
        cands["deflate"] = len(L.str_deflate_encode(soffs, sdata, level=1))
    if avg_len >= 8 and card > m // 4:
        syms = cache.get("fsst_symbols") if cache is not None else None
        if syms is None:
            # train ONCE per (task, column): the trial's table is the
            # one the payload encode (and all later chunks) will reuse
            raw_b = sdata.tobytes()
            step = max(1, m // 256)
            syms = fsst.train(
                [raw_b[int(soffs[i]) : int(soffs[i + 1])] for i in range(0, m, step)]
            )
            if cache is not None:
                cache["fsst_symbols"] = syms
        cands["fsst"] = len(fsst.encode(soffs, sdata, symbols=syms))
    return _pick(cands, raw)


def _all_rows_equal(offs, data, lens) -> bool:
    ln = int(lens[0])
    if ln == 0:
        return True
    mat = data[int(offs[0]) : int(offs[0]) + ln]
    view = data[: int(offs[-1])].reshape(-1, ln) if data.size == ln * lens.size else None
    if view is None:
        return False
    return bool((view == mat).all())


def _to_arrow(offs: np.ndarray, data: np.ndarray):
    import pyarrow as pa

    return pa.Array.from_buffers(
        pa.binary(), offs.size - 1,
        [None, pa.py_buffer(offs.astype(np.int32).tobytes()), pa.py_buffer(data.tobytes())],
    )


def _block_of(arr) -> tuple[np.ndarray, np.ndarray]:
    from .framing import _string_block

    return _string_block(arr)
