"""Optional C fast paths for the strictly-sequential inner loops.

The engine's own formats decode fully vectorized (xor_split, dict,
RLE, FOR, delta). The *reference* bit formats, however, are
sequentially self-delimiting (each record's width depends on its
header — chimp.rs:242-270), their encoders carry state from record to
record (the leading-zeros state, Gorilla's window, the Chimp128/Patas
ring index), and FSST's greedy longest-match walks byte-by-byte. Those
loops run here as one sequential C pass each: the four XOR encoders
(with a size-only mode for the selector's trials) and decoders, FSST
compress/decode, and the fixed-width bit-pack walks. The source below
is compiled on first use with the system toolchain and loaded via
ctypes; the built library's name carries a hash of ``_SRC``, so an
edited kernel is rebuilt rather than reused.

Pure-Python/numpy fallbacks remain the reference implementations: if no
C compiler is present (or CHIMP_SPARK_NO_NATIVE=1), everything still
works and the test suite exercises both paths for equality.
"""

from __future__ import annotations

import ctypes
import hashlib
import os
import subprocess
import tempfile

_SRC = r"""
#include <stdint.h>
#include <stddef.h>
#include <string.h>

static inline uint64_t ld_be(const uint8_t* p) {
    uint64_t v; memcpy(&v, p, 8); return __builtin_bswap64(v);
}

/* nb bits at bit position pos of a stream of big-endian 64-bit words,
   read from the bytes as a frame stores them (no host-order copy) */
static inline uint64_t rd(const uint8_t* b, long pos, int nb) {
    long i = pos >> 6; int s = 64 - (int)(pos & 63);
    uint64_t mask = (nb >= 64) ? ~0ULL : ((1ULL << nb) - 1);
    uint64_t w0 = ld_be(b + i * 8);
    if (nb <= s) return (w0 >> (s - nb)) & mask;
    int rest = nb - s;
    return (((w0 & ((1ULL << s) - 1)) << rest) | (ld_be(b + i * 8 + 8) >> (64 - rest))) & mask;
}

static const int LD[8] = {0,8,12,16,18,20,22,24};
#define NANSENT 0x7ff8000000000000ULL

long chimp_dec(const uint8_t* w, long nbytes, uint64_t* out, long max_out, int sentinel) {
    long end = (nbytes >> 3) << 6;
    if (end < 64 || max_out < 1) return -1;
    uint64_t curr = rd(w, 0, 64);
    long pos = 64, cnt = 0;
    int lead = 0;
    if (sentinel && curr == NANSENT) return 0; /* empty stream */
    out[cnt++] = curr;
    while (cnt < max_out) {
        if (pos + 2 > end) { if (sentinel) return cnt; return -1; }
        int flag = (int)rd(w, pos, 2); pos += 2;
        if (flag == 1) {
            if (pos + 9 > end) { if (sentinel) return cnt; return -1; }
            int tmp = (int)rd(w, pos, 9); pos += 9;
            lead = LD[tmp >> 6];
            int center = tmp & 63; if (!center) center = 64;
            int trail = 64 - center - lead;
            if (trail < 0) return -1; /* corrupt header: negative shift is UB */
            if (pos + center > end) { if (sentinel) return cnt; return -1; }
            curr ^= rd(w, pos, center) << trail; pos += center;
        } else if (flag == 2) {
            int c = 64 - lead;
            if (pos + c > end) { if (sentinel) return cnt; return -1; }
            curr ^= rd(w, pos, c); pos += c;
        } else if (flag == 3) {
            if (pos + 3 > end) { if (sentinel) return cnt; return -1; }
            lead = LD[rd(w, pos, 3)]; pos += 3;
            int c = 64 - lead;
            if (pos + c > end) { if (sentinel) return cnt; return -1; }
            curr ^= rd(w, pos, c); pos += c;
        }
        if (sentinel && curr == NANSENT) return cnt;
        out[cnt++] = curr;
    }
    return cnt;
}

long chimpn_dec(const uint8_t* w, long nbytes, uint64_t* out, long max_out, int sentinel) {
    long end = (nbytes >> 3) << 6;
    if (end < 64 || max_out < 1) return -1;
    uint64_t ring[128];
    for (int i = 0; i < 128; i++) ring[i] = (uint64_t)i;
    uint64_t curr = rd(w, 0, 64);
    ring[0] = curr;
    int ci = 0, lead = 0;
    long pos = 64, cnt = 0;
    if (sentinel && curr == NANSENT) return 0; /* empty stream */
    out[cnt++] = curr;
    while (cnt < max_out) {
        if (pos + 2 > end) { if (sentinel) return cnt; return -1; }
        int flag = (int)rd(w, pos, 2); pos += 2;
        if (flag == 1) {
            if (pos + 16 > end) { if (sentinel) return cnt; return -1; }
            int tmp = (int)rd(w, pos, 16); pos += 16;
            int center = tmp & 63;
            lead = LD[(tmp >> 6) & 7];
            curr = ring[(tmp >> 9) & 127];
            if (!center) center = 64;
            if (64 - center - lead < 0) return -1; /* corrupt header */
            if (pos + center > end) { if (sentinel) return cnt; return -1; }
            curr ^= rd(w, pos, center) << (64 - center - lead); pos += center;
        } else if (flag == 2) {
            int c = 64 - lead;
            if (pos + c > end) { if (sentinel) return cnt; return -1; }
            curr ^= rd(w, pos, c); pos += c;
        } else if (flag == 3) {
            if (pos + 3 > end) { if (sentinel) return cnt; return -1; }
            lead = LD[rd(w, pos, 3)]; pos += 3;
            int c = 64 - lead;
            if (pos + c > end) { if (sentinel) return cnt; return -1; }
            curr ^= rd(w, pos, c); pos += c;
        } else {
            if (pos + 7 > end) { if (sentinel) return cnt; return -1; }
            curr = ring[rd(w, pos, 7)]; pos += 7;
        }
        ci = (ci + 1) & 127;
        ring[ci] = curr;
        if (sentinel && curr == NANSENT) return cnt;
        out[cnt++] = curr;
    }
    return cnt;
}

long patas_dec(const uint8_t* buf, long nbytes, uint64_t* out, long max_out, int sentinel) {
    if (nbytes < 8 || max_out < 1) return -1;
    /* empty stream: the terminator alone, with no room for a first
       value and a terminator after it */
    if (sentinel && nbytes < 10 && buf[0] == 0xff && buf[1] == 0xff) return 0;
    uint64_t ring[128];
    for (int i = 0; i < 128; i++) ring[i] = (uint64_t)i;
    uint64_t curr = 0;
    for (int i = 0; i < 8; i++) curr = (curr << 8) | buf[i];
    ring[0] = curr;
    int ci = 0;
    long p = 8, cnt = 0;
    out[cnt++] = curr;
    while (cnt < max_out) {
        if (p + 2 > nbytes) { if (sentinel) return cnt; return -1; }
        int meta = (buf[p] << 8) | buf[p+1];
        if (sentinel && meta == 0xffff) return cnt;
        p += 2;
        int trail = meta & 0x3f;
        int sig = ((meta >> 6) & 7) + 1;
        if (sig == 1 && trail == 0) {
            curr = ring[meta >> 9];
        } else {
            if (p + sig > nbytes) { if (sentinel) return cnt; return -1; }
            uint64_t pay = 0;
            for (int i = 0; i < sig; i++) pay = (pay << 8) | buf[p + i];
            p += sig;
            curr = ring[meta >> 9] ^ (pay << trail);
        }
        ci = (ci + 1) & 127;
        ring[ci] = curr;
        out[cnt++] = curr;
    }
    return cnt;
}

long gorilla_dec(const uint8_t* w, long nbytes, uint64_t* out, long max_out, int sentinel) {
    long end = (nbytes >> 3) << 6;
    if (end < 64 || max_out < 1) return -1;
    uint64_t curr = rd(w, 0, 64);
    long pos = 64, cnt = 0;
    int lead = 0, trail = 0;
    if (sentinel && curr == NANSENT) return 0; /* empty stream */
    out[cnt++] = curr;
    while (cnt < max_out) {
        if (pos + 1 > end) { if (sentinel) return cnt; return -1; }
        int b = (int)rd(w, pos, 1); pos += 1;
        if (b) {
            if (pos + 1 > end) { if (sentinel) return cnt; return -1; }
            int b2 = (int)rd(w, pos, 1); pos += 1;
            if (b2) {
                if (pos + 11 > end) { if (sentinel) return cnt; return -1; }
                int hdr = (int)rd(w, pos, 11); pos += 11;
                lead = hdr >> 6;
                int center = (hdr & 63) + 1;
                trail = 64 - lead - center;
            }
            int center = 64 - lead - trail;
            if (center < 0 || trail < 0) return -1; /* corrupt header */
            if (pos + center > end) { if (sentinel) return cnt; return -1; }
            curr ^= rd(w, pos, center) << trail; pos += center;
        }
        if (sentinel && curr == NANSENT) return cnt;
        out[cnt++] = curr;
    }
    return cnt;
}

/* ---- XOR-family encoders: one sequential plan-and-pack pass each ----
   Each writes the same words as the numpy plan-then-pack encoder in
   codecs/xor_ref.py (the fallback and test oracle) and returns the
   exact stream length in bits. `close` appends the reference's close()
   (chimp/chimpn/gorilla: a NaN sentinel value, chimp/chimpn also one 0
   bit; patas: the 0xffff terminator and one 0 bit). With `size_only`
   nothing is written and `out` is never touched: the selector's trials
   need only the length. Otherwise `out` must hold the format's
   worst-case record width times the record count (the caller sizes
   it); it needs no zeroing, because words are stored whole. */

typedef struct { uint64_t* out; long nw; uint64_t acc; int fill; long bits; } BW;

/* MSB-first append of v's low nb bits (v < 2^nb, 0 <= nb <= 64): `acc`
   holds the current word's `fill` pending bits in its low end; bits
   above them are stale and shift out before the word is stored. */
static inline __attribute__((always_inline))
void bw_put(BW* b, uint64_t v, int nb, const int size_only) {
    b->bits += nb;
    if (size_only) return;
    int room = 64 - b->fill;
    if (nb < room) { b->acc = (b->acc << nb) | v; b->fill += nb; return; }
    int rest = nb - room;
    b->out[b->nw++] = (b->fill ? b->acc << room : 0) | (v >> rest);
    b->acc = v;
    b->fill = rest;
}

static inline __attribute__((always_inline))
long bw_close(BW* b, const int size_only) {
    if (!size_only && b->fill) b->out[b->nw++] = b->acc << (64 - b->fill);
    return b->bits;
}

/* rounded leading zeros and their 3-bit code, indexed by clz (lib.rs:14-26) */
static const int ROUND[65] = {
    0,0,0,0,0,0,0,0, 8,8,8,8, 12,12,12,12, 16,16,18,18,20,20,22,22,
    24,24,24,24,24,24,24,24,24,24,24,24,24,24,24,24,
    24,24,24,24,24,24,24,24,24,24,24,24,24,24,24,24,
    24,24,24,24,24,24,24,24, 24};
static const uint64_t LENC[65] = {
    0,0,0,0,0,0,0,0, 1,1,1,1, 2,2,2,2, 3,3,4,4,5,5,6,6,
    7,7,7,7,7,7,7,7,7,7,7,7,7,7,7,7,
    7,7,7,7,7,7,7,7,7,7,7,7,7,7,7,7,
    7,7,7,7,7,7,7,7, 7};

/* value i of the stream: the input, then close()'s NaN sentinel */
#define VAL(i) ((i) < n ? bits[i] : NANSENT)
#define PUT(v, nb) bw_put(&bw, (v), (nb), size_only)

/* Chimp (chimp.rs:38-85): XOR against the previous value. */
static inline __attribute__((always_inline))
long chimp_core(const uint64_t* bits, long n, int close, uint64_t* out, const int size_only) {
    long len = n + (close != 0);
    if (len == 0) return 0;
    BW bw = {out, 0, 0, 0, 0};
    uint64_t prev = VAL(0);
    PUT(prev, 64);
    int state = -1;  /* u32::MAX, chimp.rs:24 */
    for (long i = 1; i < len; i++) {
        uint64_t v = VAL(i), x = v ^ prev;
        prev = v;
        if (!x) { PUT(0, 2); continue; }
        int c = __builtin_clzll(x), lead = ROUND[c];
        if ((x & 0xFF) == 0) {
            int tz = __builtin_ctzll(x), center = 64 - lead - tz;
            PUT((1ULL << 9) | (LENC[c] << 6) | (uint64_t)center, 11);
            PUT(x >> tz, center);
        } else {
            if (lead == state) PUT(2, 2);
            else PUT((3ULL << 3) | LENC[c], 5);
            PUT(x, 64 - lead);
        }
        state = lead;
    }
    if (close) PUT(0, 1);
    return bw_close(&bw, size_only);
}

/* Chimp128 (chimpn.rs:43-120): a 128-value ring reached through a
   2^14-entry index of the last position holding each 14-bit LSB
   pattern, zero-initialized (chimpn.rs:23). */
static inline __attribute__((always_inline))
long chimpn_core(const uint64_t* bits, long n, int close, uint64_t* out, const int size_only) {
    static _Thread_local long idx[16384];
    long len = n + (close != 0);
    if (len == 0) return 0;
    memset(idx, 0, sizeof(idx));
    BW bw = {out, 0, 0, 0, 0};
    uint64_t prev = VAL(0);
    PUT(prev, 64);
    int state = 0;  /* chimpn.rs:24 */
    for (long i = 1; i < len; i++) {
        uint64_t v = VAL(i), x = 0;
        int l = (int)(v & 0x3fff);
        long p = idx[l];
        idx[l] = i;
        int tz = 0, use = 0;
        uint64_t ring;
        if (i - 1 - p < 128) {
            x = v ^ bits[p];
            tz = x ? __builtin_ctzll(x) : 64;
            use = tz > 13;  /* THRESHOLD, chimpn.rs:4,64 */
        }
        if (use) ring = (uint64_t)(p & 127);
        else { x = v ^ prev; ring = (uint64_t)((i - 1) & 127); }
        prev = v;
        if (!x) { PUT(ring, 9); continue; }
        int c = __builtin_clzll(x), lead = ROUND[c];
        if (use) {
            int center = 64 - lead - tz;
            PUT(((128 | ring) << 9) | (LENC[c] << 6) | (uint64_t)center, 18);
            PUT(x >> tz, center);
        } else {
            if (lead == state) PUT(2, 2);
            else PUT((3ULL << 3) | LENC[c], 5);
            PUT(x, 64 - lead);
        }
        state = lead;
    }
    if (close) PUT(0, 1);
    return bw_close(&bw, size_only);
}

/* Gorilla (gorilla.rs:25-62): reuse the last (lead, trail) window when
   the new XOR fits inside it; close() adds no trailing bit. */
static inline __attribute__((always_inline))
long gorilla_core(const uint64_t* bits, long n, int close, uint64_t* out, const int size_only) {
    long len = n + (close != 0);
    if (len == 0) return 0;
    BW bw = {out, 0, 0, 0, 0};
    uint64_t prev = VAL(0);
    PUT(prev, 64);
    int st_lead = 64, st_trail = 0;  /* u32::MAX: never <= a capped lead */
    for (long i = 1; i < len; i++) {
        uint64_t v = VAL(i), x = v ^ prev;
        prev = v;
        if (!x) { PUT(0, 1); continue; }
        int lead = __builtin_clzll(x), trail = __builtin_ctzll(x);
        if (lead > 31) lead = 31;  /* gorilla.rs:39-41 */
        if (st_lead <= lead && st_trail <= trail) {
            PUT(2, 2);
            PUT(x >> st_trail, 64 - st_lead - st_trail);
        } else {
            int center = 64 - lead - trail;
            PUT((3ULL << 11) | ((uint64_t)lead << 6) | (uint64_t)(center - 1), 13);
            PUT(x >> trail, center);
            st_lead = lead;
            st_trail = trail;
        }
    }
    return bw_close(&bw, size_only);
}

/* Patas (aligned.rs:42-83): byte-aligned records against a ring value
   found through a 2^14-entry LSB index initialized to usize::MAX
   (aligned.rs:24). `fixed` bumps the ambiguous sig_bytes == 1,
   trail == 0 record to two payload bytes (see patas_encode). */
static inline __attribute__((always_inline))
long patas_core(const uint64_t* bits, long n, int close, int fixed, uint64_t* out,
                const int size_only) {
    static _Thread_local long idx[16384];
    BW bw = {out, 0, 0, 0, 0};
    if (n) {
        memset(idx, 0xff, sizeof(idx));
        PUT(bits[0], 64);
        idx[bits[0] & 0x3fff] = 0;
    }
    for (long i = 1; i < n; i++) {
        uint64_t v = bits[i];
        int l = (int)(v & 0x3fff);
        long p = idx[l];
        idx[l] = i;
        long ref = (p >= 0 && i - 1 - p < 128) ? p : i - 1;
        uint64_t x = v ^ bits[ref];
        uint64_t hdr = (uint64_t)(ref & 127) << 9;
        if (!x) { PUT(hdr, 16); continue; }
        int trail = __builtin_ctzll(x);
        int sig = ((64 - trail - __builtin_clzll(x)) + 7) >> 3;
        if (fixed && sig == 1 && trail == 0) sig = 2;
        PUT(hdr | ((uint64_t)(sig - 1) << 6) | (uint64_t)trail, 16);
        PUT(x >> trail, sig << 3);
    }
    if (close) { PUT(0xffff, 16); PUT(0, 1); }
    return bw_close(&bw, size_only);
}

#undef PUT
#undef VAL

long chimp_enc(const uint64_t* bits, long n, int close, int size_only, uint64_t* out) {
    return size_only ? chimp_core(bits, n, close, out, 1) : chimp_core(bits, n, close, out, 0);
}

long chimpn_enc(const uint64_t* bits, long n, int close, int size_only, uint64_t* out) {
    return size_only ? chimpn_core(bits, n, close, out, 1) : chimpn_core(bits, n, close, out, 0);
}

long gorilla_enc(const uint64_t* bits, long n, int close, int size_only, uint64_t* out) {
    return size_only ? gorilla_core(bits, n, close, out, 1) : gorilla_core(bits, n, close, out, 0);
}

long patas_enc(const uint64_t* bits, long n, int close, int fixed, int size_only,
               uint64_t* out) {
    return size_only ? patas_core(bits, n, close, fixed, out, 1)
                     : patas_core(bits, n, close, fixed, out, 0);
}

/* dec_for verify+scale fused: out[i] = round(vals[i] * 10^k) with the
   EXACT numpy semantics (rint = round-half-to-even, |rounded| < 2^53,
   int64/10^k must reproduce the input bit pattern). One pass instead
   of numpy's five (mul, rint, abs-max, cast, div+compare). Caller
   guarantees vals are finite. Returns 1 on success, 0 if any value
   fails (matching the all-or-nothing numpy check). */
int dec_verify_scale(const double* vals, long n, int k, int64_t* out) {
    static const double P10[5] = {1.0, 10.0, 100.0, 1000.0, 10000.0};
    double mult = (k >= 0 && k <= 4) ? P10[k] : 1.0;
    if (k < 0 || k > 4) { double m = 1.0; for (int i = 0; i < k; i++) m *= 10.0; mult = m; }
    for (long i = 0; i < n; i++) {
        double r = __builtin_rint(vals[i] * mult);
        if (!(r > -9007199254740992.0 && r < 9007199254740992.0)) return 0;
        int64_t iv = (int64_t)r;
        double recon = (double)iv / mult;
        uint64_t a, b;
        memcpy(&a, &recon, 8); memcpy(&b, &vals[i], 8);
        if (a != b) return 0;
        out[i] = iv;
    }
    return 1;
}

/* First-occurrence dictionary encode over an (offsets, data) string
   block — the semantics of pyarrow's Array.dictionary_encode (codes
   assigned in order of first appearance), one open-addressed pass.
   codes[i] = dict code of string i; first_row[c] = row index of code
   c's first occurrence (the dictionary is block[first_row[0..card)]).
   Returns card, or -1 when card would exceed max_card (caller falls
   back to the library path). */
long dict_encode_block(const uint8_t* data, const int64_t* offs, long n,
                       int64_t* codes, int64_t* first_row, long max_card) {
    enum { HBITS = 17, HSIZE = 1 << 17 };  /* 2x max chunk rows */
    static _Thread_local int32_t slot[HSIZE];
    static _Thread_local uint32_t stamp[HSIZE];
    static _Thread_local uint32_t epoch = 0;
    /* short-string key cache per dict code: length + first 8 bytes —
       the common case (flags, enums, langs) compares as one u64 */
    static _Thread_local uint64_t kword[1 << 16];
    static _Thread_local int64_t klen[1 << 16];
    if (n > (HSIZE >> 1) || max_card > (1 << 16)) return -1;
    if (++epoch == 0) { memset(stamp, 0, sizeof(stamp)); epoch = 1; }
    long card = 0;
    /* all-strings-<=2-bytes fast path: (len<<16)|bytes is a perfect
       18-bit key, so codes resolve by one direct table load per row */
    long max_len = 0;
    for (long i = 0; i < n; i++) {
        long len = offs[i + 1] - offs[i];
        if (len > max_len) max_len = len;
        if (max_len > 2) break;
    }
    if (max_len <= 2) {
        enum { DSIZE = 1 << 18 };
        static _Thread_local int32_t dslot[DSIZE];
        static _Thread_local uint32_t dstamp[DSIZE];
        static _Thread_local uint32_t depoch = 0;
        if (++depoch == 0) { memset(dstamp, 0, sizeof(dstamp)); depoch = 1; }
        for (long i = 0; i < n; i++) {
            long len = offs[i + 1] - offs[i];
            uint32_t w2 = 0;
            memcpy(&w2, data + offs[i], len);
            uint32_t key = ((uint32_t)len << 16) | w2;
            if (dstamp[key] != depoch) {
                if (card >= max_card) return -1;
                dstamp[key] = depoch;
                dslot[key] = (int32_t)card;
                first_row[card] = i;
                codes[i] = card++;
            } else {
                codes[i] = dslot[key];
            }
        }
        return card;
    }
    for (long i = 0; i < n; i++) {
        const uint8_t* s = data + offs[i];
        long len = offs[i + 1] - offs[i];
        uint64_t w = 0, h;
        if (len <= 8) {
            memcpy(&w, s, len);
            h = (w ^ (uint64_t)len) * 0x9E3779B97F4A7C15ULL;
            h ^= h >> 29; h *= 0xBF58476D1CE4E5B9ULL;
        } else {
            h = 1469598103934665603ULL;          /* FNV-1a */
            for (long b = 0; b < len; b++) { h ^= s[b]; h *= 1099511628211ULL; }
        }
        uint32_t pos = (uint32_t)(h >> (64 - HBITS));
        for (;;) {
            int32_t c = (stamp[pos] == epoch) ? slot[pos] : -1;
            if (c < 0) {
                if (card >= max_card) return -1;
                slot[pos] = (int32_t)card;
                stamp[pos] = epoch;
                first_row[card] = i;
                kword[card] = w;
                klen[card] = len;
                codes[i] = card++;
                break;
            }
            if (klen[c] == len &&
                (len <= 8 ? (kword[c] == w)
                          : memcmp(data + offs[first_row[c]], s, len) == 0)) {
                codes[i] = c;
                break;
            }
            pos = (pos + 1) & (HSIZE - 1);
        }
    }
    return card;
}

/* xor_split (the engine's own split-stream float codec): control
   byte = sig_bytes(5 bits)<<3 | trail_bytes(3 bits); payload bytes
   little-endian. Same format as the numpy kernels. Returns the payload
   length; with `size_only` nothing is written (the selector's trial). */
long xs_enc(const uint64_t* bits, long n, int size_only, uint8_t* ctrl, uint8_t* payload) {
    if (n < 2) return 0;
    uint64_t prev = bits[0];
    long op = 0;
    for (long i = 1; i < n; i++) {
        uint64_t x = bits[i] ^ prev;
        prev = bits[i];
        if (!x) {  /* s=0, tz=7: canonical zero-xor control */
            if (!size_only) ctrl[i-1] = 7;
            continue;
        }
        int tz = __builtin_ctzll(x) >> 3; if (tz > 7) tz = 7;
        int lead = __builtin_clzll(x);
        int sig_bits = 64 - lead - (tz << 3);
        int s = (sig_bits + 7) >> 3;
        if (size_only) { op += s; continue; }
        ctrl[i-1] = (uint8_t)((s << 3) | tz);
        uint64_t v = x >> (tz << 3);
        for (int b = 0; b < s; b++) { payload[op++] = (uint8_t)v; v >>= 8; }
    }
    return op;
}

long xs_dec(const uint8_t* ctrl, long m, const uint8_t* payload, uint64_t first, uint64_t* out) {
    out[0] = first;
    uint64_t curr = first;
    long p = 0;
    for (long i = 0; i < m; i++) {
        int c = ctrl[i]; int s = c >> 3; int tz = c & 7;
        uint64_t v = 0;
        for (int b = s - 1; b >= 0; b--) v = (v << 8) | payload[p + b];
        p += s;
        curr ^= v << (tz << 3);
        out[i + 1] = curr;
    }
    return p;
}

/* Fixed-width bit-field pack into host-endian words (caller zeroes
   out_words and byteswaps to big-endian in one vector op). */
/* FOR/gcd pack fused: out = pack((u64)(vals[i] - lo) / g, width) in a
   single pass — replaces the numpy subtract pass, divide pass and the
   separate pack. Unsigned arithmetic: (u64)v - (u64)lo wraps exactly
   like numpy's int64 subtraction viewed as uint64. */
void bp_fixed_i64(const int64_t* vals, long n, int64_t lo, uint64_t g,
                  int width, uint64_t* out_words) {
    uint64_t mask = (width >= 64) ? ~0ULL : ((1ULL << width) - 1);
    uint64_t ulo = (uint64_t)lo;
    long pos = 0;
    for (long i = 0; i < n; i++) {
        uint64_t v = (uint64_t)vals[i] - ulo;
        if (g > 1) v /= g;
        v &= mask;
        long idx = pos >> 6; int s = 64 - (int)(pos & 63);
        if (width <= s) {
            out_words[idx] |= v << (s - width);
        } else {
            int rest = width - s;
            out_words[idx] |= v >> rest;
            out_words[idx + 1] |= v << (64 - rest);
        }
        pos += width;
    }
}

void bp_fixed(const uint64_t* vals, long n, int width, uint64_t* out_words) {
    uint64_t mask = (width >= 64) ? ~0ULL : ((1ULL << width) - 1);
    long pos = 0;
    for (long i = 0; i < n; i++) {
        uint64_t v = vals[i] & mask;
        long idx = pos >> 6; int s = 64 - (int)(pos & 63);
        if (width <= s) {
            out_words[idx] |= v << (s - width);
        } else {
            int rest = width - s;
            out_words[idx] |= v >> rest;
            out_words[idx + 1] |= v << (64 - rest);
        }
        pos += width;
    }
}

/* Fixed-width bit-field unpack from big-endian words (the hot loop of
   for_bitpack/gcd_for/delta_bp/dict-code decode): ~1-2ns/value vs
   ~26ns/value for the numpy multi-op gather. buf holds ceil(n*w/64)
   big-endian words. */
void bu_fixed(const uint8_t* buf, long n, int width, uint64_t* out) {
    uint64_t mask = (width >= 64) ? ~0ULL : ((1ULL << width) - 1);
    long pos = 0;
    for (long i = 0; i < n; i++) {
        long idx = pos >> 6; int s = 64 - (int)(pos & 63);
        uint64_t w0 = ld_be(buf + idx * 8);
        uint64_t v;
        if (width <= s) {
            v = (w0 >> (s - width)) & mask;
        } else {
            int rest = width - s;
            v = ((w0 << rest) | (ld_be(buf + idx * 8 + 8) >> (64 - rest))) & mask;
        }
        out[i] = v;
        pos += width;
    }
}

/* FSST greedy longest-match compressor, hash-indexed (the fast path).
   Long symbols (len>=3) chain in a 4096-bucket hash on their first 3
   bytes, descending length; len-2 and len-1 symbols resolve via direct
   lookup tables. Longest-match semantics identical to the chain
   matcher below (first full memcmp hit in a desc-length bucket IS the
   longest same-prefix symbol; a len>=3 hit always beats short tables). */
long fsst_compress_block2(
    const uint8_t* data, const int64_t* str_offs, long n_strings,
    const uint8_t* syms, const int32_t* lens, int n_syms,
    uint8_t* out, int64_t* out_lens)
{
    int16_t hhead[4096]; int16_t hnxt[256];
    int16_t s2[65536]; int16_t s1[256];
    for (int i = 0; i < 4096; i++) hhead[i] = -1;
    memset(s2, -1, sizeof(s2));
    memset(s1, -1, sizeof(s1));
    for (int pass_len = 3; pass_len <= 8; pass_len++) {
        for (int s = n_syms - 1; s >= 0; s--) {
            if (lens[s] != pass_len) continue;
            uint32_t x = ((uint32_t)syms[s*8] << 16) | ((uint32_t)syms[s*8+1] << 8) | syms[s*8+2];
            uint32_t h = (x * 2654435761u) >> 20;
            hnxt[s] = hhead[h];
            hhead[h] = (int16_t)s;
        }
    }
    for (int s = 0; s < n_syms; s++) {
        if (lens[s] == 2) s2[((int)syms[s*8] << 8) | syms[s*8+1]] = (int16_t)s;
        else if (lens[s] == 1) s1[syms[s*8]] = (int16_t)s;
    }
    long op = 0;
    for (long si = 0; si < n_strings; si++) {
        long p = str_offs[si], e = str_offs[si + 1];
        long start = op;
        while (p < e) {
            long rem = e - p;
            int best = -1;
            if (rem >= 3) {
                uint32_t x = ((uint32_t)data[p] << 16) | ((uint32_t)data[p+1] << 8) | data[p+2];
                uint32_t h = (x * 2654435761u) >> 20;
                for (int16_t s = hhead[h]; s >= 0; s = hnxt[s]) {
                    int L = lens[s];
                    if (L <= rem && memcmp(data + p, syms + s * 8, L) == 0) {
                        best = s; break;
                    }
                }
            }
            if (best < 0 && rem >= 2) best = s2[((int)data[p] << 8) | data[p+1]];
            if (best < 0) best = s1[data[p]];
            if (best >= 0) {
                out[op++] = (uint8_t)best;
                p += lens[best];
            } else {
                out[op++] = 255;
                out[op++] = data[p++];
            }
        }
        out_lens[si] = op - start;
    }
    return op;
}

/* FSST greedy longest-match compressor over a block of strings.
   syms: n_syms * 8 bytes (padded); lens: per-symbol length 1..8.
   str_offs: n_strings+1 offsets into data. out must hold 2*data_len.
   out_lens: per-string compressed lengths. returns total out bytes. */
long fsst_compress_block(
    const uint8_t* data, const int64_t* str_offs, long n_strings,
    const uint8_t* syms, const int32_t* lens, int n_syms,
    uint8_t* out, int64_t* out_lens)
{
    /* index symbols by first byte, longest first (stable) */
    int16_t head[256]; int16_t nxt[256];
    for (int i = 0; i < 256; i++) head[i] = -1;
    /* build chains: iterate symbols in ascending length so that the
       final chain order is descending length */
    for (int pass_len = 1; pass_len <= 8; pass_len++) {
        for (int s = n_syms - 1; s >= 0; s--) {
            if (lens[s] != pass_len) continue;
            int fb = syms[s * 8];
            nxt[s] = head[fb];
            head[fb] = (int16_t)s;
        }
    }
    long op = 0;
    for (long si = 0; si < n_strings; si++) {
        long p = str_offs[si], e = str_offs[si + 1];
        long start = op;
        while (p < e) {
            int fb = data[p];
            long rem = e - p;
            int matched = -1;
            for (int16_t s = head[fb]; s >= 0; s = nxt[s]) {
                int L = lens[s];
                if (L <= rem && memcmp(data + p, syms + s * 8, L) == 0) {
                    matched = s; break;
                }
            }
            if (matched >= 0) {
                out[op++] = (uint8_t)matched;
                p += lens[matched];
            } else {
                out[op++] = 255;
                out[op++] = data[p++];
            }
        }
        out_lens[si] = op - start;
    }
    return op;
}

/* FSST decode, pass 1: exact decoded byte count. Escapes (0xFF) never
   straddle string boundaries (the compressor emits them whole), so a
   single global walk is safe. */
long fsst_decoded_size(const uint8_t* codes, long m, const int32_t* sym_len) {
    long op = 0;
    for (long p = 0; p < m; ) {
        uint8_t c = codes[p];
        if (c == 255) {
            /* corrupt payload: a trailing escape with no literal byte
               would read codes[m] out of bounds */
            if (p + 1 >= m) return -1;
            op += 1; p += 2;
        }
        else { op += sym_len[c]; p += 1; }
    }
    return op;
}

/* FSST decode, pass 2: table-row copies. Each symbol row is 8 padded
   bytes, so the copy is a fixed-size 8-byte store (compiles to one
   unaligned mov) advanced by the true symbol length; out needs >= 8
   bytes of slack past the final byte (caller allocates size+8).
   byte_ends[si] = decoded end offset of string si. Returns total
   decoded bytes, or -1 if out_cap would be overrun (corrupt input). */
long fsst_decode_block(
    const uint8_t* codes, const int64_t* code_offs, long n_strings,
    const uint8_t* table, const int32_t* sym_len,
    uint8_t* out, long out_cap, int64_t* byte_ends)
{
    long op = 0;
    for (long si = 0; si < n_strings; si++) {
        long p = code_offs[si], e = code_offs[si + 1];
        while (p < e) {
            uint8_t c = codes[p];
            if (op + 8 > out_cap) return -1;
            if (c == 255) {
                if (p + 1 >= e) return -1;  /* truncated escape */
                out[op++] = codes[p + 1]; p += 2;
            }
            else {
                memcpy(out + op, table + ((long)c << 3), 8);
                op += sym_len[c];
                p += 1;
            }
        }
        byte_ends[si] = op;
    }
    return op;
}
"""

_FUNCS: dict | None = None


def _build() -> dict | None:
    if os.environ.get("CHIMP_SPARK_NO_NATIVE"):
        return None
    tag = hashlib.sha256(_SRC.encode()).hexdigest()[:16]
    so_path = os.path.join(tempfile.gettempdir(), f"chimp_spark_kernels_{tag}.so")
    if not os.path.exists(so_path):
        cdir = tempfile.mkdtemp(prefix="chimp_spark_build_")
        cfile = os.path.join(cdir, "kernels.c")
        with open(cfile, "w") as f:
            f.write(_SRC)
        tmp_so = os.path.join(cdir, "kernels.so")
        try:
            subprocess.run(
                ["cc", "-O3", "-shared", "-fPIC", "-o", tmp_so, cfile],
                check=True, capture_output=True, timeout=60,
            )
            os.replace(tmp_so, so_path)  # atomic: concurrent workers race safely
        except Exception:
            return None
    try:
        lib = ctypes.CDLL(so_path)
    except OSError:
        return None

    import numpy as np

    u64p = np.ctypeslib.ndpointer(dtype=np.uint64, flags="C_CONTIGUOUS")
    u8p = np.ctypeslib.ndpointer(dtype=np.uint8, flags="C_CONTIGUOUS")
    i64p = np.ctypeslib.ndpointer(dtype=np.int64, flags="C_CONTIGUOUS")
    i32p = np.ctypeslib.ndpointer(dtype=np.int32, flags="C_CONTIGUOUS")

    for name in ("chimp_dec", "chimpn_dec", "gorilla_dec", "patas_dec"):
        fn = getattr(lib, name)
        fn.restype = ctypes.c_long
        fn.argtypes = [u8p, ctypes.c_long, u64p, ctypes.c_long, ctypes.c_int]
    for name in ("chimp_enc", "chimpn_enc", "gorilla_enc"):
        fn = getattr(lib, name)
        fn.restype = ctypes.c_long
        fn.argtypes = [u64p, ctypes.c_long, ctypes.c_int, ctypes.c_int, u64p]
    lib.patas_enc.restype = ctypes.c_long
    lib.patas_enc.argtypes = [
        u64p, ctypes.c_long, ctypes.c_int, ctypes.c_int, ctypes.c_int, u64p,
    ]
    f64p = np.ctypeslib.ndpointer(dtype=np.float64, flags="C_CONTIGUOUS")
    lib.dec_verify_scale.restype = ctypes.c_int
    lib.dec_verify_scale.argtypes = [f64p, ctypes.c_long, ctypes.c_int, i64p]
    lib.dict_encode_block.restype = ctypes.c_long
    lib.dict_encode_block.argtypes = [
        u8p, i64p, ctypes.c_long, i64p, i64p, ctypes.c_long,
    ]
    lib.bu_fixed.restype = None
    lib.bu_fixed.argtypes = [u8p, ctypes.c_long, ctypes.c_int, u64p]
    lib.bp_fixed.restype = None
    lib.bp_fixed.argtypes = [u64p, ctypes.c_long, ctypes.c_int, u64p]
    lib.bp_fixed_i64.restype = None
    lib.bp_fixed_i64.argtypes = [
        i64p, ctypes.c_long, ctypes.c_int64, ctypes.c_uint64, ctypes.c_int, u64p,
    ]
    lib.xs_enc.restype = ctypes.c_long
    lib.xs_enc.argtypes = [u64p, ctypes.c_long, ctypes.c_int, u8p, u8p]
    lib.xs_dec.restype = ctypes.c_long
    lib.xs_dec.argtypes = [u8p, ctypes.c_long, u8p, ctypes.c_uint64, u64p]
    for fname in ("fsst_compress_block", "fsst_compress_block2"):
        fn = getattr(lib, fname)
        fn.restype = ctypes.c_long
        fn.argtypes = [
            u8p, i64p, ctypes.c_long, u8p, i32p, ctypes.c_int, u8p, i64p,
        ]
    lib.fsst_decoded_size.restype = ctypes.c_long
    lib.fsst_decoded_size.argtypes = [u8p, ctypes.c_long, i32p]
    lib.fsst_decode_block.restype = ctypes.c_long
    lib.fsst_decode_block.argtypes = [
        u8p, i64p, ctypes.c_long, u8p, i32p, u8p, ctypes.c_long, i64p,
    ]
    return {
        "dec_verify_scale": lib.dec_verify_scale,
        "dict_encode_block": lib.dict_encode_block,
        "bu_fixed": lib.bu_fixed,
        "bp_fixed": lib.bp_fixed,
        "bp_fixed_i64": lib.bp_fixed_i64,
        "xs_enc": lib.xs_enc,
        "xs_dec": lib.xs_dec,
        "chimp_enc": lib.chimp_enc,
        "chimpn_enc": lib.chimpn_enc,
        "gorilla_enc": lib.gorilla_enc,
        "patas_enc": lib.patas_enc,
        "chimp_dec": lib.chimp_dec,
        "chimpn_dec": lib.chimpn_dec,
        "gorilla_dec": lib.gorilla_dec,
        "patas_dec": lib.patas_dec,
        "fsst_compress_block": lib.fsst_compress_block,
        "fsst_compress_block2": lib.fsst_compress_block2,
        "fsst_decoded_size": lib.fsst_decoded_size,
        "fsst_decode_block": lib.fsst_decode_block,
    }


def get() -> dict | None:
    global _FUNCS
    if _FUNCS is None:
        _FUNCS = _build() or {}
    return _FUNCS or None
