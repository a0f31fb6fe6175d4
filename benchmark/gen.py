"""Seeded input generators for the benchmark.

Every table is a pure function of ``(seed, scale)``: the same seed gives
byte-identical Arrow tables, so a staged input can be cached under a key
made of the two. Nothing is downloaded.

* ``lineitem`` and ``documents`` follow the repository's TPC-H-style
  sf fixtures: the same columns and types, and the same value
  distributions (ranges, cardinalities, key order, word vocabulary), so
  each column picks the codec it picks on the fixture.
  ``benchmark/calibrate.py`` checks that against a fixture directory.
* ``float_series`` is the paper's kind of data: per-sensor random walks
  read at irregular microsecond timestamps (a 2-decimal column, a
  full-precision column with sensor noise, and six motion channels of
  scaled ADC counts), plus a few NaN payloads and -0.0 values that a
  lossless float codec must keep bit-exact.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc

_DAY_US = 86_400 * 1_000_000
_EPOCH_1995_US = 788_918_400 * 1_000_000  # 1995-01-01T00:00:00Z
_WORDS = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()


def _rng(seed: int, table: str) -> np.random.Generator:
    # one independent stream per (seed, table): adding a table never
    # changes the bytes of the others
    return np.random.default_rng([seed, sum(map(ord, table)), len(table)])


def _pick(values: list[str], idx: np.ndarray) -> pa.Array:
    return pa.array(values, pa.string()).take(pa.array(idx))


def _ts_us(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype(np.int64), pa.timestamp("us"))


def _cents(r: np.random.Generator, lo: float, hi: float, rows: int) -> np.ndarray:
    return r.integers(round(lo * 100), round(hi * 100) + 1, rows) / 100.0


def lineitem(seed: int, rows: int) -> pa.Table:
    """Columns independent and uniform, keys in random order (not
    clustered by order), as in the repository's sf fixtures."""
    r = _rng(seed, "lineitem")
    return pa.table({
        "l_orderkey": pa.array(r.integers(0, max(rows // 4, 1), rows), pa.int64()),
        "l_partkey": pa.array(r.integers(0, 20_000, rows), pa.int64()),
        "l_suppkey": pa.array(r.integers(0, 1_000, rows), pa.int64()),
        "l_linenumber": pa.array(r.integers(1, 8, rows), pa.int32()),
        "l_quantity": r.integers(1, 51, rows).astype(np.float64),
        "l_extendedprice": _cents(r, 900.0, 105_000.0, rows),
        "l_discount": r.integers(0, 11, rows) / 100.0,
        "l_tax": r.integers(0, 9, rows) / 100.0,
        "l_returnflag": _pick(["R", "A", "N"], r.integers(0, 3, rows)),
        "l_linestatus": _pick(["O", "F"], r.integers(0, 2, rows)),
        "l_shipdate": _ts_us(_EPOCH_1995_US + r.integers(1, 2_500, rows) * _DAY_US),
    })


def documents(seed: int, rows: int, first_id: int, split: str) -> pa.Table:
    """Bag-of-words documents of 10-100 words; one in twenty repeats an
    earlier document with " dup" appended (the near-duplicates a dedup
    pass looks for). ``split`` stamps one split value on every row, so a
    file written from one call is split-pure (the layout that lets zone
    maps prune a split-filtered export)."""
    r = _rng(seed + first_id, "documents")
    lens = r.integers(10, 101, rows)
    picks = r.integers(0, len(_WORDS), int(lens.sum()))
    offsets = np.concatenate([[0], np.cumsum(lens)]).astype(np.int32)
    words = pa.ListArray.from_arrays(pa.array(offsets), pa.array(_WORDS).take(pa.array(picks)))
    text = pc.binary_join(words, " ")
    dup = np.flatnonzero(r.random(rows) < 0.05)
    dup = dup[dup > 0]
    if dup.size:
        idx = np.arange(rows)
        idx[dup] = (r.random(dup.size) * dup).astype(np.int64)  # an earlier row
        suffix = np.full(rows, "", object)
        suffix[dup] = " dup"
        text = pc.binary_join_element_wise(text.take(pa.array(idx)), pa.array(suffix, pa.string()),
                                           "")
    doc_id = np.arange(first_id, first_id + rows)
    lang = r.choice(5, rows, p=[0.41, 0.1475, 0.1475, 0.1475, 0.1475])
    return pa.table({
        "doc_id": pa.array(doc_id, pa.int64()),
        "text": text,
        "lang": _pick(["en", "zh", "es", "fr", "de"], lang),
        "source": _pick([f"src{i}" for i in range(20)], doc_id % 20),
        "n_chars": pa.array(pc.utf8_length(text), pa.int64()),
        "split": _pick([split], np.zeros(rows, np.int64)),
    })


def float_series(seed: int, sensors: int, readings: int) -> pa.Table:
    """``sensors`` series of ``readings`` rows each, stored sensor-major
    (the order a per-device export has).

    * ``ts``: irregular microsecond timestamps (0.2-1.8 s apart).
    * ``temp_c``: 2-decimal random walk. Every third sensor sits near 0
      and reads -0.0 (a value just below 0, rounded), which no decimal
      codec can represent.
    * ``pressure``: full-precision walk times (1 + N(0, 1e-4)) noise,
      with a few quiet NaNs carrying distinct payload bits and -0.0.
    * ``accel_*`` and ``gyro_*``: a 6-axis motion sensor's 16-bit ADC
      counts (a slow integer walk plus a few counts of noise) times the
      calibration factor (9.80665 / 16384 m/s^2 and 1 / 131 deg/s per
      count). Few decimals fit these values, and recent values repeat
      exactly: the case Chimp128 was built for.
    """
    r = _rng(seed, "float_series")
    n = sensors * readings
    sid = np.repeat(np.arange(sensors, dtype=np.int32), readings)
    start = 1_700_000_000_000_000 + r.integers(0, 3_600_000_000, sensors)
    gaps = r.integers(200_000, 1_800_000, n).reshape(sensors, readings)
    ts = (start[:, None] + np.cumsum(gaps, axis=1)).ravel()
    base = np.array([0.0, 18.0, 22.0])[np.arange(sensors) % 3]  # every third near 0
    steps = r.normal(0.0, 0.05, (sensors, readings))
    temp = np.round(base[:, None] + np.cumsum(steps, axis=1), 2)
    temp[base == 0.0, 0] = -0.0  # a reading just below 0 rounds to -0.0
    temp = temp.ravel()
    walk = 1013.25 + np.cumsum(r.normal(0.0, 0.02, (sensors, readings)), axis=1).ravel()
    pressure = walk * (1.0 + r.normal(0.0, 1e-4, n))
    bits = pressure.view(np.uint64)
    special = r.choice(n, size=max(8, n // 50_000), replace=False)
    half = special.size // 2
    # quiet NaN with a per-position payload; then -0.0
    bits[special[:half]] = np.uint64(0x7FF8_0000_0000_0000) | special[:half].astype(np.uint64)
    pressure[special[half:]] = -0.0
    motion = {}
    for name, offset, per_count in (("accel_x", 0, 9.80665 / 16_384),
                                    ("accel_y", 0, 9.80665 / 16_384),
                                    ("accel_z", 16_384, 9.80665 / 16_384),
                                    ("gyro_x", 0, 1 / 131), ("gyro_y", 0, 1 / 131),
                                    ("gyro_z", 0, 1 / 131)):
        counts = offset + np.cumsum(r.integers(-1, 2, (sensors, readings)), axis=1)
        counts += r.integers(-3, 4, (sensors, readings))
        motion[name] = counts.ravel() * per_count
    return pa.table({
        "sensor_id": pa.array(sid, pa.int32()),
        "ts": pa.array(ts.astype(np.int64), pa.timestamp("us")),
        "temp_c": temp,
        "pressure": pressure,
        **motion,
    })
