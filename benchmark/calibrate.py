"""Compare the benchmark's TPC-H-style generator with a fixture directory.

    python3 benchmark/calibrate.py --fixture DIR [--seed 1]

``DIR`` holds ``lineitem`` and ``documents`` parquet files. Each fixture table and a generated table of the same row
count are cut into the scan path's chunks (CHUNK_ROWS rows) and encoded
in this process with ``framing.encode_chunk(codec="auto")``, one encode
cache per column as a Spark worker keeps it. The output is one JSON
object: per table, the codec each column chose on every chunk and the
table's compression ratio (raw bytes / frame bytes), for the fixture and
for the generator, and a summary of where the two disagree.

The benchmark itself never reads a fixture: its inputs come from the
generator alone, so a checkout needs nothing outside itself. This script
is how the generator is shown to produce the engine's real codec mix.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
from collections import Counter

import pyarrow as pa
import pyarrow.parquet as pq

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from benchmark import gen  # noqa: E402
from benchmark.workloads import CHUNK_ROWS  # noqa: E402

TABLES = ("lineitem", "documents")


def generated(table: str, seed: int, rows: int) -> pa.Table:
    if table == "documents":
        return gen.documents(seed, rows, first_id=0, split="train").drop_columns(["split"])
    return getattr(gen, table)(seed, rows)


def profile(t: pa.Table, table: str) -> dict:
    """Codec per (column, chunk) and the table's compression ratio."""
    from chimp_spark import framing

    codecs: dict[str, Counter] = {}
    raw = enc = 0
    caches: dict[str, dict] = {}
    for off in range(0, t.num_rows, CHUNK_ROWS):
        sl = t.slice(off, CHUNK_ROWS)
        for col in sl.column_names:
            _blob, meta = framing.encode_chunk(
                sl.column(col).combine_chunks(), codec="auto",
                cache=caches.setdefault(col, {}))
            codecs.setdefault(col, Counter())[meta.codec] += 1
            raw += meta.raw_bytes
            enc += meta.enc_bytes
    return {"rows": t.num_rows,
            "codecs": {c: dict(n) for c, n in codecs.items()},
            "compression_ratio": raw / enc}


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--fixture", required=True)
    ap.add_argument("--seed", type=int, default=1)
    args = ap.parse_args(argv)

    out: dict = {"seed": args.seed, "tables": {}, "disagree": []}
    total = {"fixture": Counter(), "generator": Counter()}
    for table in TABLES:
        fix = pq.read_table(os.path.join(args.fixture, f"{table}.parquet"))
        gen_t = generated(table, args.seed, fix.num_rows)
        extra = set(fix.column_names) ^ set(gen_t.column_names)
        if extra:
            out["disagree"].append(f"{table}: columns only on one side: {sorted(extra)}")
        both = {"fixture": profile(fix, table), "generator": profile(gen_t, table)}
        out["tables"][table] = both
        for side, p in both.items():
            for n in p["codecs"].values():
                total[side].update(n)
        for col, want in both["fixture"]["codecs"].items():
            got = both["generator"]["codecs"].get(col)
            if got != want:
                out["disagree"].append(f"{table}.{col}: fixture {want}, generator {got}")
        r_fix = both["fixture"]["compression_ratio"]
        r_gen = both["generator"]["compression_ratio"]
        out["tables"][table]["ratio_gap"] = r_gen / r_fix - 1
    out["codec_histogram"] = {side: dict(sorted(c.items())) for side, c in total.items()}
    print(json.dumps(out, indent=1))
    return 0


if __name__ == "__main__":
    sys.exit(main())
