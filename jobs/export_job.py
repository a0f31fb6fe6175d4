"""spark-submit entry point: export a committed chimp_spark table (or
one predicate-matching slice of it) back to decoded parquet.

The consumer-side twin of jobs/encode_job.py — the shape a training
job's "materialize split=train for the trainer" step runs in. Decoding
happens inside tasks which write parquet shards directly via pyarrow
(engine/sink.py): no co-location shuffle, no Arrow->JVM row emit, and
with --where only matching chunks' frame payloads are ever read
(zone-map pruning; the audit in the output JSON proves it).

Usage (local example; on a cluster swap --master and add executors):

    python jobs/make_pyfiles.py  # builds dist/chimp_spark.zip
    spark-submit --master local[32] \\
        --py-files dist/chimp_spark.zip \\
        jobs/export_job.py \\
        --input /tables/corpus --table documents \\
        --columns doc_id,text,split \\
        --ddl "doc_id long, text string, split string" \\
        --output /export/train \\
        --where "split==train" [--verify-checksums] [--overwrite]

--where forms: "col==value", "col<=value", "col>=value",
"col between lo hi", "col in v1,v2,...". Values are parsed as int,
then float, then kept as string; QUOTE a value ('2024' or \"007\") to
force a string against a string column — the quotes are stripped and
no numeric coercion happens. An `in` list coerces all-or-nothing
(any member staying a string keeps the whole list strings), so the
list is always one comparable type. The predicate column must be
among --columns (chunk pruning is conservative; exactness comes from
a row-level filter on the decoded values).
"""

from __future__ import annotations

import argparse
import json


def _parse_value(s: str):
    """int, then float, else string; quoted ('x' / "x") stays a string
    with the quotes stripped — the only way to say "the string 2024"
    about a string column (coercing it to int would make the Arrow
    row filter raise in every task, far from the typo)."""
    if len(s) >= 2 and s[0] == s[-1] and s[0] in "'\"":
        return s[1:-1]
    for cast in (int, float):
        try:
            return cast(s)
        except ValueError:
            continue
    return s


def _parse_list(vals: list[str]) -> list:
    """All-or-nothing coercion: a mixed list like ['en', 2] would make
    both the zone hull (min over mixed types) and the Arrow is_in
    raise inside tasks — if any member stays a string, all do."""
    parsed = [_parse_value(v) for v in vals]
    if any(isinstance(p, str) for p in parsed):
        return [p if isinstance(p, str) else v for p, v in zip(parsed, vals)]
    return parsed


def parse_where(expr: str) -> tuple:
    """'split==train' / 'price<=10' / 'id between 5 100' /
    'lang in en,de' -> the sink's (col, op, payload) predicate."""
    toks = expr.split()
    if len(toks) >= 3 and toks[1] == "between":
        if len(toks) != 4:
            raise ValueError(f"--where between needs 'col between lo hi', got {expr!r}")
        lo, hi = _parse_list([toks[2], toks[3]])
        return toks[0], "between", (lo, hi)
    if len(toks) == 3 and toks[1] == "in":
        return toks[0], "in", _parse_list(toks[2].split(","))
    for op in ("==", "<=", ">="):
        if op in expr:
            col, val = expr.split(op, 1)
            return col.strip(), op, _parse_value(val.strip())
    raise ValueError(
        f"--where: cannot parse {expr!r} (forms: col==v, col<=v, col>=v, "
        f"'col between lo hi', 'col in v1,v2')"
    )


def main() -> None:
    p = argparse.ArgumentParser()
    p.add_argument("--input", required=True, help="EncodedTable root")
    p.add_argument("--output", required=True, help="decoded parquet dir")
    p.add_argument("--table", required=True)
    p.add_argument("--columns", required=True, help="comma-separated")
    p.add_argument("--ddl", required=True,
                   help='e.g. "doc_id long, text string"')
    p.add_argument("--where", default=None,
                   help="export only matching rows (zone-map chunk "
                        "pruning + exact row filter)")
    p.add_argument("--verify-checksums", action="store_true")
    p.add_argument("--overwrite", action="store_true")
    p.add_argument("--with-row-ids", action="store_true",
                   help="keep the (part_id, row_id) alignment columns")
    args = p.parse_args()

    predicate = parse_where(args.where) if args.where else None

    from pyspark.sql import SparkSession

    from chimp_spark.engine import decode_table_to_parquet, session_conf

    spark = (SparkSession.builder.appName(f"chimp_spark_export_{args.table}")
             .config(map=session_conf()).getOrCreate())
    res = decode_table_to_parquet(
        spark, args.input, [c.strip() for c in args.columns.split(",")],
        args.ddl, args.output,
        table=args.table, verify_checksums=args.verify_checksums,
        mode="overwrite" if args.overwrite else "error",
        with_row_ids=args.with_row_ids, predicate=predicate,
    )
    print(json.dumps({"job": "export", "table": args.table,
                      "where": args.where, **res}))
    spark.stop()


if __name__ == "__main__":
    main()
