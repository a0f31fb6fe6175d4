"""spark-submit entry point: encode a parquet table into an encoded
(Iceberg-style) chimp_spark table, with resume and skew layout.

Usage (local example; on a cluster swap --master and add executors):

    python jobs/make_pyfiles.py  # builds dist/chimp_spark.zip
    spark-submit --master local[32] \\
        --py-files dist/chimp_spark.zip \\
        jobs/encode_job.py \\
        --input /root/testdata/sf0.1/lineitem.parquet \\
        --output /tmp/enc/lineitem --table lineitem \\
        --partitions 64 --codec auto [--range-key l_shipdate] \\
        [--salt-key lang --salt-buckets 8] [--no-resume]

The job is idempotent: interrupted runs resume at partition
granularity from the table's snapshot (chunk-granular lineage rows are
committed with the data).
"""

from __future__ import annotations

import argparse
import json


def main() -> None:
    p = argparse.ArgumentParser()
    p.add_argument("--input", required=True)
    p.add_argument("--output", required=True)
    p.add_argument("--table", required=True)
    p.add_argument("--columns", default=None, help="comma-separated; default all")
    p.add_argument("--codec", default="auto",
                   help="codec name, or per-column overrides as "
                        "'col=codec,col2=codec' (unlisted columns auto)")
    p.add_argument("--chunk-rows", type=int, default=65_536)
    p.add_argument("--partitions", type=int, default=None)
    p.add_argument("--range-key", default=None)
    p.add_argument("--salt-key", default=None)
    p.add_argument("--salt-buckets", type=int, default=8)
    p.add_argument("--no-resume", action="store_true")
    p.add_argument("--scan", action="store_true",
                   help="force the bulk-ingest fast path (it is already "
                        "the DEFAULT for parquet inputs without layout "
                        "flags): read parquet row groups directly via "
                        "Arrow, skipping Spark row conversion")
    p.add_argument("--no-scan", action="store_true",
                   help="force the generic DataFrame encode path")
    args = p.parse_args()
    if args.scan and (args.salt_key or args.range_key or args.partitions):
        p.error("--scan cannot honor --salt-key/--range-key/--partitions "
                "(the Arrow scan path reads row groups in place, no "
                "shuffle layout); drop --scan to use a layout")

    from pyspark.sql import SparkSession

    from chimp_spark.engine import (
        detect_hot_keys,
        encode_and_commit,
        repartition_balanced,
        repartition_by_range,
        repartition_salted,
        session_conf,
    )

    from chimp_spark.codecs.light import CODEC_IDS

    codec: str | dict = args.codec
    if "=" in args.codec:
        codec = {}
        for kv in args.codec.split(","):
            if "=" not in kv:
                p.error(f"--codec: '{kv}' is not col=codec (unlisted "
                        "columns default to auto — omit them)")
            col, name = kv.split("=", 1)
            if name != "auto" and name not in CODEC_IDS:
                p.error(f"--codec: unknown codec '{name}' for column "
                        f"'{col}' (known: auto, {', '.join(sorted(CODEC_IDS))})")
            codec[col] = name
    elif args.codec != "auto" and args.codec not in CODEC_IDS:
        p.error(f"--codec: unknown codec '{args.codec}'")

    spark = (SparkSession.builder.appName(f"chimp_spark_encode_{args.table}")
             .config(map=session_conf(args.chunk_rows)).getOrCreate())

    # the scan path (direct Arrow row-group reads, no JVM row
    # conversion — measured ~80% of DataFrame-path encode wall) is the
    # default for plain parquet ingests; layout flags imply a shuffle,
    # which only the DataFrame path expresses
    use_scan = args.scan or (
        not args.no_scan and not args.salt_key and not args.range_key
        and not args.partitions
    )
    if use_scan:
        from chimp_spark.engine import (
            EncodedTable,
            encode_parquet,
            parquet_work_units,
            resolve_paths,
            units_fingerprint,
        )

        t = EncodedTable(args.output)
        # scan unit ids are positional over (sorted files, row-group
        # counts): fingerprint the input so resume refuses if the file
        # set changed since the committed entries were written (ids
        # would silently map to different row groups)
        units = parquet_work_units(resolve_paths(args.input), spark)
        fp = units_fingerprint(units)
        done = t.completed_scan_units(args.table, fp) if not args.no_resume else None
        cols = [c.strip() for c in args.columns.split(",")] if args.columns else None
        if isinstance(codec, dict):
            import pyarrow.parquet as _pq

            schema_cols = set(_pq.read_schema(units[0][1]).names) if units else set()
            unknown = set(codec) - (set(cols) if cols else schema_cols)
            if unknown:
                p.error(f"--codec: column(s) {sorted(unknown)} not in the "
                        f"input schema — the override would be silently "
                        f"ignored (columns encode as auto)")
        enc = encode_parquet(spark, args.input, columns=cols, codec=codec,
                             chunk_rows=args.chunk_rows, table_name=args.table,
                             skip_part_ids=done, units=units)
        stats = t.commit(spark, enc, args.table, mode="scan", fingerprint=fp)
        print(json.dumps({"job": "encode-scan", "table": args.table,
                          "resumed_units": len(done or ()), **stats}))
        spark.stop()
        return

    df = spark.read.parquet(args.input)
    parts = args.partitions or spark.sparkContext.defaultParallelism

    if args.salt_key:
        hot = detect_hot_keys(df, args.salt_key)
        df = repartition_salted(df, args.salt_key, parts, hot_keys=hot,
                                salt_buckets=args.salt_buckets)
    elif args.range_key:
        df = repartition_by_range(df, args.range_key, parts)
    else:
        df = repartition_balanced(df, parts)

    cols = [c.strip() for c in args.columns.split(",")] if args.columns else None
    if isinstance(codec, dict):
        unknown = set(codec) - set(cols or df.columns)
        if unknown:
            p.error(f"--codec: column(s) {sorted(unknown)} not in the input "
                    f"schema — the override would be silently ignored")
    stats = encode_and_commit(
        spark, df, args.output, args.table, columns=cols, codec=codec,
        chunk_rows=args.chunk_rows, resume=not args.no_resume,
    )
    print(json.dumps({"job": "encode", "table": args.table, **stats}))
    spark.stop()


if __name__ == "__main__":
    main()
