"""spark-submit entry point: full training-corpus preparation —
exact dedup -> near-dup dedup -> quality/lang filter -> deterministic
split -> encode+commit (resumable EncodedTable snapshot).

Usage (local example; on a cluster swap --master and add executors):

    python jobs/make_pyfiles.py  # builds dist/chimp_spark.zip
    spark-submit --master local[32] \\
        --py-files dist/chimp_spark.zip \\
        jobs/prepare_corpus.py \\
        --input /root/testdata/sf0.01/documents.parquet \\
        --output /tmp/corpus/documents \\
        [--id-col doc_id] [--text-col text] \\
        [--near-dup-threshold 0.9] [--min-quality 0.3] \\
        [--langs en,de] [--split train=0.8,valid=0.1,test=0.1] \\
        [--no-resume]

Prints ONE JSON line of per-stage counts + commit stats. Rerunning the
same command resumes the encode from the table snapshot (the dedup /
filter / split stages are deterministic and cheap relative to encode).
"""

from __future__ import annotations

import argparse
import json


def main() -> None:
    p = argparse.ArgumentParser()
    p.add_argument("--input", required=True)
    p.add_argument("--output", required=True)
    p.add_argument("--table", default="documents")
    p.add_argument("--id-col", default="doc_id")
    p.add_argument("--text-col", default="text")
    p.add_argument("--near-dup-threshold", type=float, default=0.9)
    p.add_argument("--min-quality", type=float, default=0.0)
    p.add_argument("--langs", default=None, help="comma-separated lang_id predictions to keep")
    p.add_argument("--eval-input", default=None,
                   help="parquet of held-out eval docs (id + text cols); enables "
                        "n-gram decontamination against it")
    p.add_argument("--decontam-ngram", type=int, default=8)
    p.add_argument("--split", default="train=0.8,valid=0.1,test=0.1")
    p.add_argument("--chunk-rows", type=int, default=65_536)
    p.add_argument("--no-resume", action="store_true")
    p.add_argument("--no-stage-counts", action="store_true",
                   help="skip per-stage survivor counts (one less "
                        "materialization of each dedup stage)")
    args = p.parse_args()

    from pyspark.sql import SparkSession

    from chimp_spark.engine import session_conf
    from chimp_spark.ops.pipeline import prepare_corpus

    weights = {}
    for part in args.split.split(","):
        name, w = part.split("=")
        weights[name.strip()] = float(w)

    spark = (SparkSession.builder.appName("chimp_spark_prepare_corpus")
             .config(map=session_conf(args.chunk_rows)).getOrCreate())
    try:
        stats = prepare_corpus(
            spark,
            spark.read.parquet(args.input),
            args.output,
            id_col=args.id_col,
            text_col=args.text_col,
            near_dup_threshold=args.near_dup_threshold,
            min_quality=args.min_quality,
            langs=args.langs.split(",") if args.langs else None,
            eval_df=(spark.read.parquet(args.eval_input)
                     if args.eval_input else None),
            decontam_ngram=args.decontam_ngram,
            split_weights=weights,
            table_name=args.table,
            chunk_rows=args.chunk_rows,
            resume=not args.no_resume,
            stage_counts=not args.no_stage_counts,
        )
        print(json.dumps(stats))
    finally:
        spark.stop()


if __name__ == "__main__":
    main()
