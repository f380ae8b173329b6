"""spark-submit entry: end-to-end resumable extraction DAG.

Usage:
    spark-submit --py-files sparkocr.zip sparkocr/jobs/extract_job.py \
        --input /path/transcripts.parquet --out /path/out \
        [--buckets 32] [--docs] [--force] [--master local[32]]

Stage 1: resumable per-bucket extraction (sparkocr.checkpoint) — scan →
MapInPandas extractor → exchange on bucket → bucket-partitioned parquet,
one file per bucket, + ``out/_manifest.json`` (one lineage entry per
bucket).
Stage 2 (--docs): per-conversation assembly (pure JVM) → docs parquet.
Prints a one-line JSON metrics summary.
"""

from __future__ import annotations

import argparse
import json
import os
import time


def main(argv=None) -> dict:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--buckets", type=int, default=32)
    ap.add_argument("--docs", action="store_true")
    ap.add_argument("--force", action="store_true")
    ap.add_argument("--master", default=None)
    args = ap.parse_args(argv)

    from sparkocr.assemble import assemble_docs_cli
    from sparkocr.checkpoint import run_extract_job
    from sparkocr.session import build_session

    spark = build_session("sparkocr-extract", master=args.master)
    t0 = time.monotonic()
    result = run_extract_job(
        spark, args.input, args.out, n_buckets=args.buckets, force=args.force
    )
    if args.docs:
        docs_path = os.path.join(args.out, "docs")
        if result["processed"] or result["skipped"]:
            turns = spark.read.parquet(os.path.join(args.out, "data"))
            assemble_docs_cli(turns).write.mode("overwrite").parquet(docs_path)
        else:
            # zero buckets (empty input table): stage 1 never created
            # out/data, so reading it would raise PATH_NOT_FOUND — and a
            # docs/ dir left over from a previous run would keep serving
            # documents of a corpus that no longer exists (stage 1 with
            # force=True just emptied data/); delete it so data/ and
            # docs/ can never disagree
            from sparkocr.checkpoint import _fs

            _, fs, jpath = _fs(spark, docs_path)
            fs.delete(jpath, True)  # False (absent) is fine
    elapsed = time.monotonic() - t0
    summary = {
        "elapsed_sec": round(elapsed, 3),
        "buckets_processed": len(result["processed"]),
        "buckets_skipped": len(result["skipped"]),
        "rows_out": result["rows_out"],
        "turns_per_sec": round(result["rows_out"] / elapsed, 1) if elapsed else None,
    }
    print(json.dumps(summary))
    spark.stop()
    return summary


if __name__ == "__main__":
    main()
