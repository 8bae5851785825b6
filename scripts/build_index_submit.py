#!/usr/bin/env python
"""spark-submit entry point: build the fulltext index on a cluster.

  spark-submit --py-files engine.zip scripts/build_index_submit.py \\
      --input /data/corpus_parquet --output s3://bucket/index \\
      [--k1 1.2] [--b 0.75] [--variant plus] [--no-resume]

Input: Iceberg-shaped parquet (repo, path, commit, lang, content) — a
dense doc_id is assigned at ingest if absent (BASELINE.json
input_hint).  Resumable: re-submitting after a failure skips completed
stages (checkpoint _SUCCESS markers).  Package for --py-files with:
  cd /root/repo && zip -r engine.zip legal_text_retrieval_spark
"""

from __future__ import annotations

import argparse
import json

from pyspark.sql import SparkSession


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", required=True)
    ap.add_argument("--output", required=True)
    ap.add_argument("--k1", type=float, default=1.2)
    ap.add_argument("--b", type=float, default=0.75)
    ap.add_argument("--delta", type=float, default=1.0)
    ap.add_argument("--variant", default="plus", choices=["plus", "okapi"])
    ap.add_argument("--segment-doc-window", type=int, default=1 << 20)
    ap.add_argument("--text-col", default="content")
    ap.add_argument("--no-resume", action="store_true")
    ap.add_argument("--verify-integrity", action="store_true")
    args = ap.parse_args()

    from legal_text_retrieval_spark.config import BM25Params, IndexParams
    from legal_text_retrieval_spark.index.builder import build_index, verify_integrity
    from legal_text_retrieval_spark.sources.corpus import load_corpus

    spark = SparkSession.builder.appName("lts-build-index").getOrCreate()
    docs = spark.read.parquet(args.input)
    if "doc_id" not in docs.columns:
        docs = load_corpus(spark, args.input)
    params = IndexParams(
        segment_doc_window=args.segment_doc_window,
        bm25=BM25Params(k1=args.k1, b=args.b, delta=args.delta, variant=args.variant),
    )
    paths = build_index(
        spark, docs, args.output, params, text_col=args.text_col, resume=not args.no_resume
    )
    if args.verify_integrity:
        bad = verify_integrity(spark, paths, docs, args.text_col)
        if bad:
            raise SystemExit(f"integrity FAIL: {bad} rows with sha256 mismatch")
    print(json.dumps({"index": paths.root, "manifest": paths.manifest}))
    spark.stop()


if __name__ == "__main__":
    main()
