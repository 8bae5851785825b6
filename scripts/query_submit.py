#!/usr/bin/env python
"""spark-submit entry point: batch top-k BM25 queries against a built
index.

  spark-submit --py-files engine.zip scripts/query_submit.py \\
      --index s3://bucket/index --queries /data/queries.parquet \\
      --output /data/run_output --k 150 [--format trec|parquet]

queries parquet: (query_id, query_text).
"""

from __future__ import annotations

import argparse

from pyspark.sql import SparkSession


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--index", required=True)
    ap.add_argument("--queries", required=True)
    ap.add_argument("--output", required=True)
    ap.add_argument("--k", type=int, default=150)
    ap.add_argument("--format", default="parquet", choices=["parquet", "trec"])
    args = ap.parse_args()

    from legal_text_retrieval_spark.index.wand import FulltextIndex, query_topk
    from legal_text_retrieval_spark.sources.sinks import write_trec_run

    spark = SparkSession.builder.appName("lts-query").getOrCreate()
    index = FulltextIndex.load(spark, args.index)
    queries = spark.read.parquet(args.queries)
    out = query_topk(index, queries, k=args.k)
    if args.format == "trec":
        write_trec_run(out, args.output)
    else:
        out.write.mode("overwrite").parquet(args.output)
    spark.stop()


if __name__ == "__main__":
    main()
