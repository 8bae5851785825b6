#!/usr/bin/env python
"""Streaming-compaction parity at scale (round-5 VERDICT next #8):
batch-build a base index over the first slice of an ``n_docs`` corpus,
ingest the rest through the real Structured Streaming path in
``n_batches`` micro-batches (appended posting generations + snapshot
stats), restore exactness with ``compact_merged`` (no build shuffle),
and compare the result against a ONE-SHOT batch build of the full
corpus: manifest fingerprint (n_docs/total_tokens/avgdl/min_idf/
vocab_size/total_postings/bytes_compressed — byte-level encode parity)
plus warm top-150 WAND results on 50 derived queries.

Usage: python scripts/compaction_bench.py [n_docs] [n_batches] [cores]
       (default 400000 8; cores default to the CPU affinity, see get_spark)
Prints one JSON line.
"""

from __future__ import annotations

import json
import shutil
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))


def main(n_docs: int, n_batches: int, cores: int | None) -> None:
    from pyspark.sql import functions as F

    from legal_text_retrieval_spark.config import IndexParams, NORTH_STAR_BM25
    from legal_text_retrieval_spark.fixtures import make_corpus_fast
    from legal_text_retrieval_spark.index.builder import build_index
    from legal_text_retrieval_spark.index.wand import FulltextIndex, query_topk
    from legal_text_retrieval_spark.session import get_spark
    from legal_text_retrieval_spark.sources.corpus import derived_queries
    from legal_text_retrieval_spark.streaming import incremental

    corpus = f"/tmp/lts_merge_bench_{n_docs}.parquet"  # shared with merge_bench
    if not Path(corpus + ".ok").exists():
        pdf = make_corpus_fast(n_docs)
        shutil.rmtree(corpus, ignore_errors=True)
        Path(corpus).unlink(missing_ok=True)
        pdf.to_parquet(corpus, index=False, row_group_size=20000)
        Path(corpus + ".ok").write_text("ok")

    spark = get_spark(app_name="compaction-bench", master=f"local[{cores}]" if cores else None)
    docs = spark.read.parquet(corpus)
    params = IndexParams(segment_doc_window=1 << 15, bm25=NORTH_STAR_BM25)
    root = "/tmp/lts_compaction_bench"
    shutil.rmtree(root, ignore_errors=True)
    batch_sz = n_docs // n_batches

    def timed(fn):
        t0 = time.time()
        out = fn()
        return out, time.time() - t0

    # base = first micro-batch's slice, batch-built
    _, base_s = timed(
        lambda: build_index(
            spark, docs.filter(F.col("doc_id") < batch_sz), f"{root}/idx",
            params, resume=False,
        )
    )

    # remaining slices through the real streaming path, one micro-batch
    # per availableNow trigger (file drop → foreachBatch append)
    ingest_s = 0.0
    for b in range(1, n_batches):
        lo, hi = b * batch_sz, (b + 1) * batch_sz if b < n_batches - 1 else n_docs
        watch = f"{root}/incoming/b{b}"
        docs.filter((F.col("doc_id") >= lo) & (F.col("doc_id") < hi)).select(
            "doc_id", "content"
        ).write.mode("overwrite").parquet(watch)
        t0 = time.time()
        q = incremental.start_incremental(
            spark, watch, f"{root}/idx",
            checkpoint_dir=f"{root}/ckpt/b{b}",
            schema=spark.read.parquet(watch).schema,
        )
        q.awaitTermination(1800)
        ingest_s += time.time() - t0

    _, compact_s = timed(
        lambda: incremental.compact_merged(spark, f"{root}/idx")
    )

    _, oneshot_s = timed(
        lambda: build_index(spark, docs, f"{root}/oneshot", params, resume=False)
    )

    keys = ("n_docs", "total_tokens", "avgdl", "min_idf", "vocab_size",
            "total_postings", "bytes_compressed")
    mc = json.loads(Path(f"{root}/idx/manifest.json").read_text())
    mo = json.loads(Path(f"{root}/oneshot/manifest.json").read_text())
    manifest_parity = all(mc[k] == mo[k] for k in keys)

    # query parity: warm top-150 on 50 derived queries, exact row match
    qdf = derived_queries(docs).limit(50).cache()
    qdf.count()
    ic = FulltextIndex.load(spark, f"{root}/idx")
    io_ = FulltextIndex.load(spark, f"{root}/oneshot")
    rows_c = sorted(
        map(tuple, query_topk(ic, qdf, k=150, score_round=6).collect())
    )
    rows_o = sorted(
        map(tuple, query_topk(io_, qdf, k=150, score_round=6).collect())
    )
    print(json.dumps({
        "n_docs": n_docs,
        "n_batches": n_batches,
        "cores": spark.sparkContext.defaultParallelism,
        "base_build_seconds": round(base_s, 1),
        "stream_ingest_seconds_total": round(ingest_s, 1),
        "compact_merged_seconds": round(compact_s, 1),
        "oneshot_build_seconds": round(oneshot_s, 1),
        "compact_vs_oneshot": round(compact_s / oneshot_s, 3),
        "manifest_parity": manifest_parity,
        "query_parity_150x50": rows_c == rows_o,
        "total_postings": mc["total_postings"],
    }))
    shutil.rmtree(root, ignore_errors=True)
    spark.stop()


if __name__ == "__main__":
    n = int(sys.argv[1]) if len(sys.argv) > 1 else 400_000
    b = int(sys.argv[2]) if len(sys.argv) > 2 else 8
    c = int(sys.argv[3]) if len(sys.argv) > 3 else None
    main(n, b, c)
