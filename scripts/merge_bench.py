#!/usr/bin/env python
"""Merge-vs-rebuild and delete-vs-rebuild evidence (north_rule:
posting-list merge): build two half-corpus indexes, then time (a) a
fresh build over the union corpus vs (b) merge_indexes over the
halves vs (c) delete_docs of a 1% batch from the union index, and
verify the merged manifest matches the rebuilt one.  Prints one JSON
line.

Usage: python scripts/merge_bench.py [n_docs] [cores]
       (default 400000 docs; cores default to the CPU affinity, see get_spark)
"""

from __future__ import annotations

import json
import shutil
import sys
import tempfile
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))


def main(n_docs: int, cores: int | None) -> None:
    from pyspark.sql import functions as F

    from legal_text_retrieval_spark.config import IndexParams, NORTH_STAR_BM25
    from legal_text_retrieval_spark.fixtures import make_corpus_fast
    from legal_text_retrieval_spark.index.builder import build_index
    from legal_text_retrieval_spark.index.merge import merge_indexes
    from legal_text_retrieval_spark.session import get_spark

    corpus = f"/tmp/lts_merge_bench_{n_docs}.parquet"
    if not Path(corpus + ".ok").exists():
        pdf = make_corpus_fast(n_docs)
        shutil.rmtree(corpus, ignore_errors=True)
        Path(corpus).unlink(missing_ok=True)
        pdf.to_parquet(corpus, index=False, row_group_size=20000)
        Path(corpus + ".ok").write_text("ok")

    spark = get_spark(app_name="merge-bench", master=f"local[{cores}]" if cores else None)
    docs = spark.read.parquet(corpus)
    params = IndexParams(segment_doc_window=1 << 15, bm25=NORTH_STAR_BM25)
    root = tempfile.mkdtemp(prefix="lts_merge_bench_")

    def timed(fn):
        t0 = time.time()
        out = fn()
        return out, time.time() - t0

    # halves (parity split: every segment shared → worst-case merge)
    pa, build_a_s = timed(
        lambda: build_index(spark, docs.filter(F.col("doc_id") % 2 == 0), f"{root}/a", params, resume=False)
    )
    pb, build_b_s = timed(
        lambda: build_index(spark, docs.filter(F.col("doc_id") % 2 == 1), f"{root}/b", params, resume=False)
    )
    direct, rebuild_s = timed(
        lambda: build_index(spark, docs, f"{root}/direct", params, resume=False)
    )
    merged, merge_s = timed(
        lambda: merge_indexes(spark, pa.root, pb.root, f"{root}/merged", resume=False)
    )

    from legal_text_retrieval_spark.index.delete import delete_docs

    doomed = list(range(0, n_docs, 100))  # 1% batch, scattered
    _, delete_s = timed(
        lambda: delete_docs(spark, direct.root, doomed, f"{root}/deleted", resume=False)
    )

    # 10% bulk delete via the DataFrame (no-collect) path — the
    # dedup-sweep-feedback / license-filter shape: per-segment sorted
    # id lists merge-joined to the packed rows, ids never on the driver
    doomed_df = docs.select("doc_id").filter(F.col("doc_id") % 10 == 0)
    out_bulk, bulk_delete_s = timed(
        lambda: delete_docs(
            spark, direct.root, doomed_df, f"{root}/deleted_bulk", resume=False
        )
    )
    mb = json.loads(Path(out_bulk.manifest).read_text())

    # 10% re-ingest upsert (overlapping delta, identical content):
    # upsert = delete ∘ merge must equal the direct build, so manifest
    # parity against `direct` is the exactness check; cost should be
    # ≈ delete(overlap) + merge (VERDICT r5 next #5)
    from legal_text_retrieval_spark.index.merge import upsert_index

    delta_docs = docs.filter(F.col("doc_id") % 10 == 0)
    pdelta, build_delta_s = timed(
        lambda: build_index(spark, delta_docs, f"{root}/delta", params, resume=False)
    )
    up, upsert_s = timed(
        lambda: upsert_index(spark, direct.root, pdelta.root, f"{root}/upserted", resume=False)
    )
    mu = json.loads(Path(up.manifest).read_text())

    md = json.loads(Path(direct.manifest).read_text())
    mm = json.loads(Path(merged.manifest).read_text())
    parity = all(
        mm[k] == md[k]
        for k in ("n_docs", "total_tokens", "avgdl", "min_idf", "vocab_size",
                  "total_postings", "bytes_compressed")
    )
    print(json.dumps({
        "n_docs": n_docs,
        "cores": spark.sparkContext.defaultParallelism,
        "build_half_seconds": [round(build_a_s, 1), round(build_b_s, 1)],
        "rebuild_seconds": round(rebuild_s, 1),
        "merge_seconds": round(merge_s, 1),
        "merge_vs_rebuild": round(merge_s / rebuild_s, 3),
        "delete_1pct_seconds": round(delete_s, 1),
        "delete_vs_rebuild": round(delete_s / rebuild_s, 3),
        "delete_10pct_bulk_seconds": round(bulk_delete_s, 1),
        "delete_10pct_bulk_vs_rebuild": round(bulk_delete_s / rebuild_s, 3),
        "bulk_n_deleted": mb["n_deleted"],
        "bulk_n_docs_left": mb["n_docs"],
        "build_delta_10pct_seconds": round(build_delta_s, 1),
        "upsert_10pct_seconds": round(upsert_s, 1),
        "upsert_vs_rebuild": round(upsert_s / rebuild_s, 3),
        "upsert_manifest_parity": all(
            mu[k] == md[k]
            for k in ("n_docs", "total_tokens", "avgdl", "min_idf", "vocab_size",
                      "total_postings", "bytes_compressed")
        ),
        "manifest_parity": parity,
        "total_postings": mm["total_postings"],
    }))
    shutil.rmtree(root, ignore_errors=True)
    spark.stop()


if __name__ == "__main__":
    n = int(sys.argv[1]) if len(sys.argv) > 1 else 400_000
    c = int(sys.argv[2]) if len(sys.argv) > 2 else None
    main(n, c)
