"""Incremental (Structured Streaming) index maintenance: appends land,
queries see new docs, compaction restores batch-exactness."""

from __future__ import annotations

import pandas as pd
import pytest

from legal_text_retrieval_spark.config import BM25Params, IndexParams
from legal_text_retrieval_spark.index import builder, wand
from legal_text_retrieval_spark.operators import bm25 as B
from legal_text_retrieval_spark.streaming import incremental

PARAMS = IndexParams(segment_doc_window=64, bm25=BM25Params(k1=1.2))


def test_stream_append_then_compact(spark, tiny_corpus_pdf, tmp_path):
    base_pdf = tiny_corpus_pdf.iloc[:150].copy()
    base_pdf.insert(0, "doc_id", range(150))
    new_pdf = tiny_corpus_pdf.iloc[150:].copy().reset_index(drop=True)
    new_pdf.insert(0, "doc_id", range(150, 150 + len(new_pdf)))

    base = spark.createDataFrame(base_pdf)
    root = str(tmp_path / "idx")
    builder.build_index(spark, base, root, PARAMS)

    # stream the remaining docs in as files
    watch = tmp_path / "incoming"
    watch.mkdir()
    spark.createDataFrame(new_pdf.iloc[:25]).select("doc_id", "content").write.mode(
        "overwrite"
    ).parquet(str(watch / "b1"))
    spark.createDataFrame(new_pdf.iloc[25:]).select("doc_id", "content").write.mode(
        "overwrite"
    ).parquet(str(watch / "b2"))

    schema = spark.read.parquet(str(watch / "b1")).schema
    for sub in ["b1", "b2"]:
        q = incremental.start_incremental(
            spark,
            str(watch / sub),
            root,
            checkpoint_dir=str(tmp_path / f"ckpt_{sub}"),
            schema=schema,
        )
        q.awaitTermination(120)

    idx = wand.FulltextIndex.load(spark, root)
    assert spark.read.parquet(idx.paths.docs).count() == 200
    assert spark.read.parquet(idx.paths.docstats).count() == 200

    # new docs are retrievable right away (snapshot stats)
    qdf = spark.createDataFrame(
        pd.DataFrame({"query_id": ["q"], "query_text": [new_pdf.iloc[0]["content"][:50]]})
    )
    got = wand.query_topk(idx, qdf, k=10).toPandas()
    assert (got["doc_id"] >= 150).any()

    # merge-based compaction (no build shuffle) must equal the
    # rebuild-based one bit-for-bit: snapshot the streamed state,
    # compact one copy each way, compare tables + manifests
    import shutil

    root2 = str(tmp_path / "idx_mergecompact")
    shutil.copytree(root, root2)

    # compaction restores exact batch semantics
    incremental.compact(spark, root)
    incremental.compact_merged(spark, root2)

    import json
    from pathlib import Path

    from test_index_merge import _dict_pdf, _postings_pdf

    pd.testing.assert_frame_equal(
        _dict_pdf(spark, builder.IndexPaths(root2)),
        _dict_pdf(spark, builder.IndexPaths(root)),
    )
    pd.testing.assert_frame_equal(
        _postings_pdf(spark, builder.IndexPaths(root2)),
        _postings_pdf(spark, builder.IndexPaths(root)),
    )
    m1 = json.loads(Path(root, "manifest.json").read_text())
    m2 = json.loads(Path(root2, "manifest.json").read_text())
    for key in ("n_docs", "total_tokens", "avgdl", "min_idf", "vocab_size",
                "total_postings", "bytes_compressed"):
        assert m1[key] == m2[key], key

    idx2 = wand.FulltextIndex.load(spark, root)
    full_pdf = pd.concat([base_pdf, new_pdf], ignore_index=True)
    full = spark.createDataFrame(full_pdf)
    want = (
        B.bm25_topk(full, qdf, PARAMS.bm25, k=10, score_round=None)
        .toPandas()
        .sort_values("rank")
    )
    got2 = wand.query_topk(idx2, qdf, k=10).toPandas().sort_values("rank")
    assert got2["doc_id"].tolist() == want["doc_id"].tolist()
    assert (
        got2["score"].values.view("int64") == want["score"].values.view("int64")
    ).all()
