"""The packed-index WAND path with the Okapi variant (no δ, ε-floored
idf, qconst=0) must match the relational Okapi scorer bitwise."""

from __future__ import annotations

import pytest

from legal_text_retrieval_spark.config import BM25Params, IndexParams
from legal_text_retrieval_spark.index import builder, wand
from legal_text_retrieval_spark.operators import bm25 as B

PARAMS = IndexParams(segment_doc_window=64, bm25=BM25Params(variant="okapi"))


def test_okapi_index_matches_relational(spark, tiny_docs, tiny_queries, tmp_path):
    paths = builder.build_index(spark, tiny_docs, str(tmp_path / "okapi_idx"), PARAMS)
    idx = wand.FulltextIndex.load(spark, paths.root)
    got = (
        wand.query_topk(idx, tiny_queries, k=10)
        .toPandas()
        .sort_values(["query_id", "rank"])
        .reset_index(drop=True)
    )
    want = (
        B.bm25_topk(tiny_docs, tiny_queries, PARAMS.bm25, k=10, score_round=None)
        .toPandas()
        .sort_values(["query_id", "rank"])
        .reset_index(drop=True)
    )
    assert got["doc_id"].tolist() == want["doc_id"].tolist()
    assert (got["score"].values.view("int64") == want["score"].values.view("int64")).all()
