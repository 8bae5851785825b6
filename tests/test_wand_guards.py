"""Scale/correctness guards on the index query path: the term_id
driver-collect size guard and the okapi negative-ε precondition."""

from __future__ import annotations

import re

import numpy as np
import pandas as pd
import pytest

from legal_text_retrieval_spark.config import BM25Params, IndexParams


def _build(spark, docs, path, variant="plus"):
    from legal_text_retrieval_spark.index import builder, wand

    params = IndexParams(
        block_size=16, segment_doc_window=64, bm25=BM25Params(variant=variant)
    )
    paths = builder.build_index(spark, docs, str(path), params)
    return wand.FulltextIndex.load(spark, paths.root)


def test_term_id_guard_semi_join_same_results(
    spark, tiny_docs, tiny_queries, tmp_path, monkeypatch
):
    """Above TERM_ID_PUSHDOWN_LIMIT the postings restriction switches
    from an IN literal list (plus a map literal of each term's buckets)
    to a broadcast join on term_id of the (term_id, bucket) placement
    table — results must be identical."""
    from legal_text_retrieval_spark.index import wand

    index = _build(spark, tiny_docs, tmp_path / "idx")
    want_df = wand.query_topk(index, tiny_queries, k=5, score_round=6)
    # the optimizer turns a long IN list into INSET
    literal_list = re.compile(r"term_id#\d+L IN(SET)? ")
    assert literal_list.search(want_df._jdf.queryExecution().executedPlan().toString())
    want = sorted(map(tuple, want_df.collect()))
    monkeypatch.setattr(wand, "TERM_ID_PUSHDOWN_LIMIT", 1)
    got_df = wand.query_topk(index, tiny_queries, k=5, score_round=6)
    plan = got_df._jdf.queryExecution().executedPlan().toString()
    assert re.search(r"BroadcastHashJoin \[term_id#\d+L\], \[term_id#\d+L\]", plan), plan
    assert re.search(r"LocalTableScan \[term_id#\d+L, bucket#\d+\]", plan), plan
    assert not literal_list.search(plan), plan
    assert sorted(map(tuple, got_df.collect())) == want


def test_wide_query_batch_over_guard(spark, tiny_docs, tmp_path):
    """A query whose term count exceeds the pushdown guard still runs
    (semi-join path) and returns a full top-k."""
    from legal_text_retrieval_spark.index import wand

    index = _build(spark, tiny_docs, tmp_path / "idx2")
    # 10k-term query text: mostly OOV terms + a few real ones
    terms = [f"zz{i}" for i in range(10_000)] + ["the", "def"]
    q = spark.createDataFrame(
        pd.DataFrame({"query_id": [0], "query_text": [" ".join(terms)]})
    )
    assert len(terms) > wand.TERM_ID_PUSHDOWN_LIMIT
    out = wand.query_topk(index, q, k=3, score_round=6).collect()
    assert len(out) == 3


def test_okapi_negative_eps_index_exact(spark, tmp_path):
    """Repetitive tiny-vocab corpus → mean idf0 < 0 → negative ε floor:
    WAND bounds are invalid and unmatched docs (score 0) can outrank
    matched ones, so the index path must switch to exhaustive decode +
    all-query pad re-rank — and still match the relational dense plan
    rank-for-rank.  Serving must agree too."""
    from legal_text_retrieval_spark.config import BM25Params
    from legal_text_retrieval_spark.index import wand
    from legal_text_retrieval_spark.index.serving import LocalIndexServer
    from legal_text_retrieval_spark.operators.bm25 import bm25_scores, topk

    docs = spark.createDataFrame(
        pd.DataFrame(
            {
                "doc_id": range(6),
                "content": ["aa bb", "aa bb", "aa bb cc", "aa cc", "bb cc", "aa bb cc"],
            }
        )
    )
    index = _build(spark, docs, tmp_path / "idx3", variant="okapi")
    assert index.manifest["min_idf"] < 0
    q = spark.createDataFrame(
        pd.DataFrame({"query_id": [0, 1], "query_text": ["aa", "zz oov"]})
    )
    okapi = BM25Params(variant="okapi")
    dense = (
        topk(bm25_scores(docs, q, okapi, score_round=6), k=4)
        .toPandas()
        .sort_values(["query_id", "rank"])
        .reset_index(drop=True)
    )
    got = (
        wand.query_topk(index, q, k=4, score_round=6)
        .toPandas()
        .sort_values(["query_id", "rank"])
        .reset_index(drop=True)
    )
    assert dense.equals(got), (dense, got)
    # negative scores really occur → pads (score 0) outrank matched
    assert (dense[dense.query_id == 0]["score"] < 0).any()
    assert dense[(dense.query_id == 0) & (dense["rank"] == 1)]["score"].iloc[0] == 0.0

    srv = LocalIndexServer.load(spark, str(tmp_path / "idx3"))
    want = dense[dense.query_id == 0][["doc_id"]].reset_index(drop=True)
    got_srv = pd.DataFrame(srv.query("aa", 4), columns=["doc_id", "score"])
    assert got_srv["doc_id"].tolist() == want["doc_id"].tolist()
    # the shard pool hands negative-idf queries to the sequential
    # (padded) path — bit for bit, including the all-OOV query
    with srv:
        srv.start_workers(2)
        for text in ("aa", "zz oov"):
            want_q = srv.query(text, 4)
            got_q = srv.query_sharded(text, 4)
            assert [d for d, _ in got_q] == [d for d, _ in want_q], text
            assert (
                np.array([s for _, s in got_q]).view("int64")
                == np.array([s for _, s in want_q]).view("int64")
            ).all(), text
