"""``query_topk`` prepares each batch on the driver: the δ-constant, the
query terms and whether a query can pad (the largest df among its
scoring terms is below k) come from one collect.  These tests pin that
decision at its boundary, and the degenerate query texts (null, empty,
punctuation-only), against the relational ``bm25_topk`` bit for bit."""

from __future__ import annotations

import pandas as pd
import pytest

from legal_text_retrieval_spark.config import BM25Params, IndexParams
from legal_text_retrieval_spark.index import builder, wand
from legal_text_retrieval_spark.operators import bm25 as B

K = 4
N_DOCS = 10
# every doc has a unique filler term (df 1, so okapi's mean idf0 stays
# positive and no idf is negative); "aa" has df == K, "bb" df == K − 1,
# "cc" df == N_DOCS / 2 (okapi idf exactly 0), "dd" df 1
_TERMS = {"aa": range(0, 4), "bb": range(4, 7), "cc": range(0, 10, 2), "dd": [9]}
DOCS = pd.DataFrame(
    {
        "doc_id": range(N_DOCS),
        "content": [
            " ".join([f"u{d}"] + [t for t, ds in _TERMS.items() if d in ds])
            for d in range(N_DOCS)
        ],
    }
)
BOUNDARY_QUERIES = pd.DataFrame(
    {
        "query_id": ["df_eq_k", "df_below_k", "all_oov", "idf0_only", "mixed"],
        "query_text": ["aa", "bb", "zz yy", "cc", "bb dd zz"],
    }
)
DEGENERATE_QUERIES = pd.DataFrame(
    {
        "query_id": ["null", "empty", "punct", "normal"],
        "query_text": [None, "", "?!, .", "aa dd"],
    }
)


@pytest.fixture(scope="module", params=["plus", "okapi"])
def setup(request, spark, tmp_path_factory):
    docs = spark.createDataFrame(DOCS)
    params = IndexParams(segment_doc_window=4, bm25=BM25Params(variant=request.param))
    out = str(tmp_path_factory.mktemp(f"idx_{request.param}"))
    index = wand.FulltextIndex.load(spark, builder.build_index(spark, docs, out, params).root)
    idf = {r.term: r.idf for r in index.dictionary().collect()}
    # the boundary needs the deficit path, not the all-pad negative-ε one
    assert index.manifest["min_idf"] >= 0
    assert (idf["cc"] == 0.0) == (request.param == "okapi")
    return docs, index


def _sorted(df):
    return df.toPandas().sort_values(["query_id", "rank"]).reset_index(drop=True)


def _assert_bitwise(got, want):
    assert got["query_id"].tolist() == want["query_id"].tolist()
    assert got["doc_id"].tolist() == want["doc_id"].tolist()
    assert (got["score"].values.view("int64") == want["score"].values.view("int64")).all()


def _pads_planned(df) -> bool:
    # the kernel output is cached only when the pad branch is planned;
    # the query and corpus frames here are uncached local tables
    return "InMemoryRelation" in df._jdf.queryExecution().optimizedPlan().toString()


def test_pad_decision_boundary_matches_relational(spark, setup):
    docs, index = setup
    variant = index.params.variant
    queries = spark.createDataFrame(BOUNDARY_QUERIES)
    batch = _sorted(wand.query_topk(index, queries, k=K))
    want = _sorted(B.bm25_topk(docs, queries, index.params, k=K, score_round=None))
    _assert_bitwise(batch, want)
    assert len(batch) == len(BOUNDARY_QUERIES) * K
    # a pad branch is planned exactly for queries whose max df is < k
    can_pad = {"df_eq_k": False, "df_below_k": True, "all_oov": True,
               "idf0_only": variant == "okapi", "mixed": True}
    for i, qid in enumerate(BOUNDARY_QUERIES["query_id"]):
        one = spark.createDataFrame(BOUNDARY_QUERIES.iloc[[i]])
        got_df = wand.query_topk(index, one, k=K)
        assert _pads_planned(got_df) == can_pad[qid], qid
        _assert_bitwise(
            _sorted(got_df),
            _sorted(B.bm25_topk(docs, one, index.params, k=K, score_round=None)),
        )
        _assert_bitwise(_sorted(got_df), batch[batch["query_id"] == qid].reset_index(drop=True))


def test_null_empty_and_punctuation_texts_match_relational(spark, setup):
    docs, index = setup
    queries = spark.createDataFrame(DEGENERATE_QUERIES)
    got = _sorted(wand.query_topk(index, queries, k=K))
    want = _sorted(B.bm25_topk(docs, queries, index.params, k=K, score_round=None))
    _assert_bitwise(got, want)
    # a null text has no tokens: no δ-constant row under plus, so no
    # rows; okapi pads it with the K highest doc ids at score 0
    null = got[got["query_id"] == "null"]
    if index.params.variant == "plus":
        assert null.empty
    else:
        assert null["doc_id"].tolist() == list(range(N_DOCS - 1, N_DOCS - 1 - K, -1))
        assert (null["score"] == 0.0).all()
    # "" and punctuation-only texts both tokenize to [''], one OOV term
    for qid in ("empty", "punct"):
        assert len(got[got["query_id"] == qid]) == K
