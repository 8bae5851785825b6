"""Round-7 optimization parity pins.

Each r7 plan change must be invisible in results:

- ``term_frequencies_with_dl`` == ``term_frequencies`` ⋈ doc_lengths
  (the dl-carrying relation the builder/scorer now consume);
- ``document_frequencies``'s single-shuffle array_distinct plan ==
  the naive distinct-pairs count;
- the deficit-padding short-circuit (bm25.topk_padded / wand.query_topk
  return the bare ranked/matched plan when no query pads) == the full
  padded plan, exercised from BOTH sides: a batch where nobody pads and
  a batch with a guaranteed deficit query.
"""

from __future__ import annotations

import pandas as pd
import pytest
from pyspark.sql import functions as F

from legal_text_retrieval_spark.config import BM25Params
from legal_text_retrieval_spark.operators import bm25 as B
from legal_text_retrieval_spark.operators import stats


def _pdf(df, cols):
    return df.toPandas().sort_values(cols).reset_index(drop=True)


def test_term_frequencies_with_dl_parity(spark, tiny_docs):
    base = stats.term_frequencies(tiny_docs)
    dl = stats.doc_lengths(tiny_docs)
    want = _pdf(base.join(dl, "doc_id").select("doc_id", "dl", "term", "tf"),
                ["doc_id", "term"])
    got = _pdf(stats.term_frequencies_with_dl(tiny_docs).select("doc_id", "dl", "term", "tf"),
               ["doc_id", "term"])
    pd.testing.assert_frame_equal(got, want)


def test_document_frequencies_single_shuffle_parity(spark, tiny_docs):
    naive = (
        stats.term_frequencies(tiny_docs)
        .groupBy("term")
        .agg(F.count("*").alias("df"))
    )
    want = _pdf(naive, ["term"])
    got = _pdf(stats.document_frequencies(tiny_docs), ["term"])
    pd.testing.assert_frame_equal(got, want)
    # and the plan really is single-exchange (array_distinct pre-dedup)
    plan = stats.document_frequencies(tiny_docs)._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange") <= 2  # one shuffle (+ its AQE reuse line)


@pytest.mark.parametrize("k", [3, 500])
def test_topk_padded_short_circuit_parity(spark, tiny_docs, tiny_queries, k):
    """k=3: no query pads (short-circuit path).  k=500 > n_docs: every
    query pads (full padded plan).  Both must equal the dense oracle."""
    params = BM25Params(k1=1.2)
    got = _pdf(
        B.bm25_topk(tiny_docs, tiny_queries, params, k=k, score_round=None),
        ["query_id", "rank"],
    )
    dense = B.bm25_scores(tiny_docs, tiny_queries, params)
    want = _pdf(B.topk(dense, k), ["query_id", "rank"])
    assert got["doc_id"].tolist() == want["doc_id"].tolist()
    assert (
        got["score"].values.view("int64") == want["score"].values.view("int64")
    ).all()


def test_wand_short_circuit_deficit_parity(spark, tiny_docs, tiny_queries, tmp_path):
    """Index path: k small (no pads, short-circuit) and k > n_docs
    (every query pads) must both match the relational scorer bitwise."""
    from legal_text_retrieval_spark.config import IndexParams
    from legal_text_retrieval_spark.index import builder, wand

    params = IndexParams(segment_doc_window=64, bm25=BM25Params(k1=1.2))
    out = str(tmp_path / "idx")
    builder.build_index(spark, tiny_docs, out, params)
    index = wand.FulltextIndex.load(spark, out)
    for k in (5, 500):
        got = _pdf(wand.query_topk(index, tiny_queries, k=k), ["query_id", "rank"])
        want = _pdf(
            B.bm25_topk(tiny_docs, tiny_queries, params.bm25, k=k, score_round=None),
            ["query_id", "rank"],
        )
        assert got["doc_id"].tolist() == want["doc_id"].tolist(), f"k={k}"
        assert (
            got["score"].values.view("int64") == want["score"].values.view("int64")
        ).all(), f"k={k}"
