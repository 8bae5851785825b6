"""The reference retrieval configuration (docs ∪ chunks + parent
keep-first dedup, /root/reference/src/utils.py:263,169-183) served from
the packed index: WAND output must equal the relational
bm25_chunked_topk exactly, and serving mode must match both."""

from __future__ import annotations

import pytest

from legal_text_retrieval_spark.config import BM25Params
from legal_text_retrieval_spark.index import serving
from legal_text_retrieval_spark.operators.chunk import (
    CHUNK_ID_BASE,
    bm25_chunked_topk,
    bm25_chunked_topk_indexed,
    build_chunked_index,
)

PARAMS = BM25Params()
K = 10
CHUNK = dict(size=12, stride=6)


@pytest.fixture(scope="module")
def chunked_root(spark, tiny_docs, tmp_path_factory):
    return str(tmp_path_factory.mktemp("chunked_idx"))


@pytest.fixture(scope="module")
def indexed_hits(spark, tiny_docs, tiny_queries, chunked_root):
    return (
        bm25_chunked_topk_indexed(
            spark, tiny_docs, tiny_queries, PARAMS, k=K, out_dir=chunked_root, **CHUNK
        )
        .orderBy("query_id", "rank")
        .collect()
    )


def test_corpus_actually_has_chunks(spark, tiny_docs):
    from legal_text_retrieval_spark.operators.chunk import chunked_corpus

    corpus = chunked_corpus(tiny_docs, **CHUNK)
    n_chunks = corpus.filter(f"doc_id >= {CHUNK_ID_BASE}").count()
    assert n_chunks > 0  # otherwise the parity tests prove nothing


def test_indexed_matches_relational(spark, tiny_docs, tiny_queries, indexed_hits):
    want = (
        bm25_chunked_topk(tiny_docs, tiny_queries, PARAMS, k=K, **CHUNK)
        .orderBy("query_id", "rank")
        .collect()
    )
    assert [tuple(r) for r in indexed_hits] == [tuple(r) for r in want]


def test_chunks_place_in_topk(indexed_hits, spark, tiny_docs, tiny_queries):
    """At least one query's top-k must have been reordered/deduped by a
    chunk hit — i.e. the union corpus changes retrieval vs plain docs —
    otherwise the configuration under test degenerates."""
    from legal_text_retrieval_spark.operators.bm25 import bm25_topk

    plain = (
        bm25_topk(tiny_docs, tiny_queries, PARAMS, k=K)
        .select("query_id", "doc_id", "rank")
        .orderBy("query_id", "rank")
        .collect()
    )
    assert [tuple(r) for r in indexed_hits] != [tuple(r) for r in plain]


def test_serving_parents_match_distributed(
    spark, tiny_docs, tiny_queries, tiny_queries_pdf, chunked_root, indexed_hits
):
    # the index was built by the indexed_hits fixture (resume hit here)
    build_chunked_index(spark, tiny_docs, chunked_root, PARAMS, **CHUNK)
    srv = serving.LocalIndexServer.load(spark, chunked_root)
    by_q: dict = {}
    for r in indexed_hits:
        by_q.setdefault(r.query_id, []).append(r.doc_id)
    for _, row in tiny_queries_pdf.iterrows():
        got = srv.query_parents(row.query_text, k=K)
        assert got == by_q.get(row.query_id, []), row.query_id


def test_chunked_index_merge_delete_parity(
    spark, tiny_docs, tiny_queries, tmp_path_factory
):
    """VERDICT r4 next #8: the merge/delete bit-parity invariants hold
    in the chunked CHUNK_ID_BASE id space — merging two parent-split
    chunked half-indexes equals a fresh chunked build; deleting a
    parent AND its chunks (the takedown shape, via the DataFrame bulk
    path over a sparse 1e9+ id space) equals a rebuild over the
    survivors; and parent_dedup works on the merged index's hits."""
    import json
    from pathlib import Path

    from pyspark.sql import functions as F

    from legal_text_retrieval_spark.config import IndexParams
    from legal_text_retrieval_spark.index import builder, wand
    from legal_text_retrieval_spark.index.delete import delete_docs
    from legal_text_retrieval_spark.index.merge import merge_indexes
    from legal_text_retrieval_spark.operators.chunk import chunked_corpus, parent_dedup
    from test_index_merge import _dict_pdf, _postings_pdf

    import pandas as pd

    tmp = tmp_path_factory.mktemp("chunked_lifecycle")
    iparams = IndexParams(segment_doc_window=64, bm25=PARAMS)
    corpus = chunked_corpus(tiny_docs, **CHUNK).cache()
    parent = F.expr(
        f"CASE WHEN doc_id >= {CHUNK_ID_BASE} "
        f"THEN CAST(floor((doc_id - {CHUNK_ID_BASE}) / 16) AS BIGINT) ELSE doc_id END"
    )

    # -- merge: split by PARENT parity so each half keeps its chunks
    pa = builder.build_index(
        spark, corpus.filter(parent % 2 == 0), str(tmp / "even"), iparams
    )
    pb = builder.build_index(
        spark, corpus.filter(parent % 2 == 1), str(tmp / "odd"), iparams
    )
    merged = merge_indexes(spark, pa.root, pb.root, str(tmp / "merged"))
    direct = builder.build_index(spark, corpus, str(tmp / "direct"), iparams)
    pd.testing.assert_frame_equal(
        _postings_pdf(spark, merged), _postings_pdf(spark, direct)
    )
    dm, dd = _dict_pdf(spark, merged), _dict_pdf(spark, direct)
    pd.testing.assert_frame_equal(dm[sorted(dm.columns)], dd[sorted(dd.columns)])
    mm = json.loads(Path(merged.manifest).read_text())
    md = json.loads(Path(direct.manifest).read_text())
    for key in ("n_docs", "total_tokens", "avgdl", "min_idf", "vocab_size"):
        assert mm[key] == md[key], key

    # -- delete: strip parent 4 and every one of its chunks from the
    # MERGED index (DataFrame input → the seg-join bulk kernel runs on
    # sparse 1e9-space seg_ids)
    doomed = corpus.select("doc_id").filter(parent == 4)
    assert doomed.count() > 1  # parent + at least one chunk
    out = delete_docs(spark, merged.root, doomed, str(tmp / "deleted"))
    direct2 = builder.build_index(
        spark, corpus.filter(parent != 4), str(tmp / "direct2"), iparams
    )
    pd.testing.assert_frame_equal(
        _postings_pdf(spark, out), _postings_pdf(spark, direct2)
    )
    d1, d2 = _dict_pdf(spark, out), _dict_pdf(spark, direct2)
    pd.testing.assert_frame_equal(d1[sorted(d1.columns)], d2[sorted(d2.columns)])

    # -- parent dedup over the merged index's hits: no chunk-space ids
    # survive, and no parent repeats within a query
    hits = wand.query_topk(
        wand.FulltextIndex.load(spark, merged.root), tiny_queries, k=K
    ).select("query_id", "doc_id", "rank")
    deduped = parent_dedup(hits)
    assert deduped.filter(F.col("doc_id") >= CHUNK_ID_BASE).count() == 0
    dup = (
        deduped.groupBy("query_id", "doc_id").count().filter(F.col("count") > 1)
    )
    assert dup.count() == 0
    corpus.unpersist()
