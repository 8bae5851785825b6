"""M2/M3 gate: packed-index + WAND query path must equal the relational
path bit-for-bit, the NumPy reference oracle to 1e-9, and be
checkpoint-resumable with intact integrity/lineage (SURVEY.md §5.3-5.6).
"""

from __future__ import annotations

import json
from pathlib import Path

import numpy as np
import pandas as pd
import pytest

from legal_text_retrieval_spark.config import BM25Params, IndexParams
from legal_text_retrieval_spark.index import builder, wand
from legal_text_retrieval_spark.operators import bm25 as B

# small segment window so the 200-doc fixture spans multiple segments
PARAMS = IndexParams(segment_doc_window=64, bm25=BM25Params(k1=1.2))


@pytest.fixture(scope="module")
def index_paths(spark, tiny_docs, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("idx"))
    return builder.build_index(spark, tiny_docs, out, PARAMS)


@pytest.fixture(scope="module")
def index(spark, index_paths):
    return wand.FulltextIndex.load(spark, index_paths.root)


def test_manifest_metrics(index):
    m = index.manifest
    assert m["n_docs"] == 200
    assert m["total_postings"] > 0
    assert m["bytes_per_posting"] < 6  # delta+varint beats raw 24B/posting
    # segment salting hard-bounds any shuffle group by the doc window,
    # no matter how skewed a term's df is
    assert m["max_group_postings"] <= PARAMS.segment_doc_window
    assert m["max_group_postings"] <= m["max_term_postings"]
    assert all(s["path"] for s in m["stages"].values())


def test_per_partition_lineage(spark, index_paths, index):
    lp = spark.read.parquet(index_paths.lineage_partitions).toPandas()
    assert len(lp) >= 1
    assert (lp["build_part"] >= 0).all()
    assert lp["postings"].sum() == index.manifest["total_postings"]
    assert lp["bytes"].sum() == index.manifest["bytes_compressed"]


def test_integrity_sha256(spark, index_paths, tiny_docs):
    assert builder.verify_integrity(spark, index_paths, tiny_docs) == 0


def test_integrity_detects_tamper(spark, index_paths, tiny_docs):
    from pyspark.sql import functions as F

    tampered = tiny_docs.withColumn(
        "content",
        F.when(F.col("doc_id") == 7, F.lit("tampered")).otherwise(F.col("content")),
    )
    assert builder.verify_integrity(spark, index_paths, tampered) == 1


def test_resume_is_noop(spark, index_paths, tiny_docs):
    before = json.loads(Path(index_paths.manifest).read_text())
    builder.build_index(spark, tiny_docs, index_paths.root, PARAMS, resume=True)
    after = json.loads(Path(index_paths.manifest).read_text())
    assert all(s.get("resumed") for s in after["stages"].values())
    assert after["n_docs"] == before["n_docs"]
    assert after["total_postings"] == before["total_postings"]


@pytest.mark.parametrize("k", [10, 150])
def test_wand_matches_relational_bitwise(spark, index, tiny_docs, tiny_queries, k):
    got = (
        wand.query_topk(index, tiny_queries, k=k)
        .toPandas()
        .sort_values(["query_id", "rank"])
        .reset_index(drop=True)
    )
    want = (
        B.bm25_topk(tiny_docs, tiny_queries, PARAMS.bm25, k=k, score_round=None)
        .toPandas()
        .sort_values(["query_id", "rank"])
        .reset_index(drop=True)
    )
    assert got["doc_id"].tolist() == want["doc_id"].tolist()
    assert (got["score"].values.view("int64") == want["score"].values.view("int64")).all()


def test_wand_equals_exhaustive_bitwise(spark, index, tiny_docs, tiny_queries):
    """Both ``mode`` values run the one plan, and it equals exhaustive
    relational scoring bit for bit."""
    b = (
        B.bm25_topk(tiny_docs, tiny_queries, PARAMS.bm25, k=25, score_round=None)
        .toPandas()
        .sort_values(["query_id", "rank"])
        .reset_index(drop=True)
    )
    for mode in ("wand", "exhaustive"):
        a = (
            wand.query_topk(index, tiny_queries, k=25, mode=mode)
            .toPandas()
            .sort_values(["query_id", "rank"])
            .reset_index(drop=True)
        )
        assert a["doc_id"].tolist() == b["doc_id"].tolist()
        assert (a["score"].values.view("int64") == b["score"].values.view("int64")).all()


@pytest.mark.parametrize("per_core", [0, 2])
def test_bucket_plans_match_exhaustive_and_relational(
    spark, index, tiny_docs, tiny_queries_pdf, per_core
):
    """One query over the four-segment index gets B = 1 < P buckets: its
    segments spread over the tasks and a window re-ranks the per-task
    top-k lists.  2·P queries fill every bucket (B == P): each task holds
    all segments of its queries, the kernel's ranks are final, and the
    executed plan has no Window.  Both equal the exhaustive relational
    plan bit for bit."""
    n_parts = spark.sparkContext.defaultParallelism
    assert index.manifest["n_docs"] > 3 * PARAMS.segment_doc_window
    n = max(1, per_core * n_parts)
    queries = spark.createDataFrame(tiny_queries_pdf.iloc[:n])
    got_df = wand.query_topk(index, queries, k=10)
    plan = got_df._jdf.queryExecution().executedPlan().toString()
    assert ("Window" in plan) == (n < n_parts), plan

    def _sorted(df):
        return df.toPandas().sort_values(["query_id", "rank"]).reset_index(drop=True)

    got = _sorted(got_df)
    assert len(got) == n * 10
    want = _sorted(B.bm25_topk(tiny_docs, queries, PARAMS.bm25, k=10, score_round=None))
    assert got["query_id"].tolist() == want["query_id"].tolist()
    assert got["doc_id"].tolist() == want["doc_id"].tolist()
    assert (got["score"].values.view("int64") == want["score"].values.view("int64")).all()


def test_wand_matches_numpy_oracle(spark, index, tiny_corpus_pdf, tiny_queries_pdf, tiny_queries):
    from legal_text_retrieval_spark.oracle.reference_scorer import (
        RefBM25,
        standardize_data,
        topk_desc,
        ws_split,
    )

    ref = RefBM25(
        [ws_split(standardize_data(c)) for c in tiny_corpus_pdf["content"]], PARAMS.bm25
    )
    got = wand.query_topk(index, tiny_queries, k=10).toPandas()
    by_q = {q: g.sort_values("rank") for q, g in got.groupby("query_id")}
    for i, q in enumerate(tiny_queries_pdf["query_id"]):
        scores = ref.get_scores(ws_split(standardize_data(tiny_queries_pdf["query_text"][i])))
        want_ids = topk_desc(scores, 10)
        have = by_q[q]
        np.testing.assert_allclose(
            have["score"].values, scores[have["doc_id"].values], rtol=1e-9, atol=1e-12
        )
        if have["doc_id"].tolist() != want_ids.tolist():
            assert sorted(have["doc_id"]) == sorted(want_ids)  # tie swap only
            for a, b in zip(have["doc_id"], want_ids):
                if a != b:
                    assert scores[a] == pytest.approx(scores[b], rel=1e-12)


def test_all_oov_query_pads_with_high_docids(spark, index):
    qdf = index.spark.createDataFrame(
        pd.DataFrame({"query_id": ["oov"], "query_text": ["zzz yyy xxx"]})
    )
    got = wand.query_topk(index, qdf, k=5).toPandas().sort_values("rank")
    # all scores = δ-constant = 0 (no known terms); reference argsort
    # tail → highest doc_ids first
    assert got["doc_id"].tolist() == [199, 198, 197, 196, 195]
    assert (got["score"] == 0.0).all()


@pytest.mark.parametrize("format_version", [2, 3])
def test_load_refuses_legacy_manifest(spark, index_paths, tmp_path, format_version):
    """VERDICT r3 missing #4: opening an index whose manifest lacks
    eps_fold / carries an old format_version must refuse (merge has the
    pairwise guard; load gets the absolute one), with an explicit
    allow_legacy escape hatch that warns instead.  v2 predates eps_fold;
    v3 has it and the block layout's ``block_size`` param."""
    import shutil
    import warnings

    from legal_text_retrieval_spark.index.serving import LocalIndexServer

    legacy_root = str(tmp_path / "legacy")
    shutil.copytree(index_paths.root, legacy_root)
    mp = Path(legacy_root) / "manifest.json"
    m = json.loads(mp.read_text())
    m["format_version"] = format_version
    if format_version == 2:
        m.pop("eps_fold", None)
    else:
        m["params"]["block_size"] = 128
    mp.write_text(json.dumps(m))

    with pytest.raises(ValueError, match="format_version"):
        wand.FulltextIndex.load(spark, legacy_root)
    with pytest.raises(ValueError, match="format_version"):
        LocalIndexServer.load(spark, legacy_root)
    with warnings.catch_warnings(record=True) as w:
        warnings.simplefilter("always")
        idx = wand.FulltextIndex.load(spark, legacy_root, allow_legacy=True)
        assert idx.manifest["format_version"] == format_version
        assert any("format_version" in str(x.message) for x in w)
