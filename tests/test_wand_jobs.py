"""Spark job count of one warm ``query_topk`` batch on a default-layout
index.  With the default 2^20-doc segment window over a 200-doc corpus
the WAND kernel runs its span-sized accumulator path inside Spark, and
the counts pin the per-batch job chain, with and without the pad
branch, so a new eager action (or a dropped handle cache, e.g.
re-reading the postings schema every batch) shows up as a failure
instead of a slower benchmark."""

from __future__ import annotations

import pytest

from legal_text_retrieval_spark.config import IndexParams
from legal_text_retrieval_spark.index import builder, wand

# jobs of one measured warm batch, each counted in fresh sessions
# (local[4], 8 shuffle partitions).  No query can pad: 4, measured
# three times (8 while the plan broadcast-joined a query-term table and
# merged per-segment top-k lists in a window; 20 while the batch was
# prepared by Spark-side collects and a pad probe).  k > n_docs, so
# every query takes the pad branch: 26, measured three times (30, 32
# before).  More than these means an extra action crept into the batch.
MAX_WARM_BATCH_JOBS = 4
MAX_WARM_PAD_BATCH_JOBS = 26
K = 10


@pytest.fixture(scope="module")
def index(spark, tiny_docs, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("idx_default"))
    paths = builder.build_index(spark, tiny_docs, out, IndexParams())
    return wand.FulltextIndex.load(spark, paths.root)


def _sorted(pdf):
    return pdf.sort_values(["query_id", "rank"]).reset_index(drop=True)


def _warm_batch_jobs(spark, index, queries_pdf, k, group):
    """Runs one warm-up batch over the first half of ``queries_pdf``,
    then the second half under job group ``group``.  Returns the second
    batch's rows, its Spark job count and the exhaustive-mode rows."""
    sc = spark.sparkContext
    half = len(queries_pdf) // 2
    warm = spark.createDataFrame(queries_pdf.iloc[:half])
    batch = spark.createDataFrame(queries_pdf.iloc[half:])
    wand.query_topk(index, warm, k=k).collect()

    sc.setJobGroup(group, "one warm query_topk batch")
    try:
        got = _sorted(wand.query_topk(index, batch, k=k).toPandas())
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    n_jobs = len(sc.statusTracker().getJobIdsForGroup(group))
    want = _sorted(wand.query_topk(index, batch, k=k, mode="exhaustive").toPandas())
    return got, n_jobs, want


def _assert_same(got, want, n_rows):
    assert len(got) == n_rows
    assert got["doc_id"].tolist() == want["doc_id"].tolist()
    assert (got["score"].values.view("int64") == want["score"].values.view("int64")).all()


def test_warm_batch_job_count_and_exhaustive_identity(spark, index, tiny_queries_pdf):
    got, n_jobs, want = _warm_batch_jobs(
        spark, index, tiny_queries_pdf, K, "test_wand_jobs.warm_batch"
    )
    assert 0 < n_jobs <= MAX_WARM_BATCH_JOBS, n_jobs
    _assert_same(got, want, (len(tiny_queries_pdf) - len(tiny_queries_pdf) // 2) * K)


def test_warm_pad_batch_job_count_and_exhaustive_identity(spark, index, tiny_queries_pdf):
    n_docs = index.manifest["n_docs"]
    got, n_jobs, want = _warm_batch_jobs(
        spark, index, tiny_queries_pdf, n_docs + 300, "test_wand_jobs.warm_pad_batch"
    )
    assert 0 < n_jobs <= MAX_WARM_PAD_BATCH_JOBS, n_jobs
    _assert_same(got, want, (len(tiny_queries_pdf) - len(tiny_queries_pdf) // 2) * n_docs)
