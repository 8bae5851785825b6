"""Spark job count of one warm ``query_topk`` batch on a default-layout
index.  With the default 2^20-doc segment window over a 200-doc corpus
the WAND kernel runs its span-sized accumulator path inside Spark, and
the count pins the per-batch job chain so a new eager action (or a
dropped handle cache, e.g. re-reading the postings schema every batch)
shows up as a failure instead of a slower benchmark."""

from __future__ import annotations

import pytest

from legal_text_retrieval_spark.config import IndexParams
from legal_text_retrieval_spark.index import builder, wand

# jobs of the measured warm batch below, counted twice in fresh
# sessions (local[4], 8 shuffle partitions): 20 both times (21 while
# postings() re-read the parquet schema every batch).  More than this
# means an extra action crept into the batch.
MAX_WARM_BATCH_JOBS = 20
K = 10


@pytest.fixture(scope="module")
def index(spark, tiny_docs, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("idx_default"))
    paths = builder.build_index(spark, tiny_docs, out, IndexParams())
    return wand.FulltextIndex.load(spark, paths.root)


def _sorted(pdf):
    return pdf.sort_values(["query_id", "rank"]).reset_index(drop=True)


def test_warm_batch_job_count_and_exhaustive_identity(spark, index, tiny_queries_pdf):
    sc = spark.sparkContext
    half = len(tiny_queries_pdf) // 2
    warm = spark.createDataFrame(tiny_queries_pdf.iloc[:half])
    batch = spark.createDataFrame(tiny_queries_pdf.iloc[half:])
    wand.query_topk(index, warm, k=K).collect()

    group = "test_wand_jobs.warm_batch"
    sc.setJobGroup(group, "one warm query_topk batch")
    try:
        got = _sorted(wand.query_topk(index, batch, k=K).toPandas())
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    n_jobs = len(sc.statusTracker().getJobIdsForGroup(group))
    assert 0 < n_jobs <= MAX_WARM_BATCH_JOBS, n_jobs

    want = _sorted(wand.query_topk(index, batch, k=K, mode="exhaustive").toPandas())
    assert len(got) == (len(tiny_queries_pdf) - half) * K
    assert got["doc_id"].tolist() == want["doc_id"].tolist()
    assert (got["score"].values.view("int64") == want["score"].values.view("int64")).all()
