"""Degenerate inputs the driver or a user could throw at the engine:
single-doc corpus, single-token docs, empty-string docs, lang-filtered
(pushdown) builds."""

from __future__ import annotations

import tempfile

import pandas as pd
import pytest

from legal_text_retrieval_spark.config import BM25Params, IndexParams
from legal_text_retrieval_spark.index import builder, wand
from legal_text_retrieval_spark.operators import bm25 as B

PARAMS = IndexParams(block_size=4, segment_doc_window=8, bm25=BM25Params(k1=1.2))


def _check(spark, docs_pdf, query_text, k):
    docs = spark.createDataFrame(docs_pdf)
    root = tempfile.mkdtemp(prefix="edge_")
    builder.build_index(spark, docs, root, PARAMS)
    idx = wand.FulltextIndex.load(spark, root)
    q = spark.createDataFrame(pd.DataFrame({"query_id": ["q"], "query_text": [query_text]}))
    got = wand.query_topk(idx, q, k=k).toPandas().sort_values("rank")
    want = (
        B.bm25_topk(docs, q, PARAMS.bm25, k=k, score_round=None).toPandas().sort_values("rank")
    )
    assert got["doc_id"].tolist() == want["doc_id"].tolist()
    assert (got["score"].values.view("int64") == want["score"].values.view("int64")).all()
    return got


def test_single_doc_corpus(spark):
    pdf = pd.DataFrame({"doc_id": [0], "content": ["def foo return"]})
    got = _check(spark, pdf, "def", k=3)
    assert len(got) == 1  # only one doc exists — k capped by corpus


def test_empty_string_docs(spark):
    pdf = pd.DataFrame(
        {"doc_id": [0, 1, 2], "content": ["", "def foo", "  "]}
    )
    _check(spark, pdf, "def", k=3)


def test_all_docs_identical(spark):
    pdf = pd.DataFrame({"doc_id": list(range(10)), "content": ["x y z"] * 10})
    got = _check(spark, pdf, "x", k=5)
    # perfect ties → reference argsort order: highest doc_ids first
    assert got["doc_id"].tolist() == [9, 8, 7, 6, 5]


def test_lang_filtered_build_pushes_filter(spark, tiny_docs, tmp_path):
    """SURVEY §4: lang-filtered index builds ride on parquet predicate
    pushdown — the filter must reach the scan."""
    from pyspark.sql import functions as F

    from legal_text_retrieval_spark.plans.explain import formatted_plan

    p = str(tmp_path / "corpus")
    tiny_docs.write.mode("overwrite").parquet(p)
    src = spark.read.parquet(p).filter(F.col("lang") == "py")
    plan = formatted_plan(src)
    assert "PushedFilters" in plan and "lang" in plan.split("PushedFilters", 1)[1][:300]
    root = str(tmp_path / "pyidx")
    builder.build_index(spark, src, root, PARAMS)
    idx = wand.FulltextIndex.load(spark, root)
    assert idx.manifest["n_docs"] == src.count()


def test_micro_eval_empty_both_sides(spark):
    """Empty predictions AND empty qrels must yield zeros (not NULLs),
    matching the DuckDB twin's count(*) semantics."""
    import pandas as pd
    from pyspark.sql import types as T

    from legal_text_retrieval_spark.operators.evaluate import micro_eval

    schema = T.StructType(
        [T.StructField("query_id", T.LongType()), T.StructField("doc_id", T.LongType())]
    )
    empty = spark.createDataFrame([], schema)
    row = micro_eval(empty, empty).collect()[0]
    assert (row.n_gold, row.n_pred, row.n_true) == (0, 0, 0)
    assert (row.p, row.r, row.f1, row.f2) == (0.0, 0.0, 0.0, 0.0)


def test_bm25_subset_dedups_and_validates_candidates(spark, tiny_docs, tiny_queries):
    """Duplicate candidate pairs collapse to one row; candidates whose
    doc_id is not in the corpus are dropped, not given a fabricated
    δ-constant score."""
    import pandas as pd

    from legal_text_retrieval_spark.config import NORTH_STAR_BM25
    from legal_text_retrieval_spark.operators.bm25 import bm25_scores_subset

    q1 = tiny_queries.limit(1).collect()[0].query_id
    cand = spark.createDataFrame(
        pd.DataFrame(
            {
                "query_id": [q1, q1, q1],
                "doc_id": [0, 0, 999_999],  # dup pair + nonexistent doc
            }
        )
    )
    got = bm25_scores_subset(
        tiny_docs, tiny_queries, cand, NORTH_STAR_BM25
    ).toPandas()
    assert len(got) == 1 and got.iloc[0].doc_id == 0


def test_chunked_corpus_guards_id_space(spark):
    """A parent doc_id at/above CHUNK_ID_BASE must fail loudly, not
    silently alias into chunk-id space."""
    import pandas as pd
    import pytest

    from legal_text_retrieval_spark.operators.chunk import CHUNK_ID_BASE, chunked_corpus

    docs = spark.createDataFrame(
        pd.DataFrame({"doc_id": [CHUNK_ID_BASE + 7], "content": ["a b c"]})
    )
    with pytest.raises(Exception, match="CHUNK_ID_BASE"):
        chunked_corpus(docs, size=30, stride=15).collect()


def test_query_scope_returns_storage_to_baseline(spark, tiny_docs, tiny_queries, tmp_path):
    """VERDICT r3 next #8: wrapping a query batch in query_scope must
    drop the operator-internal caches on exit (storage back to the
    pre-batch level) while keep= relations re-register, and a live
    FulltextIndex handle must re-pin its caches on next access."""
    from legal_text_retrieval_spark.config import BM25Params, IndexParams
    from legal_text_retrieval_spark.index import builder, wand
    from legal_text_retrieval_spark.operators import bm25 as B
    from legal_text_retrieval_spark.session import query_scope

    spark.catalog.clearCache()
    tiny_docs.cache().count()  # re-pin the session fixture
    jsc = spark.sparkContext._jsc

    root = str(tmp_path / "lts_scope_idx")
    params = IndexParams(segment_doc_window=64, bm25=BM25Params(k1=1.2))
    paths = builder.build_index(spark, tiny_docs, root, params)
    index = wand.FulltextIndex.load(spark, paths.root)

    with query_scope(spark, keep=(tiny_docs,)):
        # a relational batch and an index batch both leave caches behind
        B.bm25_topk(tiny_docs, tiny_queries, params.bm25, k=5).count()
        before_exit = jsc.getPersistentRDDs().size()
        first = wand.query_topk(index, tiny_queries, k=5).toPandas()
        assert before_exit > 0

    # operator caches gone; only the keep= re-registration remains
    # (unmaterialized → 0 persistent RDDs until next action)
    assert jsc.getPersistentRDDs().size() == 0
    assert tiny_docs.storageLevel.useMemory  # keep= re-registered

    # the index handle still works and re-pins its dictionary cache
    again = wand.query_topk(index, tiny_queries, k=5).toPandas()
    assert index.dictionary().storageLevel.useMemory
    pd.testing.assert_frame_equal(
        first.sort_values(["query_id", "rank"]).reset_index(drop=True),
        again.sort_values(["query_id", "rank"]).reset_index(drop=True),
    )


def test_query_scope_restores_sized_shuffle_confs(spark, tiny_docs):
    """VERDICT r4 next #3: the sweep partition-sizing helpers raise
    spark.sql.shuffle.partitions AND the AQE coalesce floor for the
    batch; query_scope must restore both on exit (floor back to unset)
    so a later small query is not pinned to hundreds of tasks."""
    from pyspark.sql import functions as F

    from legal_text_retrieval_spark.operators import dedup as DD
    from legal_text_retrieval_spark.session import query_scope

    FLOOR_KEY = "spark.sql.adaptive.coalescePartitions.minPartitionNum"
    base_parts = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        spark.conf.unset(FLOOR_KEY)
    except Exception:
        pass

    with query_scope(spark):
        # stand in for a large corpus: make the sizing rule ask for 777
        # and drive the real raise-only helper
        orig = DD.dedup_shuffle_partitions
        DD.dedup_shuffle_partitions = lambda *a, **k: 777
        try:
            DD._ensure_dedup_partitions(tiny_docs, "content")
        finally:
            DD.dedup_shuffle_partitions = orig
        assert spark.conf.get("spark.sql.shuffle.partitions") == "777"
        assert spark.conf.get(FLOOR_KEY) == "777"
        # a sweep-shaped action under the raised confs
        tiny_docs.groupBy("doc_id").count().count()

    # both confs restored: partitions back to baseline, floor unset
    # (PySpark 4 returns None for an unset optional conf)
    assert spark.conf.get("spark.sql.shuffle.partitions") == base_parts
    assert spark.conf.get(FLOOR_KEY) is None

    # and a small query's post-shuffle tasks return to the coalesced
    # baseline: every observed partition id < the baseline partition
    # count (a stuck 777 floor would scatter rows across ids ≫ that)
    ids = (
        tiny_docs.groupBy("doc_id")
        .count()
        .select(F.spark_partition_id().alias("pid"))
        .agg(F.max("pid"))
        .collect()[0][0]
    )
    assert ids < int(base_parts)
