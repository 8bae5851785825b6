"""Iceberg-shaped corpus ingest: dense insertion-order doc_id
assignment + sha256 integrity column (input_hint)."""

from __future__ import annotations

import pandas as pd


def test_load_corpus_assigns_dense_docids(spark, tmp_path):
    from legal_text_retrieval_spark.fixtures import make_corpus
    from legal_text_retrieval_spark.sources.corpus import load_corpus

    pdf = make_corpus(50)  # (repo, path, commit, lang, content) — no doc_id
    p = str(tmp_path / "corpus.parquet")
    spark.createDataFrame(pdf).write.mode("overwrite").parquet(p)

    docs = load_corpus(spark, p).toPandas().sort_values("doc_id")
    assert docs["doc_id"].tolist() == list(range(50))
    # ordering key: (repo, path, commit)
    keys = list(zip(docs["repo"], docs["path"], docs["commit"]))
    assert keys == sorted(keys)
    # integrity column matches sha256 of content
    import hashlib

    row = docs.iloc[7]
    assert row["content_sha"] == hashlib.sha256(row["content"].encode()).hexdigest()


def test_iceberg_shape_end_to_end(spark, tmp_path):
    """input_hint path: (repo, path, commit, lang, content) parquet →
    load_corpus (dense doc_id + sha) → index build → WAND query, with
    the provenance columns preserved in the index's docs table and the
    integrity check green."""
    from legal_text_retrieval_spark.config import BM25Params, IndexParams
    from legal_text_retrieval_spark.fixtures import make_corpus
    from legal_text_retrieval_spark.index import builder, wand
    from legal_text_retrieval_spark.sources.corpus import derived_queries, load_corpus

    src = str(tmp_path / "corpus.parquet")
    spark.createDataFrame(make_corpus(120)).write.mode("overwrite").parquet(src)
    docs = load_corpus(spark, src)

    params = IndexParams(segment_doc_window=64, bm25=BM25Params(k1=1.2))
    paths = builder.build_index(spark, docs, str(tmp_path / "idx"), params)
    stored = spark.read.parquet(paths.docs)
    assert {"repo", "path", "commit", "doc_id", "content_sha"} <= set(stored.columns)
    assert builder.verify_integrity(spark, paths, docs) == 0

    index = wand.FulltextIndex.load(spark, paths.root)
    out = wand.query_topk(index, derived_queries(docs), k=5, score_round=6).toPandas()
    assert len(out) > 0 and (out.groupby("query_id")["rank"].min() == 1).all()


def test_load_corpus_distributed_docids_match_window(spark, tmp_path):
    """The range-partition + offset assignment (the 10^12-file path)
    must produce bit-for-bit the same doc_ids as the global window, and
    its plan must not contain a no-partition global window exchange."""
    from legal_text_retrieval_spark.fixtures import make_corpus
    from legal_text_retrieval_spark.sources.corpus import load_corpus

    pdf = make_corpus(200)
    p = str(tmp_path / "corpus.parquet")
    spark.createDataFrame(pdf).write.mode("overwrite").parquet(p)

    a = (
        load_corpus(spark, p, distributed=False)
        .select("repo", "path", "commit", "doc_id")
        .toPandas()
        .sort_values(["repo", "path", "commit"])
        .reset_index(drop=True)
    )
    b_df = load_corpus(
        spark, p, distributed=True, materialize_path=str(tmp_path / "ranged")
    )
    plan = b_df._jdf.queryExecution().executedPlan().toString()
    assert "SinglePartition" not in plan, plan
    b = (
        b_df.select("repo", "path", "commit", "doc_id")
        .toPandas()
        .sort_values(["repo", "path", "commit"])
        .reset_index(drop=True)
    )
    assert a.equals(b)
