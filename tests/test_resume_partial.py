"""North-rule resumability: a build interrupted mid-way resumes from
the last completed checkpoint and produces an identical index; the
query path stays exact on skewed corpora and pads short result lists
spread over several segments."""

from __future__ import annotations

import shutil
from pathlib import Path

import numpy as np
import pandas as pd

from legal_text_retrieval_spark.config import BM25Params, IndexParams
from legal_text_retrieval_spark.index import builder, wand
from legal_text_retrieval_spark.operators import bm25 as B

PARAMS = IndexParams(segment_doc_window=64, bm25=BM25Params(k1=1.2))


def _postings_fingerprint(spark, root):
    import hashlib

    rows = (
        spark.read.parquet(f"{root}/postings")
        .orderBy("term_id", "seg_id")
        .collect()
    )
    h = hashlib.sha256()
    for r in rows:
        h.update(bytes(r.doc_ids_enc))
        h.update(bytes(r.tfs_enc))
        h.update(bytes(r.dls_enc))
        h.update(str((r.term_id, r.seg_id, r.n_docs)).encode())
    return h.hexdigest()


def test_partial_resume_bit_identical(spark, tiny_docs, tmp_path):
    full = str(tmp_path / "full")
    builder.build_index(spark, tiny_docs, full, PARAMS)
    want = _postings_fingerprint(spark, full)

    # simulate a crash after the dictionary checkpoint: copy the
    # completed early stages, drop postings/lineage, then resume
    part = str(tmp_path / "part")
    shutil.copytree(full, part)
    shutil.rmtree(Path(part, "postings"))
    shutil.rmtree(Path(part, "lineage"))
    shutil.rmtree(Path(part, "lineage_partitions"))
    paths = builder.build_index(spark, tiny_docs, part, PARAMS, resume=True)

    import json

    manifest = json.loads(Path(paths.manifest).read_text())
    assert manifest["stages"]["dictionary"]["resumed"] is True
    assert manifest["stages"]["postings"]["resumed"] is False
    assert _postings_fingerprint(spark, part) == want



def test_resume_with_other_params_recomputes(spark, tiny_docs, tmp_path):
    """Resuming a build into a directory built with different layout
    params must recompute every stage, not stamp the new params on the
    old stages' data."""
    import json

    other = IndexParams(segment_doc_window=32, bm25=PARAMS.bm25)
    root = str(tmp_path / "idx")
    builder.build_index(spark, tiny_docs, root, PARAMS)
    paths = builder.build_index(spark, tiny_docs, root, other, resume=True)
    manifest = json.loads(Path(paths.manifest).read_text())
    assert not any(s["resumed"] for s in manifest["stages"].values())
    assert manifest["params"]["segment_doc_window"] == 32
    fresh = str(tmp_path / "fresh")
    builder.build_index(spark, tiny_docs, fresh, other)
    assert _postings_fingerprint(spark, root) == _postings_fingerprint(spark, fresh)

def test_skewed_corpus_matches_relational(spark, tmp_path):
    """On a corpus with one dominant doc per term region, the index path
    returns the relational plan's top-k bit for bit."""
    rng = np.random.default_rng(3)
    rows = []
    # 600 docs over 3 bands; a few 'hot' docs with huge tf
    for i in range(600):
        base = ["t1"] * (20 if i % 97 == 0 else 1) + ["t2"] * int(rng.integers(1, 3))
        rows.append({"doc_id": i, "content": " ".join(base + ["filler"] * 5)})
    docs = spark.createDataFrame(pd.DataFrame(rows))
    root = str(tmp_path / "idx")
    params = IndexParams(segment_doc_window=128, bm25=BM25Params(k1=1.2))
    builder.build_index(spark, docs, root, params)
    idx = wand.FulltextIndex.load(spark, root)
    q = spark.createDataFrame(pd.DataFrame({"query_id": ["q"], "query_text": ["t1 t2"]}))
    a = wand.query_topk(idx, q, k=5).toPandas().sort_values("rank")
    b = B.bm25_topk(docs, q, params.bm25, k=5, score_round=None).toPandas().sort_values("rank")
    assert a["doc_id"].tolist() == b["doc_id"].tolist()
    assert (a["score"].values.view("int64") == b["score"].values.view("int64")).all()


def test_padding_with_few_matches_multi_segment(spark, tmp_path):
    """Regression: a query matching fewer than k docs spread over
    multiple segments must be padded to exactly k rows (the old
    Σ n_cand predicate double-counted and skipped padding)."""
    rows = [{"doc_id": i, "content": "filler words only"} for i in range(40)]
    # 4 matching docs, 2 per 8-doc segment: the old predicate summed
    # n_cand per ROW (2 rows × n_cand 2 × 2 segments = 8 ≥ k) and
    # wrongly skipped padding even though only 4 docs matched
    for d in (1, 2, 11, 12):
        rows[d]["content"] = "needle filler"
    docs = spark.createDataFrame(pd.DataFrame(rows))
    root = str(tmp_path / "idx")
    params = IndexParams(segment_doc_window=8, bm25=BM25Params(k1=1.2))
    builder.build_index(spark, docs, root, params)
    idx = wand.FulltextIndex.load(spark, root)
    q = spark.createDataFrame(pd.DataFrame({"query_id": ["q"], "query_text": ["needle"]}))
    got = wand.query_topk(idx, q, k=5).toPandas().sort_values("rank")
    assert len(got) == 5
    want = (
        B.bm25_topk(docs, q, params.bm25, k=5, score_round=None)
        .toPandas()
        .sort_values("rank")
    )
    assert got["doc_id"].tolist() == want["doc_id"].tolist()
    assert (
        got["score"].values.view("int64") == want["score"].values.view("int64")
    ).all()
