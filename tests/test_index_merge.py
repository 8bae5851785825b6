"""Index MERGE gate (north_rule: construction, MERGE, compression,
top-k): merging indexes built over disjoint doc splits must reproduce
the union-corpus build bit-for-bit — dictionary, packed posting bytes,
block maxima, manifest stats, and WAND query scores."""

from __future__ import annotations

import json
from pathlib import Path

import pandas as pd
import pytest
from pyspark.sql import functions as F

from legal_text_retrieval_spark.config import BM25Params, IndexParams
from legal_text_retrieval_spark.index import builder, wand
from legal_text_retrieval_spark.index.merge import merge_indexes

# small segment window so the 200-doc fixture spans multiple segments;
# parity split ⇒ every (term, seg) group has docs from BOTH sides
# (decode-merge-reencode path), range split ⇒ disjoint segments
PARAMS = IndexParams(block_size=16, segment_doc_window=64, bm25=BM25Params(k1=1.2))
OKAPI = IndexParams(block_size=16, segment_doc_window=64,
                    bm25=BM25Params(k1=1.2, variant="okapi"))

_POSTING_COLS = [
    "term_id", "seg_id", "n_docs", "doc_ids_enc", "tfs_enc", "dls_enc",
    "block_first", "block_last", "block_max_tfpart", "seg_max_tfpart",
    "enc_bytes",
]


def _build(spark, docs, out, params):
    return builder.build_index(spark, docs, str(out), params)


def _postings_pdf(spark, paths) -> pd.DataFrame:
    pdf = (
        spark.read.parquet(paths.postings)
        .select(*_POSTING_COLS)
        .toPandas()
        .sort_values(["term_id", "seg_id"])
        .reset_index(drop=True)
    )
    pdf["block_first"] = pdf["block_first"].apply(list)
    pdf["block_last"] = pdf["block_last"].apply(list)
    pdf["block_max_tfpart"] = pdf["block_max_tfpart"].apply(list)
    return pdf


def _dict_pdf(spark, paths) -> pd.DataFrame:
    return (
        spark.read.parquet(paths.dictionary)
        .toPandas()
        .sort_values("term")
        .reset_index(drop=True)
    )


def _merge_and_compare(spark, tiny_docs, tmp, params, split_col):
    docs_a = tiny_docs.filter(split_col)
    docs_b = tiny_docs.filter(~split_col)
    pa = _build(spark, docs_a, tmp / "a", params)
    pb = _build(spark, docs_b, tmp / "b", params)
    direct = _build(spark, tiny_docs, tmp / "direct", params)
    merged = merge_indexes(spark, pa.root, pb.root, str(tmp / "merged"))

    # dictionary: identical term_ids, df, idf
    da, dd = _dict_pdf(spark, merged), _dict_pdf(spark, direct)
    pd.testing.assert_frame_equal(da[sorted(da.columns)], dd[sorted(dd.columns)])

    # postings: byte-identical encodings and maxima
    pm, pdir = _postings_pdf(spark, merged), _postings_pdf(spark, direct)
    pd.testing.assert_frame_equal(pm, pdir)

    # manifest stats
    mm = json.loads(Path(merged.manifest).read_text())
    md = json.loads(Path(direct.manifest).read_text())
    for key in ("n_docs", "total_tokens", "avgdl", "min_idf", "vocab_size",
                "total_postings", "bytes_compressed"):
        assert mm[key] == md[key], key
    return merged, direct


def test_merge_parity_interleaved(spark, tiny_docs, tiny_queries, tmp_path):
    """Parity split: both sides hit every segment → every group takes
    the decode-merge-reencode path."""
    merged, direct = _merge_and_compare(
        spark, tiny_docs, tmp_path, PARAMS, F.col("doc_id") % 2 == 0
    )
    got = (
        wand.query_topk(wand.FulltextIndex.load(spark, merged.root), tiny_queries, k=10)
        .toPandas().sort_values(["query_id", "rank"]).reset_index(drop=True)
    )
    want = (
        wand.query_topk(wand.FulltextIndex.load(spark, direct.root), tiny_queries, k=10)
        .toPandas().sort_values(["query_id", "rank"]).reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(got, want)  # scores bit-identical


def test_merge_parity_range_split(spark, tiny_docs, tmp_path):
    """Range split at a non-window boundary: most segments single-side,
    the boundary segment shared."""
    _merge_and_compare(spark, tiny_docs, tmp_path, PARAMS, F.col("doc_id") < 90)


def test_merge_parity_okapi_eps_fold(spark, tiny_docs, tmp_path):
    """Okapi ε depends on the merged (term, df) relation only — the
    merged ε-fold must reproduce the rebuilt idf exactly."""
    _merge_and_compare(spark, tiny_docs, tmp_path, OKAPI, F.col("doc_id") % 3 == 0)


def test_upsert_parity(spark, tiny_docs, tmp_path):
    """delta wins on overlapping doc_ids; result equals a fresh build
    over (base − overlap) ∪ delta, bit-for-bit."""
    from pyspark.sql import functions as F2

    from legal_text_retrieval_spark.index.merge import upsert_index

    base_docs = tiny_docs.filter(F.col("doc_id") < 150)
    # delta: docs 100..199, with docs 100-149 carrying UPDATED text
    delta_docs = tiny_docs.filter(F.col("doc_id") >= 100).withColumn(
        "content",
        F2.when(
            F.col("doc_id") < 150, F2.concat(F.col("content"), F2.lit(" upd"))
        ).otherwise(F.col("content")),
    )
    pb = _build(spark, base_docs, tmp_path / "base", PARAMS)
    pdl = _build(spark, delta_docs, tmp_path / "delta", PARAMS)
    out = upsert_index(spark, pb.root, pdl.root, str(tmp_path / "upserted"))

    want_docs = tiny_docs.filter(F.col("doc_id") < 100).unionByName(delta_docs)
    direct = _build(spark, want_docs, tmp_path / "direct", PARAMS)

    da, dd = _dict_pdf(spark, out), _dict_pdf(spark, direct)
    pd.testing.assert_frame_equal(da[sorted(da.columns)], dd[sorted(dd.columns)])
    pd.testing.assert_frame_equal(
        _postings_pdf(spark, out), _postings_pdf(spark, direct)
    )
    mo = json.loads(Path(out.manifest).read_text())
    md = json.loads(Path(direct.manifest).read_text())
    for key in ("n_docs", "total_tokens", "avgdl", "min_idf", "vocab_size",
                "total_postings", "bytes_compressed"):
        assert mo[key] == md[key], key


def test_merge_rejects_param_mismatch(spark, tiny_docs, tmp_path):
    docs_a = tiny_docs.filter(F.col("doc_id") < 100)
    docs_b = tiny_docs.filter(F.col("doc_id") >= 100)
    pa = _build(spark, docs_a, tmp_path / "a", PARAMS)
    pb = _build(spark, docs_b, tmp_path / "b",
                IndexParams(block_size=16, segment_doc_window=64,
                            bm25=BM25Params(k1=1.5)))
    with pytest.raises(ValueError, match="incompatible"):
        merge_indexes(spark, pa.root, pb.root, str(tmp_path / "m"))


def test_merge_rejects_overlapping_docs(spark, tiny_docs, tmp_path):
    docs_a = tiny_docs.filter(F.col("doc_id") < 120)
    docs_b = tiny_docs.filter(F.col("doc_id") >= 100)
    pa = _build(spark, docs_a, tmp_path / "a", PARAMS)
    pb = _build(spark, docs_b, tmp_path / "b", PARAMS)
    with pytest.raises(ValueError, match="disjoint"):
        merge_indexes(spark, pa.root, pb.root, str(tmp_path / "m"))


def test_merge_keeps_one_sided_doc_columns(spark, tiny_docs, tmp_path):
    """A column present in only one source's docs table survives the
    merge null-filled (a rebuild over the union corpus would keep it;
    intersecting columns silently dropped it — round-3 ADVICE)."""
    docs_a = tiny_docs.filter(F.col("doc_id") < 100)
    docs_b = tiny_docs.filter(F.col("doc_id") >= 100).drop("lang")
    pa = _build(spark, docs_a, tmp_path / "a", PARAMS)
    pb = _build(spark, docs_b, tmp_path / "b", PARAMS)
    assert "lang" not in spark.read.parquet(pb.docs).columns
    merged = merge_indexes(spark, pa.root, pb.root, str(tmp_path / "m"))
    docs = spark.read.parquet(merged.docs)
    assert "lang" in docs.columns
    got = {r.doc_id: r.lang for r in docs.select("doc_id", "lang").collect()}
    assert got[0] is not None and got[150] is None


def test_merge_resume_refuses_stale_sources(spark, tiny_docs, tmp_path):
    """Merging DIFFERENT sources into a previously used out_dir must
    recompute (manifest input_fp mismatch), not resume stale stages."""
    pa = _build(spark, tiny_docs.filter(F.col("doc_id") < 80), tmp_path / "a", PARAMS)
    pb = _build(
        spark,
        tiny_docs.filter((F.col("doc_id") >= 80) & (F.col("doc_id") < 160)),
        tmp_path / "b",
        PARAMS,
    )
    pc = _build(spark, tiny_docs.filter(F.col("doc_id") >= 160), tmp_path / "c", PARAMS)
    out_dir = str(tmp_path / "m")
    m1 = merge_indexes(spark, pa.root, pb.root, out_dir)
    n1 = json.loads(Path(m1.manifest).read_text())["n_docs"]
    assert n1 == 160
    m2 = merge_indexes(spark, pa.root, pc.root, out_dir)
    man2 = json.loads(Path(m2.manifest).read_text())
    assert man2["n_docs"] == 120
    assert not any(s.get("resumed") for s in man2["stages"].values())
    direct = _build(
        spark,
        tiny_docs.filter((F.col("doc_id") < 80) | (F.col("doc_id") >= 160)),
        tmp_path / "direct",
        PARAMS,
    )
    pd.testing.assert_frame_equal(_postings_pdf(spark, m2), _postings_pdf(spark, direct))


def test_upsert_cleans_pruned_base(spark, tiny_docs, tmp_path):
    """The intermediate .base_pruned index (a full index copy) must not
    outlive the upsert (round-3 ADVICE)."""
    from legal_text_retrieval_spark.index.merge import upsert_index

    pb = _build(spark, tiny_docs.filter(F.col("doc_id") < 150), tmp_path / "base", PARAMS)
    pdl = _build(spark, tiny_docs.filter(F.col("doc_id") >= 100), tmp_path / "delta", PARAMS)
    out_dir = str(tmp_path / "ups")
    upsert_index(spark, pb.root, pdl.root, out_dir)
    assert not Path(out_dir + ".base_pruned").exists()


def test_upsert_cleans_pruned_base_on_failure(spark, tiny_docs, tmp_path, monkeypatch):
    """A failing merge step still removes the .base_pruned full-index
    copy, and its error reaches the caller."""
    from legal_text_retrieval_spark.index import merge as M

    pb = _build(spark, tiny_docs.filter(F.col("doc_id") < 150), tmp_path / "base", PARAMS)
    pdl = _build(spark, tiny_docs.filter(F.col("doc_id") >= 100), tmp_path / "delta", PARAMS)
    seen = []

    def failing_merge(spark, root_a, *args, **kwargs):
        seen.append(Path(root_a, "manifest.json").exists())
        raise RuntimeError("merge step failed")

    monkeypatch.setattr(M, "merge_indexes", failing_merge)
    out_dir = str(tmp_path / "ups")
    with pytest.raises(RuntimeError, match="merge step failed"):
        M.upsert_index(spark, pb.root, pdl.root, out_dir)
    assert seen == [True]  # the pruned base existed when the merge ran
    assert not Path(out_dir + ".base_pruned").exists()
