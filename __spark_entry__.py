"""Driver contract for the spark-graft builder (PySpark target).

Each ``queries()`` entry is a Spark DataFrame operator from SURVEY.md §2
over the driver's ``documents`` table; ``oracle_sql()`` returns the
byte-semantics-identical DuckDB SQL (generated from the same shared
formula strings — see ``legal_text_retrieval_spark/functions/``).
"""

from __future__ import annotations

import sys
from collections.abc import Callable
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession

sys.path.insert(0, str(Path(__file__).resolve().parent))

from legal_text_retrieval_spark.config import BM25Params, NORTH_STAR_BM25  # noqa: E402

_OKAPI = BM25Params(variant="okapi")
_K = 10


_CACHE: dict = {}


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from legal_text_retrieval_spark.sources.corpus import load_documents

    key = ("docs", sf_dir)
    if key not in _CACHE:
        _CACHE[key] = load_documents(spark, sf_dir).cache()
    return _CACHE[key]


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: BM25Plus top-10 over the sf0.001 corpus for the
    corpus-derived query set."""
    from legal_text_retrieval_spark.operators import bm25 as B
    from legal_text_retrieval_spark.sources import corpus as C

    docs = _docs(spark, "/root/testdata/sf0.001")
    return B.bm25_topk(docs, C.derived_queries(docs), NORTH_STAR_BM25, k=_K)


# ---------------------------------------------------------------- queries


def _q_doc_lengths(spark, sf_dir):
    from legal_text_retrieval_spark.operators import stats

    return stats.doc_lengths(_docs(spark, sf_dir))


def _q_corpus_stats(spark, sf_dir):
    from legal_text_retrieval_spark.operators import stats

    return stats.corpus_stats(_docs(spark, sf_dir))


def _q_term_tf(spark, sf_dir):
    from legal_text_retrieval_spark.operators import stats

    return stats.term_frequencies(_docs(spark, sf_dir))


def _q_term_df(spark, sf_dir):
    from legal_text_retrieval_spark.operators import stats

    return stats.document_frequencies(_docs(spark, sf_dir))


def _q_idf_plus(spark, sf_dir):
    from legal_text_retrieval_spark.operators import stats

    return stats.idf_plus(_docs(spark, sf_dir))


def _q_idf_okapi(spark, sf_dir):
    from legal_text_retrieval_spark.operators import stats

    return stats.idf_okapi(_docs(spark, sf_dir))


def _q_bm25plus_topk(spark, sf_dir):
    from legal_text_retrieval_spark.operators import bm25 as B
    from legal_text_retrieval_spark.sources import corpus as C

    docs = _docs(spark, sf_dir)
    return B.bm25_topk(docs, C.derived_queries(docs), NORTH_STAR_BM25, k=_K)


def _q_bm25okapi_topk(spark, sf_dir):
    from legal_text_retrieval_spark.operators import bm25 as B
    from legal_text_retrieval_spark.sources import corpus as C

    docs = _docs(spark, sf_dir)
    return B.bm25_topk(docs, C.derived_queries(docs), _OKAPI, k=_K)


def build_or_load_index(spark, sf_dir: str):
    """Build (resume-aware) the packed inverted index for a testdata sf
    dir under /tmp and return the loaded handle."""
    from legal_text_retrieval_spark.config import IndexParams
    from legal_text_retrieval_spark.index.builder import build_index
    from legal_text_retrieval_spark.index.wand import FulltextIndex

    # bump the version segment whenever the index layout changes
    # (v4: postings without block metadata; v3: dl-carrying termfreq
    # stage + max_group lineage column — a stale older dir's
    # intermediates would fail the resume path)
    root = f"/tmp/lts_index_v4/{Path(sf_dir.rstrip('/')).name}"
    docs = _docs(spark, sf_dir)
    paths = build_index(
        spark, docs, root, IndexParams(segment_doc_window=1 << 14, bm25=NORTH_STAR_BM25)
    )
    return FulltextIndex.load(spark, paths.root)


def _q_bm25plus_topk_indexed(spark, sf_dir):
    """Same query as bm25plus_topk but served from the compressed
    posting index via the query_topk kernel — bit-identical scores
    (tests/test_index_engine.py), same DuckDB oracle."""
    from legal_text_retrieval_spark.index.wand import query_topk
    from legal_text_retrieval_spark.sources import corpus as C

    index = build_or_load_index(spark, sf_dir)
    return query_topk(index, C.derived_queries(_docs(spark, sf_dir)), k=_K, score_round=6)


def _q_bm25okapi_topk_indexed(spark, sf_dir):
    """Okapi variant served from its own packed index (negative-eps
    guard permitting) — exercises the okapi WAND kernel in the gate."""
    from legal_text_retrieval_spark.config import IndexParams
    from legal_text_retrieval_spark.index.builder import build_index
    from legal_text_retrieval_spark.index.wand import FulltextIndex, query_topk
    from legal_text_retrieval_spark.sources import corpus as C

    root = f"/tmp/lts_index_v4_okapi/{Path(sf_dir.rstrip('/')).name}"
    docs = _docs(spark, sf_dir)
    paths = build_index(
        spark, docs, root, IndexParams(segment_doc_window=1 << 14, bm25=_OKAPI)
    )
    index = FulltextIndex.load(spark, paths.root)
    return query_topk(index, C.derived_queries(docs), k=_K, score_round=6)


def _q_bm25_merged_topk(spark, sf_dir):
    """Split the corpus by doc_id parity, build a packed index per
    half, MERGE them (index/merge.py: term-dict realignment, idf
    recompute vs the union n_docs, shared-segment decode-merge) and
    serve the standard query batch from the merged index.  Same DuckDB
    oracle as bm25plus_topk — the gate proves merged == rebuilt."""
    from pyspark.sql import functions as F

    from legal_text_retrieval_spark.config import IndexParams
    from legal_text_retrieval_spark.index.builder import build_index
    from legal_text_retrieval_spark.index.merge import merge_indexes
    from legal_text_retrieval_spark.index.wand import FulltextIndex, query_topk
    from legal_text_retrieval_spark.sources import corpus as C

    base = f"/tmp/lts_index_v4_merged/{Path(sf_dir.rstrip('/')).name}"
    docs = _docs(spark, sf_dir)
    params = IndexParams(segment_doc_window=1 << 14, bm25=NORTH_STAR_BM25)
    pa = build_index(spark, docs.filter(F.col("doc_id") % 2 == 0), f"{base}/even", params)
    pb = build_index(spark, docs.filter(F.col("doc_id") % 2 == 1), f"{base}/odd", params)
    merged = merge_indexes(spark, pa.root, pb.root, f"{base}/merged")
    index = FulltextIndex.load(spark, merged.root)
    return query_topk(index, C.derived_queries(docs), k=_K, score_round=6)


def _q_bm25_deleted_topk(spark, sf_dir):
    """Build the full packed index, DELETE every 5th doc from it
    (index/delete.py: map-only repack, dictionary re-rank with
    vanished terms dropped, maxima vs the post-delete avgdl) and serve
    the standard query batch — the oracle scores a corpus with those
    docs absent, proving deleted == rebuilt in the gate."""
    from pyspark.sql import functions as F

    from legal_text_retrieval_spark.index.delete import delete_docs
    from legal_text_retrieval_spark.index.wand import FulltextIndex, query_topk
    from legal_text_retrieval_spark.sources import corpus as C

    base = f"/tmp/lts_index_v4_deleted/{Path(sf_dir.rstrip('/')).name}"
    docs = _docs(spark, sf_dir)
    full = build_or_load_index(spark, sf_dir)
    doomed = [
        r.doc_id
        for r in docs.filter(F.col("doc_id") % 5 == 0).select("doc_id").collect()
    ]
    out = delete_docs(spark, full.paths.root, doomed, base)
    index = FulltextIndex.load(spark, out.root)
    return query_topk(index, C.derived_queries(docs), k=_K, score_round=6)


def _q_bm25_upserted_topk(spark, sf_dir):
    """UPSERT gate (VERDICT r4 next #2): build a BASE index whose
    overlap slice (doc_id % 8 == 0) carries deliberately stale content
    and which lacks the doc_id % 4 == 3 slice entirely; build a DELTA
    index carrying the fresh overlap content plus the missing slice;
    upsert_index (index/merge.py: delete ∘ merge) must then equal a
    fresh build over the TRUE full corpus — so the oracle is the plain
    full-corpus BM25 SQL, and a surviving stale posting or a dropped
    delta doc hash-mismatches."""
    from pyspark.sql import functions as F

    from legal_text_retrieval_spark.config import IndexParams
    from legal_text_retrieval_spark.index.builder import build_index
    from legal_text_retrieval_spark.index.merge import upsert_index
    from legal_text_retrieval_spark.index.wand import FulltextIndex, query_topk
    from legal_text_retrieval_spark.sources import corpus as C

    # pid-keyed root (ADVICE r5): two concurrent gate processes on the
    # same sf dir must not race on base/delta/upserted artifacts —
    # same recipe as the IVF gate; within-process reruns still reuse
    # the builds via build_index's input fingerprint
    import os

    base = f"/tmp/lts_index_v4_upserted/{os.getpid()}/{Path(sf_dir.rstrip('/')).name}"
    docs = _docs(spark, sf_dir)
    params = IndexParams(segment_doc_window=1 << 14, bm25=NORTH_STAR_BM25)
    overlap = F.col("doc_id") % 8 == 0
    base_docs = docs.filter(F.col("doc_id") % 4 != 3).withColumn(
        "content",
        F.when(
            overlap,
            F.concat(F.lit("stale placeholder revision "), F.substring("content", 1, 40)),
        ).otherwise(F.col("content")),
    )
    delta_docs = docs.filter((F.col("doc_id") % 4 == 3) | overlap)
    pb = build_index(spark, base_docs, f"{base}/base", params)
    pd_ = build_index(spark, delta_docs, f"{base}/delta", params)
    out = upsert_index(spark, pb.root, pd_.root, f"{base}/upserted")
    index = FulltextIndex.load(spark, out.root)
    return query_topk(index, C.derived_queries(docs), k=_K, score_round=6)


def _q_bm25_compacted_topk(spark, sf_dir):
    """STREAMING-COMPACTION gate (VERDICT r5 next #8 made a driver
    row): batch-build a base index missing the doc_id % 4 == 3 slice,
    ingest that slice through the real Structured Streaming path
    (start_incremental, two micro-batch file drops → appended posting
    generations + snapshot-stats dictionary appends), then restore
    exactness with compact_merged (the no-build-shuffle repack kernel).
    The compacted index must equal a fresh build over the full corpus,
    so the oracle is the plain full-corpus BM25 SQL — a stale snapshot
    statistic, an idf=0 placeholder left unfixed, or a dropped
    streamed doc hash-mismatches."""
    import os
    import uuid

    from pyspark.sql import functions as F

    from legal_text_retrieval_spark.config import IndexParams
    from legal_text_retrieval_spark.index.builder import build_index
    from legal_text_retrieval_spark.index.wand import FulltextIndex, query_topk
    from legal_text_retrieval_spark.sources import corpus as C
    from legal_text_retrieval_spark.streaming import incremental

    docs = _docs(spark, sf_dir)
    key = ("compacted_root", sf_dir)
    if key not in _CACHE:
        # pid + uuid root: streaming appends are not idempotent, so a
        # rerun must land in a fresh dir (the within-process rerun
        # reuses the memoized compacted root instead)
        base = (
            f"/tmp/lts_index_v4_compacted/{os.getpid()}/"
            f"{Path(sf_dir.rstrip('/')).name}_{uuid.uuid4().hex[:8]}"
        )
        params = IndexParams(segment_doc_window=1 << 14, bm25=NORTH_STAR_BM25)
        root = f"{base}/idx"
        build_index(spark, docs.filter(F.col("doc_id") % 4 != 3), root, params)
        streamed = docs.filter(F.col("doc_id") % 4 == 3).select("doc_id", "content")
        for i, half in enumerate((0, 1)):
            watch = f"{base}/incoming/b{i}"
            streamed.filter(F.col("doc_id") % 8 == 3 + 4 * half).write.mode(
                "overwrite"
            ).parquet(watch)
            q = incremental.start_incremental(
                spark, watch, root,
                checkpoint_dir=f"{base}/ckpt/b{i}",
                schema=streamed.schema,
            )
            # availableNow trigger: True = drained.  A timeout MUST
            # fail loudly — compacting over a partially ingested slice
            # would surface only as a confusing oracle hash mismatch
            # (ADVICE r6).  600 s is ~100x the quiet-box drain time.
            if not q.awaitTermination(600):
                q.stop()
                raise RuntimeError(
                    f"streaming micro-batch b{i} did not drain in 600s; "
                    "refusing to compact a partial ingest"
                )
        incremental.compact_merged(spark, root)
        _CACHE[key] = root
    index = FulltextIndex.load(spark, _CACHE[key])
    return query_topk(index, C.derived_queries(docs), k=_K, score_round=6)


def _q_tfidf_weights(spark, sf_dir):
    from pyspark.sql import functions as F

    from legal_text_retrieval_spark.functions.numeric import round_sql
    from legal_text_retrieval_spark.operators import tfidf as TF

    return TF.tfidf_weights(_docs(spark, sf_dir)).withColumn(
        "w", F.expr(round_sql("w", 9))
    )


def _q_tfidf_cosine_topk(spark, sf_dir):
    from legal_text_retrieval_spark.operators import tfidf as TF
    from legal_text_retrieval_spark.sources import corpus as C

    docs = _docs(spark, sf_dir)
    return TF.tfidf_cosine_topk(docs, C.derived_queries(docs), k=_K)


def _q_combine_weighted_topk(spark, sf_dir):
    from legal_text_retrieval_spark.operators import combine as CB
    from legal_text_retrieval_spark.sources import corpus as C

    docs = _docs(spark, sf_dir)
    return CB.combine_weighted_topk(docs, C.derived_queries(docs), NORTH_STAR_BM25, k=_K)


def _q_combine_interleave_topk(spark, sf_dir):
    from legal_text_retrieval_spark.operators import combine as CB
    from legal_text_retrieval_spark.sources import corpus as C

    docs = _docs(spark, sf_dir)
    return CB.combine_interleave_topk(docs, C.derived_queries(docs), NORTH_STAR_BM25, k=_K)


def _q_stopwords(spark, sf_dir):
    from legal_text_retrieval_spark.operators import tfidf as TF

    return TF.stopwords_low_tfidf(_docs(spark, sf_dir), threshold=0.2)


_CHUNK = dict(size=30, stride=15)


def _retrieved(spark, sf_dir):
    from legal_text_retrieval_spark.operators import bm25 as B
    from legal_text_retrieval_spark.sources import corpus as C

    key = ("retrieved", sf_dir)
    if key not in _CACHE:
        docs = _docs(spark, sf_dir)
        _CACHE[key] = B.bm25_topk(
            docs, C.derived_queries(docs), NORTH_STAR_BM25, k=_K
        ).cache()
    return _CACHE[key]


def _retrieved_ctes(with_score: bool = False) -> str:
    """CTEs defining ``retrieved(query_id, doc_id[, rank, score])`` and
    ``qrels`` on top of the bm25 CTE chain."""
    from legal_text_retrieval_spark.functions.numeric import round_sql
    from legal_text_retrieval_spark.operators.bm25 import bm25_ctes
    from legal_text_retrieval_spark.sources.corpus import derived_qrels_sql, derived_queries_sql

    sc = round_sql("score", 6)
    cols = "query_id, doc_id, rank, score" if with_score else "query_id, doc_id"
    return (
        bm25_ctes("documents", derived_queries_sql("documents"), NORTH_STAR_BM25)
        + f""",
retrieved AS (
  SELECT {cols} FROM (
    SELECT query_id, doc_id, {sc} AS score,
           row_number() OVER (PARTITION BY query_id ORDER BY {sc} DESC, doc_id DESC) AS rank
    FROM b_scored) WHERE rank <= {_K}),
qrels AS ({derived_qrels_sql("documents")})"""
    )


def _labels_sql() -> str:
    """(query_id, doc_id, label) for retrieved pairs (no gold append) —
    the rerank-accuracy gold relation."""
    return (
        "WITH "
        + _retrieved_ctes()
        + """
SELECT query_id, doc_id,
       CASE WHEN g.gdoc IS NOT NULL THEN 1 ELSE 0 END::BIGINT AS label
FROM retrieved r LEFT JOIN (SELECT query_id, doc_id, doc_id AS gdoc FROM qrels) g USING (query_id, doc_id)
"""
    )


def _q_chunk_documents(spark, sf_dir):
    from legal_text_retrieval_spark.operators.chunk import chunk_documents

    return chunk_documents(_docs(spark, sf_dir), **_CHUNK)


def _q_pair_generation(spark, sf_dir):
    from legal_text_retrieval_spark.operators.pairs import generate_pairs
    from legal_text_retrieval_spark.sources import corpus as C

    docs = _docs(spark, sf_dir)
    return generate_pairs(_retrieved(spark, sf_dir), C.derived_qrels(docs))


def _q_eval_micro(spark, sf_dir):
    from legal_text_retrieval_spark.operators.evaluate import micro_eval
    from legal_text_retrieval_spark.sources import corpus as C

    docs = _docs(spark, sf_dir)
    return micro_eval(_retrieved(spark, sf_dir), C.derived_qrels(docs))


def _q_eval_per_query(spark, sf_dir):
    from legal_text_retrieval_spark.operators.evaluate import per_query_eval
    from legal_text_retrieval_spark.sources import corpus as C

    docs = _docs(spark, sf_dir)
    return per_query_eval(_retrieved(spark, sf_dir), C.derived_qrels(docs))


def _q_trec_run_lines(spark, sf_dir):
    from legal_text_retrieval_spark.sources.sinks import trec_run_lines

    return trec_run_lines(_retrieved(spark, sf_dir))


def _emb(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet")


def _q_dedup_exact(spark, sf_dir):
    from legal_text_retrieval_spark.operators.dedup import dedup_exact

    return dedup_exact(_docs(spark, sf_dir))


def _q_dedup_ngram_jaccard(spark, sf_dir):
    from legal_text_retrieval_spark.operators.dedup import dedup_ngram_jaccard

    return dedup_ngram_jaccard(_docs(spark, sf_dir))


def _q_dedup_minhash_lsh(spark, sf_dir):
    from legal_text_retrieval_spark.operators.dedup import dedup_minhash_lsh

    return dedup_minhash_lsh(_docs(spark, sf_dir))


def _q_simhash(spark, sf_dir):
    from legal_text_retrieval_spark.operators.dedup import simhash

    return simhash(_docs(spark, sf_dir))


def _q_simhash_near_dup(spark, sf_dir):
    from legal_text_retrieval_spark.operators.dedup import simhash_near_dup

    return simhash_near_dup(_docs(spark, sf_dir), t=3)


def _q_embedding_cosine_topk(spark, sf_dir):
    from legal_text_retrieval_spark.operators.similarity import cosine_topk

    return cosine_topk(_emb(spark, sf_dir))


def _q_ann_lsh_topk(spark, sf_dir):
    from legal_text_retrieval_spark.operators.similarity import ann_lsh_topk

    return ann_lsh_topk(_emb(spark, sf_dir))


def _q_ann_recall(spark, sf_dir):
    from legal_text_retrieval_spark.operators.similarity import ann_recall

    return ann_recall(_emb(spark, sf_dir))


def _q_ivf_assignments(spark, sf_dir):
    from legal_text_retrieval_spark.operators.similarity import ivf_assignments

    return ivf_assignments(_emb(spark, sf_dir))


def _q_ivf_topk(spark, sf_dir):
    from legal_text_retrieval_spark.operators.similarity import ivf_topk

    return ivf_topk(_emb(spark, sf_dir))


def _q_ivf_recall(spark, sf_dir):
    from legal_text_retrieval_spark.operators.similarity import ivf_recall

    return ivf_recall(_emb(spark, sf_dir))


def _q_ivf_trained_centroids(spark, sf_dir):
    from legal_text_retrieval_spark.operators.similarity import (
        ivf_trained_centroids_exploded,
    )

    return ivf_trained_centroids_exploded(_emb(spark, sf_dir))


def _q_ivf_trained_topk(spark, sf_dir):
    from legal_text_retrieval_spark.operators.similarity import ivf_trained_topk

    return ivf_trained_topk(_emb(spark, sf_dir))


def _q_ivf_probe_topk(spark, sf_dir):
    """Persisted-IVF serving path: train + write (centroids parquet,
    centroid_id-partitioned inverted lists), then probe the index on
    disk.  Bit-identical to the in-memory trained path (parity test) —
    same DuckDB oracle as ivf_trained_topk."""
    from pyspark.sql import functions as F

    from legal_text_retrieval_spark.operators.similarity import (
        CENTROID_STRIDE,
        QUERY_STRIDE,
        build_ivf_index,
        ivf_probe_indexed,
    )

    emb = _emb(spark, sf_dir)
    # pid-keyed root: two concurrent gate processes on the same sf dir
    # must not race on lists/centroids (within-process reruns still
    # reuse the build via build_ivf_index's input fingerprint)
    import os

    root = f"/tmp/lts_ivf_gate/{os.getpid()}/{Path(sf_dir.rstrip('/')).name}"
    build_ivf_index(emb, root, stride=CENTROID_STRIDE, method="expr")
    queries = emb.filter(F.col("vec_id") % QUERY_STRIDE == 0)
    return ivf_probe_indexed(spark, root, queries, method="expr")


def _q_ivf_trained_recall(spark, sf_dir):
    from legal_text_retrieval_spark.operators.similarity import ivf_trained_recall

    return ivf_trained_recall(_emb(spark, sf_dir))


def _q_embedding_near_dup(spark, sf_dir):
    from legal_text_retrieval_spark.operators.similarity import near_dup_pairs

    return near_dup_pairs(_emb(spark, sf_dir))


def _q_token_counts(spark, sf_dir):
    from legal_text_retrieval_spark.operators.textstats import token_counts

    return token_counts(_docs(spark, sf_dir))


def _q_language_id(spark, sf_dir):
    from legal_text_retrieval_spark.operators.textstats import language_id

    return language_id(_docs(spark, sf_dir))


def _q_quality_scores(spark, sf_dir):
    from legal_text_retrieval_spark.operators.textstats import quality_scores

    return quality_scores(_docs(spark, sf_dir))


def _q_clean_corpus(spark, sf_dir):
    from legal_text_retrieval_spark.operators.textstats import clean_corpus

    return clean_corpus(_docs(spark, sf_dir))


def _q_token_quantiles(spark, sf_dir):
    from legal_text_retrieval_spark.operators.textstats import token_count_quantiles

    return token_count_quantiles(_docs(spark, sf_dir))


def _q_doc_fingerprint(spark, sf_dir):
    from legal_text_retrieval_spark.operators.textstats import fingerprint

    return fingerprint(_docs(spark, sf_dir))


def _model_topk_sql(scored_cte: str) -> str:
    """Model output for the ensemble oracle: top-K rows of a scored CTE
    with pred = rank <= _PRED_RANK."""
    from legal_text_retrieval_spark.functions.numeric import round_sql

    sc = round_sql("score", 6)
    return f"""
SELECT query_id, doc_id, score, (CASE WHEN rank <= {_PRED_RANK} THEN 1 ELSE 0 END)::BIGINT AS pred
FROM (
  SELECT query_id, doc_id, {sc} AS score,
         row_number() OVER (PARTITION BY query_id ORDER BY {sc} DESC, doc_id DESC) AS rank
  FROM {scored_cte})
WHERE rank <= {_K}
"""


def _q_train_test_split(spark, sf_dir):
    from legal_text_retrieval_spark.operators.pairs import train_test_split

    return train_test_split(_docs(spark, sf_dir))


def _q_bm25_subset_scores(spark, sf_dir):
    from pyspark.sql import functions as F

    from legal_text_retrieval_spark.functions.numeric import round_sql
    from legal_text_retrieval_spark.operators.bm25 import bm25_scores_subset
    from legal_text_retrieval_spark.sources import corpus as C

    docs = _docs(spark, sf_dir)
    return bm25_scores_subset(
        docs, C.derived_queries(docs), C.derived_qrels(docs), NORTH_STAR_BM25
    ).withColumn("score", F.expr(round_sql("score", 6)))


def _q_eval_macro(spark, sf_dir):
    from legal_text_retrieval_spark.operators.evaluate import macro_eval
    from legal_text_retrieval_spark.sources import corpus as C

    docs = _docs(spark, sf_dir)
    return macro_eval(_retrieved(spark, sf_dir), C.derived_qrels(docs))


def _q_multimodal_features(spark, sf_dir):
    from legal_text_retrieval_spark.operators.multimodal import payload_features

    return payload_features(_docs(spark, sf_dir))


def _q_composite_keys(spark, sf_dir):
    """P7 + P9: build composite keys, chunk sub-keys, and strip the
    sub-id back to the parent key."""
    from pyspark.sql import functions as F

    from legal_text_retrieval_spark.functions.text import (
        composite_key,
        parse_composite_key,
        strip_sub_id,
    )

    docs = _docs(spark, sf_dir)
    keyed = docs.select(
        "doc_id",
        composite_key(F.col("source"), F.col("doc_id").cast("string")).alias("key"),
    ).withColumn("sub_key", F.expr("concat(split(key, '-->', -1)[0], '-->', split(key, '-->', -1)[1], '-sub0-->')"))
    return keyed.select(
        "doc_id",
        "key",
        "sub_key",
        strip_sub_id(F.col("sub_key")).alias("parent_key"),
        parse_composite_key(F.col("key")).getItem(0).alias("l_id"),
        parse_composite_key(F.col("key")).getItem(1).alias("a_id"),
    )


def _q_chunk_expansion(spark, sf_dir):
    """J2: expand retrieved parent docs to all their chunk ids."""
    from pyspark.sql import functions as F

    from legal_text_retrieval_spark.operators.chunk import chunk_documents

    chunks = chunk_documents(_docs(spark, sf_dir), **_CHUNK).select("doc_id", "sub_id")
    return (
        _retrieved(spark, sf_dir)
        .select("query_id", "doc_id")
        .join(chunks, "doc_id")
        .select("query_id", "doc_id", "sub_id")
    )


def _q_softmax_scores(spark, sf_dir):
    from legal_text_retrieval_spark.operators.evaluate import softmax_per_query

    return softmax_per_query(_retrieved_scored(spark, sf_dir))


def _retrieved_scored(spark, sf_dir):
    from legal_text_retrieval_spark.operators import bm25 as B
    from legal_text_retrieval_spark.sources import corpus as C

    docs = _docs(spark, sf_dir)
    return B.bm25_topk(docs, C.derived_queries(docs), NORTH_STAR_BM25, k=_K).select(
        "query_id", "doc_id", "score"
    )


def _q_dedup_keep(spark, sf_dir):
    from legal_text_retrieval_spark.operators.dedup import dedup_keep

    return dedup_keep(_docs(spark, sf_dir), threshold=0.1)


_PRED_RANK = 3


def _model_dfs(spark, sf_dir):
    from pyspark.sql import functions as F

    from legal_text_retrieval_spark.operators import bm25 as B
    from legal_text_retrieval_spark.operators import tfidf as TF
    from legal_text_retrieval_spark.sources import corpus as C

    docs = _docs(spark, sf_dir)
    q = C.derived_queries(docs)
    pred = (F.col("rank") <= _PRED_RANK).cast("long").alias("pred")
    m1 = B.bm25_topk(docs, q, NORTH_STAR_BM25, k=_K).select("query_id", "doc_id", "score", pred)
    m2 = TF.tfidf_cosine_topk(docs, q, k=_K).select("query_id", "doc_id", "score", pred)
    return [m1, m2]


def _q_ensemble(spark, sf_dir):
    from legal_text_retrieval_spark.operators.ensemble import (
        ensemble_predictions,
        with_negative_fallback,
    )

    return with_negative_fallback(ensemble_predictions(_model_dfs(spark, sf_dir)))


# synthetic 2-class logits derived from the lexical retrieval scores —
# identical recipe on both engines (no side-channel): logit1 = score,
# logit0 = 0.9·score + 0.5 → pred = argmax ⇔ score > 5 (mixed classes
# on the test corpus)
_LOGIT0 = "CAST(0.9 AS DOUBLE) * score + CAST(0.5 AS DOUBLE)"


def _synth_logits(spark, sf_dir):
    from pyspark.sql import functions as F

    return _retrieved_scored(spark, sf_dir).select(
        "query_id",
        "doc_id",
        F.expr(_LOGIT0).alias("logit0"),
        F.col("score").alias("logit1"),
    )


def _synth_logits_sql() -> str:
    return (
        "WITH "
        + _retrieved_ctes(with_score=True)
        + f"\nSELECT query_id, doc_id, {_LOGIT0} AS logit0, score AS logit1 FROM retrieved"
    )


def _q_rerank_ingest(spark, sf_dir):
    from legal_text_retrieval_spark.operators.rerank import rerank_ingest

    return rerank_ingest(_synth_logits(spark, sf_dir))


def _q_rerank_accuracy(spark, sf_dir):
    from legal_text_retrieval_spark.operators.pairs import generate_pairs
    from legal_text_retrieval_spark.operators.rerank import rerank_accuracy, rerank_ingest
    from legal_text_retrieval_spark.sources import corpus as C

    docs = _docs(spark, sf_dir)
    labels = generate_pairs(
        _retrieved(spark, sf_dir), C.derived_qrels(docs), append_gold=False
    )
    return rerank_accuracy(rerank_ingest(_synth_logits(spark, sf_dir)), labels)


def _q_rerank_eval(spark, sf_dir):
    """E5 end-to-end: rerank logits → softmax/argmax → ensemble with
    negative fallback → micro eval vs gold (the reference's
    aggregate_results → evaluate path)."""
    from legal_text_retrieval_spark.operators.ensemble import (
        ensemble_predictions,
        with_negative_fallback,
    )
    from legal_text_retrieval_spark.operators.evaluate import micro_eval
    from legal_text_retrieval_spark.operators.rerank import (
        rerank_ingest,
        rerank_model_output,
    )
    from legal_text_retrieval_spark.sources import corpus as C
    from pyspark.sql import functions as F

    docs = _docs(spark, sf_dir)
    m = rerank_model_output(rerank_ingest(_synth_logits(spark, sf_dir)))
    final = with_negative_fallback(ensemble_predictions([m]))
    pred = final.filter(F.col("predicted") == 1).select("query_id", "doc_id")
    return micro_eval(pred, C.derived_qrels(docs))


def _q_bm25_chunked_topk(spark, sf_dir):
    from legal_text_retrieval_spark.operators.chunk import bm25_chunked_topk
    from legal_text_retrieval_spark.sources import corpus as C

    docs = _docs(spark, sf_dir)
    return bm25_chunked_topk(
        docs, C.derived_queries(docs), NORTH_STAR_BM25, k=_K, **_CHUNK
    )


def _q_cola_rows(spark, sf_dir):
    """S7: CoLA rows over the derived query set — label 1 iff the query
    has at least one gold article (a deterministic, SQL-expressible
    labeling shared with the oracle)."""
    from pyspark.sql import functions as F

    from legal_text_retrieval_spark.sources import corpus as C
    from legal_text_retrieval_spark.sources.sinks import cola_rows

    docs = _docs(spark, sf_dir)
    q = C.derived_queries(docs)
    has_gold = C.derived_qrels(docs).select("query_id").distinct()
    labeled = q.join(
        has_gold.withColumn("label", F.lit(1)), "query_id", "left"
    ).fillna({"label": 0})
    return cola_rows(labeled)


def _q_bm25_chunked_topk_indexed(spark, sf_dir):
    """The reference retrieval configuration (docs ∪ chunks, parent
    keep-first dedup) served from the packed posting index via WAND —
    bit-identical to the relational bm25_chunked_topk, same oracle."""
    from legal_text_retrieval_spark.operators.chunk import bm25_chunked_topk_indexed
    from legal_text_retrieval_spark.sources import corpus as C

    docs = _docs(spark, sf_dir)
    root = f"/tmp/lts_index_chunked_v2/{Path(sf_dir.rstrip('/')).name}"
    return bm25_chunked_topk_indexed(
        spark, docs, C.derived_queries(docs), NORTH_STAR_BM25, k=_K, out_dir=root, **_CHUNK
    )


def _q_pair_hydration(spark, sf_dir):
    from legal_text_retrieval_spark.operators.pairs import generate_pairs, hydrate_pairs
    from legal_text_retrieval_spark.sources import corpus as C

    docs = _docs(spark, sf_dir)
    pairs = generate_pairs(_retrieved(spark, sf_dir), C.derived_qrels(docs))
    return hydrate_pairs(pairs, docs, C.derived_queries(docs))


def _q_submission_rows(spark, sf_dir):
    from pyspark.sql import functions as F

    from legal_text_retrieval_spark.functions.text import composite_key
    from legal_text_retrieval_spark.sources.sinks import submission_rows

    docs = _docs(spark, sf_dir)
    preds = (
        _retrieved(spark, sf_dir)
        .select("query_id", "doc_id")
        .join(docs.select("doc_id", "source"), "doc_id")
        .select(
            "query_id",
            composite_key(F.col("source"), F.col("doc_id").cast("string")).alias("key"),
        )
    )
    return submission_rows(preds)


def _q_mrpc_rows(spark, sf_dir):
    """S6+P8+J3 composed: hydrated training pairs in MRPC format with
    the newline scrub."""
    from legal_text_retrieval_spark.operators.pairs import generate_pairs, hydrate_pairs
    from legal_text_retrieval_spark.sources import corpus as C
    from legal_text_retrieval_spark.sources.sinks import mrpc_rows

    docs = _docs(spark, sf_dir)
    pairs = generate_pairs(_retrieved(spark, sf_dir), C.derived_qrels(docs))
    return mrpc_rows(hydrate_pairs(pairs, docs, C.derived_queries(docs)))


def _q_content_sha(spark, sf_dir):
    """P10: per-row sha256 integrity column."""
    from pyspark.sql import functions as F

    return _docs(spark, sf_dir).select(
        "doc_id", F.sha2(F.col("content"), 256).alias("content_sha")
    )


def _q_tpch_q1(spark, sf_dir):
    from legal_text_retrieval_spark.operators.relational import tpch_q1_like

    return tpch_q1_like(spark, sf_dir)


def _q_revenue_by_nation(spark, sf_dir):
    from legal_text_retrieval_spark.operators.relational import revenue_by_nation

    return revenue_by_nation(spark, sf_dir)


def _q_brand_supplier_revenue(spark, sf_dir):
    from legal_text_retrieval_spark.operators.relational import brand_supplier_revenue

    return brand_supplier_revenue(spark, sf_dir)


def _q_events_daily(spark, sf_dir):
    from legal_text_retrieval_spark.operators.relational import events_daily_counts

    return events_daily_counts(spark, sf_dir)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    # NOTE: the driver's correctness gate samples the FIRST 50 dict entries.
    # Ordering is therefore a rotation schedule, not cosmetics: entries that
    # have never had (or most need) a driver-green CORRECTNESS row go first;
    # stable long-green entries rotate past the window at the tail.  The
    # FULL set (window + tail) is re-verified locally each round with
    # scripts/check_oracles.py, so rotation only affects which rows land
    # in the driver snapshot, never regression coverage (r4 ADVICE).
    return {
        # -- round-6 first-timer: streaming-compaction's first driver row --
        "bm25_compacted_topk": _q_bm25_compacted_topk,
        # -- the 18 entries whose last driver row was r4 (VERDICT r5
        # next #1: rotate them back so no entry's row is >2 rounds old) --
        "doc_lengths": _q_doc_lengths,
        "corpus_stats": _q_corpus_stats,
        "term_tf": _q_term_tf,
        "term_df": _q_term_df,
        "idf_plus": _q_idf_plus,
        "idf_okapi": _q_idf_okapi,
        "tfidf_weights": _q_tfidf_weights,
        "pair_generation": _q_pair_generation,
        "eval_per_query": _q_eval_per_query,
        "dedup_exact": _q_dedup_exact,
        "dedup_ngram_jaccard": _q_dedup_ngram_jaccard,
        "embedding_cosine_topk": _q_embedding_cosine_topk,
        "ann_lsh_topk": _q_ann_lsh_topk,
        "ivf_assignments": _q_ivf_assignments,
        "ivf_topk": _q_ivf_topk,
        "ivf_trained_centroids": _q_ivf_trained_centroids,
        "ivf_trained_topk": _q_ivf_trained_topk,
        "ivf_trained_recall": _q_ivf_trained_recall,
        # -- r5 first-timer kept inside for a second consecutive row;
        # its gate root was pid-keyed this round --
        "bm25_upserted_topk": _q_bm25_upserted_topk,
        # -- entries whose operators changed in r6 (auto scale-path
        # selection in dedup/similarity; delete digest v3) --
        "dedup_minhash_lsh": _q_dedup_minhash_lsh,
        "dedup_keep": _q_dedup_keep,
        "embedding_near_dup": _q_embedding_near_dup,
        "bm25_deleted_topk": _q_bm25_deleted_topk,
        # -- index-lifecycle + retrieval core retained in-window --
        "bm25plus_topk": _q_bm25plus_topk,
        "bm25okapi_topk": _q_bm25okapi_topk,
        "bm25plus_topk_indexed": _q_bm25plus_topk_indexed,
        "bm25okapi_topk_indexed": _q_bm25okapi_topk_indexed,
        "bm25_merged_topk": _q_bm25_merged_topk,
        "bm25_chunked_topk": _q_bm25_chunked_topk,
        "bm25_chunked_topk_indexed": _q_bm25_chunked_topk_indexed,
        "ivf_probe_topk": _q_ivf_probe_topk,
        "simhash_near_dup": _q_simhash_near_dup,
        "tfidf_cosine_topk": _q_tfidf_cosine_topk,
        "combine_weighted_topk": _q_combine_weighted_topk,
        "chunk_documents": _q_chunk_documents,
        "ensemble_predictions": _q_ensemble,
        "eval_micro": _q_eval_micro,
        # -- two-consecutive-row entries (r4+r5) riding a third --
        "pair_hydration": _q_pair_hydration,
        "submission_rows": _q_submission_rows,
        "brand_supplier_revenue": _q_brand_supplier_revenue,
        "cola_rows": _q_cola_rows,
        "content_sha": _q_content_sha,
        "rerank_ingest": _q_rerank_ingest,
        "rerank_accuracy": _q_rerank_accuracy,
        "rerank_eval": _q_rerank_eval,
        "chunk_expansion": _q_chunk_expansion,
        "tpch_q1_like": _q_tpch_q1,
        "revenue_by_nation": _q_revenue_by_nation,
        "events_daily_counts": _q_events_daily,
        # -- rotated past the 50-entry window (driver-green in r5;
        # re-verified locally this round with scripts/check_oracles.py) --
        "ann_recall": _q_ann_recall,
        "bm25_subset_scores": _q_bm25_subset_scores,
        "clean_corpus": _q_clean_corpus,
        "combine_interleave_topk": _q_combine_interleave_topk,
        "composite_keys": _q_composite_keys,
        "doc_fingerprint": _q_doc_fingerprint,
        "eval_macro": _q_eval_macro,
        "ivf_recall": _q_ivf_recall,
        "language_id": _q_language_id,
        "mrpc_rows": _q_mrpc_rows,
        "multimodal_features": _q_multimodal_features,
        "quality_scores": _q_quality_scores,
        "softmax_scores": _q_softmax_scores,
        "simhash": _q_simhash,
        "stopwords_low_tfidf": _q_stopwords,
        "token_count_quantiles": _q_token_quantiles,
        "token_counts": _q_token_counts,
        "train_test_split": _q_train_test_split,
        "trec_run_lines": _q_trec_run_lines,
    }


def oracle_sql() -> dict[str, str]:
    from legal_text_retrieval_spark.operators import bm25 as B
    from legal_text_retrieval_spark.operators import combine as CB
    from legal_text_retrieval_spark.operators import dedup as DD
    from legal_text_retrieval_spark.operators import ensemble as EN
    from legal_text_retrieval_spark.operators import evaluate as EV
    from legal_text_retrieval_spark.functions.numeric import round_sql
    from legal_text_retrieval_spark.operators import multimodal as MM
    from legal_text_retrieval_spark.operators import pairs as PR
    from legal_text_retrieval_spark.operators import chunk as CH
    from legal_text_retrieval_spark.operators import relational as RL
    from legal_text_retrieval_spark.operators import rerank as RR
    from legal_text_retrieval_spark.operators import similarity as SIM
    from legal_text_retrieval_spark.operators import textstats as TS
    from legal_text_retrieval_spark.operators import stats
    from legal_text_retrieval_spark.operators import tfidf as TF
    from legal_text_retrieval_spark.operators.chunk import chunk_documents_sql
    from legal_text_retrieval_spark.sources import sinks as SK
    from legal_text_retrieval_spark.sources.corpus import (
        derived_qrels_sql,
        derived_queries_sql,
    )

    qsql = derived_queries_sql("documents")
    return {
        "doc_lengths": stats.doc_lengths_sql("documents"),
        "corpus_stats": stats.corpus_stats_sql("documents"),
        "term_tf": stats.term_frequencies_sql("documents"),
        "term_df": stats.document_frequencies_sql("documents"),
        "idf_plus": stats.idf_plus_sql("documents"),
        "idf_okapi": stats.idf_okapi_sql("documents"),
        "bm25plus_topk": B.bm25_topk_sql("documents", qsql, NORTH_STAR_BM25, _K),
        "bm25okapi_topk": B.bm25_topk_sql("documents", qsql, _OKAPI, _K),
        "bm25plus_topk_indexed": B.bm25_topk_sql("documents", qsql, NORTH_STAR_BM25, _K),
        "bm25okapi_topk_indexed": B.bm25_topk_sql("documents", qsql, _OKAPI, _K),
        "bm25_merged_topk": B.bm25_topk_sql("documents", qsql, NORTH_STAR_BM25, _K),
        # upsert = delete ∘ merge must equal a fresh build over the TRUE
        # full corpus (delta wins the overlap), so the oracle is the
        # plain full-corpus BM25 — stale base content never appears here
        "bm25_upserted_topk": B.bm25_topk_sql("documents", qsql, NORTH_STAR_BM25, _K),
        # streamed appends + compact_merged must equal a fresh build
        # over the full corpus — the oracle is the plain full-corpus
        # BM25, so snapshot-stat staleness or idf placeholders mismatch
        "bm25_compacted_topk": B.bm25_topk_sql("documents", qsql, NORTH_STAR_BM25, _K),
        "bm25_deleted_topk": B.bm25_topk_sql(
            "(SELECT * FROM documents WHERE doc_id % 5 <> 0)",
            qsql,
            NORTH_STAR_BM25,
            _K,
        ),
        "tfidf_weights": TF.tfidf_weights_sql("documents"),
        "tfidf_cosine_topk": TF.tfidf_cosine_topk_sql("documents", qsql, _K),
        "combine_weighted_topk": CB.combine_weighted_topk_sql(
            "documents", qsql, NORTH_STAR_BM25, _K
        ),
        "combine_interleave_topk": CB.combine_interleave_topk_sql(
            "documents", qsql, NORTH_STAR_BM25, _K
        ),
        "stopwords_low_tfidf": TF.stopwords_low_tfidf_sql("documents", threshold=0.2),
        "chunk_documents": chunk_documents_sql("documents", **_CHUNK),
        "pair_generation": (
            "WITH "
            + _retrieved_ctes()
            + """
SELECT query_id, doc_id,
       CASE WHEN g.gdoc IS NOT NULL THEN 1 ELSE 0 END::BIGINT AS label
FROM retrieved r LEFT JOIN (SELECT query_id, doc_id, doc_id AS gdoc FROM qrels) g USING (query_id, doc_id)
UNION ALL
SELECT query_id, doc_id, 1::BIGINT AS label
FROM qrels g2 LEFT JOIN (SELECT query_id, doc_id, 1 AS hit FROM retrieved) r2
USING (query_id, doc_id) WHERE r2.hit IS NULL
"""
        ),
        "eval_micro": EV.micro_eval_sql(
            "SELECT query_id, doc_id FROM retrieved",
            "SELECT query_id, doc_id FROM qrels",
            extra_ctes=_retrieved_ctes(),
        ),
        "eval_per_query": EV.per_query_eval_sql(
            "SELECT query_id, doc_id FROM retrieved",
            "SELECT query_id, doc_id FROM qrels",
            extra_ctes=_retrieved_ctes(),
        ),
        "trec_run_lines": (
            "WITH "
            + _retrieved_ctes(with_score=True)
            + SK.trec_run_lines_sql("SELECT query_id, doc_id, rank, score FROM retrieved")
        ),
        "dedup_exact": DD.dedup_exact_sql("documents"),
        "dedup_ngram_jaccard": DD.dedup_ngram_jaccard_sql("documents"),
        "dedup_minhash_lsh": DD.dedup_minhash_lsh_sql("documents"),
        "simhash": DD.simhash_sql("documents"),
        "simhash_near_dup": DD.simhash_near_dup_sql("documents", t=3),
        "embedding_cosine_topk": SIM.cosine_topk_sql("embeddings"),
        "ann_lsh_topk": SIM.ann_lsh_topk_sql("embeddings"),
        "ann_recall": SIM.ann_recall_sql("embeddings"),
        "ivf_assignments": SIM.ivf_assignments_sql("embeddings"),
        "ivf_topk": SIM.ivf_topk_sql("embeddings"),
        "ivf_recall": SIM.ivf_recall_sql("embeddings"),
        "ivf_trained_centroids": SIM.ivf_trained_centroids_sql("embeddings"),
        "ivf_trained_topk": SIM.ivf_trained_topk_sql("embeddings"),
        "ivf_probe_topk": SIM.ivf_trained_topk_sql("embeddings"),
        "ivf_trained_recall": SIM.ivf_trained_recall_sql("embeddings"),
        "embedding_near_dup": SIM.near_dup_pairs_sql("embeddings"),
        "token_counts": TS.token_counts_sql("documents"),
        "language_id": TS.language_id_sql("documents"),
        "quality_scores": TS.quality_scores_sql("documents"),
        "doc_fingerprint": TS.fingerprint_sql("documents"),
        "clean_corpus": TS.clean_corpus_sql("documents"),
        "token_count_quantiles": TS.token_count_quantiles_sql("documents"),
        "multimodal_features": MM.payload_features_sql("documents"),
        "train_test_split": PR.train_test_split_sql("documents"),
        "bm25_subset_scores": (
            "WITH "
            + _retrieved_ctes()
            + f"""
SELECT b.query_id, b.doc_id, {round_sql("b.score", 6)} AS score
FROM b_scored b
WHERE EXISTS (SELECT 1 FROM qrels g WHERE g.query_id = b.query_id AND g.doc_id = b.doc_id)
"""
        ),
        "eval_macro": EV.macro_eval_sql(
            "SELECT query_id, doc_id FROM retrieved",
            "SELECT query_id, doc_id FROM qrels",
            extra_ctes=_retrieved_ctes(),
        ),
        "softmax_scores": EV.softmax_per_query_sql(
            "WITH "
            + _retrieved_ctes(with_score=True)
            + "\nSELECT query_id, doc_id, score FROM retrieved"
        ),
        "dedup_keep": DD.dedup_keep_sql("documents", threshold=0.1),
        "tpch_q1_like": RL.tpch_q1_like_sql(),
        "revenue_by_nation": RL.revenue_by_nation_sql(),
        "events_daily_counts": RL.events_daily_counts_sql(),
        "composite_keys": """
WITH keyed AS (
  SELECT doc_id,
         source || '-->' || doc_id::VARCHAR || '-->' AS key,
         string_split(source || '-->' || doc_id::VARCHAR || '-->', '-->')[1]
           || '-->' || string_split(source || '-->' || doc_id::VARCHAR || '-->', '-->')[2]
           || '-sub0-->' AS sub_key
  FROM documents)
SELECT doc_id, key, sub_key,
       regexp_replace(sub_key, '-sub\\d+', '', 'g') AS parent_key,
       string_split(key, '-->')[1] AS l_id,
       string_split(key, '-->')[2] AS a_id
FROM keyed ORDER BY doc_id
""",
        "chunk_expansion": (
            "WITH "
            + _retrieved_ctes()
            + f""",
chunks AS (SELECT doc_id, sub_id FROM ({chunk_documents_sql("documents", **_CHUNK)}))
SELECT query_id, doc_id, sub_id
FROM retrieved JOIN chunks USING (doc_id)
ORDER BY query_id, doc_id, sub_id
"""
        ),
        "ensemble_predictions": EN.ensemble_sql(
            [
                "WITH "
                + B.bm25_ctes("documents", qsql, NORTH_STAR_BM25)
                + _model_topk_sql("b_scored"),
                "WITH " + TF.cosine_ctes("documents", qsql) + _model_topk_sql("c_scored"),
            ]
        ),
        "rerank_ingest": RR.rerank_ingest_sql(_synth_logits_sql()),
        "rerank_accuracy": RR.rerank_accuracy_sql(
            RR.rerank_ingest_sql(_synth_logits_sql()), _labels_sql()
        ),
        "rerank_eval": EV.micro_eval_sql(
            "SELECT query_id, doc_id FROM ("
            + EN.ensemble_sql(
                [
                    "SELECT query_id, doc_id, prob AS score, pred FROM ("
                    + RR.rerank_ingest_sql(_synth_logits_sql())
                    + ")"
                ]
            )
            + ") WHERE predicted = 1",
            "SELECT query_id, doc_id FROM qrels",
            extra_ctes=_retrieved_ctes(),
        ),
        "bm25_chunked_topk": CH.bm25_chunked_topk_sql(
            "documents", qsql, NORTH_STAR_BM25, _K, **_CHUNK
        ),
        "bm25_chunked_topk_indexed": CH.bm25_chunked_topk_sql(
            "documents", qsql, NORTH_STAR_BM25, _K, **_CHUNK
        ),
        "pair_hydration": (
            "WITH "
            + _retrieved_ctes()
            + """,
pairs AS (
  SELECT query_id, doc_id,
         CASE WHEN g.gdoc IS NOT NULL THEN 1 ELSE 0 END::BIGINT AS label
  FROM retrieved r LEFT JOIN (SELECT query_id, doc_id, doc_id AS gdoc FROM qrels) g USING (query_id, doc_id)
  UNION ALL
  SELECT query_id, doc_id, 1::BIGINT AS label
  FROM qrels g2 LEFT JOIN (SELECT query_id, doc_id, 1 AS hit FROM retrieved) r2
  USING (query_id, doc_id) WHERE r2.hit IS NULL)
SELECT p.query_id, p.doc_id, p.label, q.query_text AS sentence1, d.text AS sentence2
FROM pairs p JOIN q ON q.query_id = p.query_id JOIN documents d ON d.doc_id = p.doc_id
ORDER BY p.query_id, p.doc_id
"""
        ),
        "mrpc_rows": (
            "WITH "
            + _retrieved_ctes()
            + """,
pairs AS (
  SELECT query_id, doc_id,
         CASE WHEN g.gdoc IS NOT NULL THEN 1 ELSE 0 END::BIGINT AS label
  FROM retrieved r LEFT JOIN (SELECT query_id, doc_id, doc_id AS gdoc FROM qrels) g USING (query_id, doc_id)
  UNION ALL
  SELECT query_id, doc_id, 1::BIGINT AS label
  FROM qrels g2 LEFT JOIN (SELECT query_id, doc_id, 1 AS hit FROM retrieved) r2
  USING (query_id, doc_id) WHERE r2.hit IS NULL)
SELECT p.label, p.query_id::VARCHAR AS id1, p.doc_id::VARCHAR AS id2,
       replace(q.query_text, chr(10), ' ') AS sentence1,
       replace(d.text, chr(10), ' ') AS sentence2
FROM pairs p JOIN q ON q.query_id = p.query_id JOIN documents d ON d.doc_id = p.doc_id
ORDER BY p.query_id, p.doc_id
"""
        ),
        "content_sha": (
            "SELECT doc_id, sha256(text) AS content_sha FROM documents ORDER BY doc_id"
        ),
        "cola_rows": f"""
WITH q AS ({derived_queries_sql("documents")}),
g AS (SELECT DISTINCT query_id FROM ({derived_qrels_sql("documents")}))
SELECT replace(q.query_text, chr(10), ' ') AS sentence,
       (CASE WHEN g.query_id IS NOT NULL THEN 1 ELSE 0 END)::BIGINT AS label,
       q.query_id::VARCHAR AS id
FROM q LEFT JOIN g USING (query_id)
ORDER BY id
""",
        "brand_supplier_revenue": RL.brand_supplier_revenue_sql(),
        "submission_rows": (
            "WITH "
            + _retrieved_ctes()
            + """,
preds AS (
  SELECT r.query_id, d.source || '-->' || d.doc_id::VARCHAR || '-->' AS key
  FROM retrieved r JOIN documents d USING (doc_id))
SELECT query_id::VARCHAR AS question_id,
       string_split(key, '-->')[1] AS law_id,
       string_split(key, '-->')[2] AS article_id
FROM preds ORDER BY 1, 2, 3
"""
        ),
    }
