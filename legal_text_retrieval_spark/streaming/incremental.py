"""Incremental index maintenance with Structured Streaming.

The batch build (index/builder.py) is the source of truth; this module
keeps an index fresh as new corpus files land, Lucene-style:

- ``readStream`` over the corpus directory → ``foreachBatch``;
- each micro-batch packs its OWN posting segments (same codec, same
  layout) and appends them under ``postings/`` as a new *generation* —
  no rewrite of existing segments, so the stream only ever appends;
- new terms are appended to the dictionary with ids above the current
  max (existing term_ids are immutable);
- doc stats are appended; global scalars (N, avgdl, idf) are
  snapshotted in the manifest and refreshed by a compaction — between
  compactions, queries score with the last snapshot's statistics
  (standard trade-off for incremental inverted indexes; exactness is
  restored by a compaction, which tests verify).

The layout params (segment_doc_window, block_size, BM25) always come
from the index's own manifest (builder.read_manifest), never from the
caller, so an append or a compaction cannot pack with a window the
existing segments were not built with.  ``compact_merged`` re-packs
through the one repack kernel shared with merge and delete.

Checkpointing/restart comes free from Structured Streaming's
checkpoint dir (north_rule resumability on the streaming path).
"""

from __future__ import annotations

from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..index.builder import (
    POSTINGS_SCHEMA,
    IndexPaths,
    IndexWriter,
    _make_pack_fn,
    dfreq_from_postings,
    read_manifest,
    remap_term_ids,
    repack,
)
from ..operators import stats as ops_stats


def _append_batch(batch: DataFrame, paths: IndexPaths, text_col: str) -> None:
    spark = batch.sparkSession
    manifest, params = read_manifest(paths.root)
    avgdl = manifest["avgdl"]  # snapshot stats (refreshed at compaction)

    batch = batch.select("doc_id", text_col).withColumn(
        "content_sha", F.sha2(F.col(text_col), 256)
    )
    batch.write.mode("append").parquet(paths.docs)

    dl = ops_stats.doc_lengths(batch, text_col)
    dl.write.mode("append").parquet(paths.docstats)

    # dictionary merge: new terms appended above current max id
    dictionary = spark.read.parquet(paths.dictionary)
    max_id = dictionary.agg(F.max("term_id")).collect()[0][0]
    terms = ops_stats.document_frequencies(batch, text_col)
    new_terms = terms.join(dictionary.select("term"), "term", "left_anti")
    if new_terms.count() > 0:
        from pyspark.sql import Window

        w = Window.orderBy("term")
        add = new_terms.withColumn(
            "term_id", (F.row_number().over(w) + F.lit(max_id)).cast("long")
        ).withColumn("idf", F.lit(0.0))  # refreshed at compaction
        add.select(*[c for c in dictionary.columns]).write.mode("append").parquet(
            paths.dictionary
        )
        dictionary = spark.read.parquet(paths.dictionary)

    tf = ops_stats.term_frequencies(batch, text_col)
    flat = (
        tf.join(F.broadcast(dictionary.select("term", "term_id")), "term")
        .join(dl, "doc_id")
        .withColumn("seg_id", (F.col("doc_id") / params.segment_doc_window).cast("long"))
        .select("term_id", "seg_id", "doc_id", "tf", "dl")
    )
    packed = (
        flat.repartition(
            max(1, spark.sparkContext.defaultParallelism), "term_id", "seg_id"
        )
        .sortWithinPartitions("term_id", "seg_id", "doc_id")
        .mapInPandas(_make_pack_fn(params, avgdl), POSTINGS_SCHEMA)
    )
    packed.write.mode("append").parquet(paths.postings)


def start_incremental(
    spark: SparkSession,
    watch_dir: str,
    index_root: str,
    checkpoint_dir: str,
    text_col: str = "content",
    schema=None,
):
    """Start the file-watch stream; returns the StreamingQuery.
    The index at ``index_root`` must already exist (batch-built)."""
    paths = IndexPaths(index_root)
    src = spark.readStream.schema(
        schema or spark.read.parquet(watch_dir).schema
    ).parquet(watch_dir)
    return (
        src.writeStream.option("checkpointLocation", checkpoint_dir)
        .foreachBatch(lambda b, _eid: _append_batch(b, paths, text_col))
        .trigger(availableNow=True)
        .start()
    )


def _swap_into_place(spark: SparkSession, index_root: str, tmp_root: str) -> IndexPaths:
    import shutil

    backup = index_root.rstrip("/") + ".old"
    shutil.rmtree(backup, ignore_errors=True)
    Path(index_root).rename(backup)
    Path(tmp_root).rename(index_root)
    shutil.rmtree(backup, ignore_errors=True)
    # the same paths now hold different data: invalidate cached plans
    spark.catalog.clearCache()
    paths = IndexPaths(index_root)
    for p in (paths.dictionary, paths.docstats, paths.postings, paths.docs):
        try:
            spark.catalog.refreshByPath(p)
        except Exception:
            pass
    return paths


def compact(spark: SparkSession, index_root: str, text_col: str = "content"):
    """Full-exactness restore by REBUILD: global stats + idf + repack
    from the accumulated raw docs (a batch build over the union).
    Kept as the compaction oracle; ``compact_merged`` below produces
    the bit-identical result without the build shuffle and is the one
    to run at scale."""
    from ..index.builder import build_index

    paths = IndexPaths(index_root)
    _, params = read_manifest(index_root)
    docs = spark.read.parquet(paths.docs).select("doc_id", text_col)
    tmp_root = index_root.rstrip("/") + ".compact"
    build_index(spark, docs, tmp_root, params, text_col=text_col, resume=False)
    return _swap_into_place(spark, index_root, tmp_root)


def compact_merged(spark: SparkSession, index_root: str):
    """Exactness-restoring compaction WITHOUT the build shuffle — the
    repack kernel (index/builder._make_repack_fn, shared with merge and
    delete) over one postings dir holding base + streamed generations:

    - exact n_docs/total_tokens/avgdl from ONE docstats scan (the
      appended stats are already on disk);
    - df per term from the packed rows themselves (Σ n_docs over a
      term's segment rows — docs are disjoint across generations, a
      duplicate is a hard kernel error);
    - dictionary re-ranked to dense lexical term_ids (streamed terms
      were appended above max_id; a rebuild would rank them lexically)
      with idf + okapi ε-fold recomputed, fixing the idf=0
      placeholders;
    - one decode-merge-re-encode pass over the packed rows, maxima
      recomputed against the exact avgdl (delta generations were
      packed against snapshot stats — their stored maxima are ignored).

    Never touches the raw (term, doc) posting stream: compaction cost
    is O(packed bytes), not O(corpus tokenize+shuffle).  Bit-identical
    to ``compact`` (tests/test_streaming_incremental.py)."""
    import shutil

    paths = IndexPaths(index_root)
    _, params = read_manifest(index_root)
    tmp_root = index_root.rstrip("/") + ".compact"
    shutil.rmtree(tmp_root, ignore_errors=True)
    w = IndexWriter(spark, tmp_root, params, resume=False, compacted_from=index_root)
    avgdl = w.set_stats(*spark.read.parquet(paths.docstats).agg(F.count("*"), F.sum("dl")).collect()[0])
    # docs/docstats are already the union on disk — copy verbatim
    shutil.copytree(paths.docs, w.paths.docs)
    shutil.copytree(paths.docstats, w.paths.docstats)

    postings_all = spark.read.parquet(paths.postings)
    old_dict = spark.read.parquet(paths.dictionary)
    dictionary = w.dictionary(lambda: dfreq_from_postings(postings_all, old_dict))
    w.record_min_idf(dictionary)
    w.stage("postings", w.paths.postings, lambda: repack(
        remap_term_ids(postings_all, old_dict, dictionary), params, avgdl
    ))
    w.finish()
    return _swap_into_place(spark, index_root, tmp_root)
