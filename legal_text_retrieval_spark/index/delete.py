"""Document deletion from a packed index — repack, not tombstones.

``delete_docs(spark, root, doc_ids, out_dir)`` removes a batch of
documents and produces an index bit-identical to a fresh build over
the surviving corpus (tests/test_index_delete.py), without re-running
the build shuffle:

- **postings**: one pass of the one repack kernel
  (builder._make_repack_fn — shared with merge and compaction) over
  the packed rows — decode, mask out deleted doc_ids, re-pack against
  the NEW avgdl (maxima recompute is mandatory: avgdl moves when docs
  leave).  Both input shapes group the ids into per-segment sorted
  ``_deleted`` lists joined to the packed rows on seg_id, so per-row
  state is bounded by segment_doc_window: batch deletes (iterable
  input) broadcast the lists and stay map-only; bulk deletes
  (DataFrame input, e.g. 10⁸ ids from a dedup sweep) never touch the
  driver and merge-join them.  Surviving doc_ids/deltas are
  unchanged, so segments re-encode to the bytes a rebuild would
  produce.  The filtered rows are a cached relation that the
  dictionary and postings stages share, never a staged directory.
- **dictionary**: df is recomputed FROM the filtered packed rows
  (df = Σ n_docs over a term's segments), terms with df=0 drop out,
  and term_ids are reassigned as dense lexical ranks over the
  surviving vocabulary — the same rule as build/merge, so the WAND
  kernel's per-doc fold order matches a rebuild exactly.  idf (and
  the okapi ε-fold) recompute from the new (term, df) + n_docs.
- **docs / docstats**: anti-join on the deleted set.

The stages, resume guard and manifest are builder.IndexWriter's.

The reference engine has no deletion at all (its index is a pickled
in-memory scorer rebuilt from scratch — /root/reference/src/
data_generator.py:186-199); batch deletion (takedowns, license
filtering, dedup sweeps feeding back into the index) is a first-class
need at training-corpus scale.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .builder import (
    POSTINGS_SCHEMA,
    IndexPaths,
    IndexWriter,
    _make_repack_fn,
    dfreq_from_postings,
    input_fingerprint,
    range_clustered,
    read_manifest,
    remap_term_ids,
)


def delete_docs(
    spark: SparkSession,
    root: str,
    doc_ids,
    out_dir: str,
    resume: bool = True,
) -> IndexPaths:
    """Delete ``doc_ids`` from the index at ``root`` into a new index
    at ``out_dir`` — bit-identical to a rebuild over the surviving docs.

    Two input shapes, one result:

    - **iterable of int** (batch deletes — takedowns): the
      per-segment id lists are broadcast and the postings pass stays
      map-only.
    - **single-column DataFrame** (bulk deletes — dedup-sweep feedback,
      license filtering at 10⁸ ids, upsert overlaps): never collected
      to the driver.
      The ids are grouped into per-segment sorted lists (≤
      segment_doc_window ids each, so per-row state is bounded) and
      sort-merge-joined to the packed rows on ``seg_id`` — one shuffle
      proportional to index size, no driver materialization anywhere
      in the plan.  The resume fingerprint likewise derives from an
      order-independent distributed digest (count/xxhash-sum/min/max),
      not the literal id list; the cached id set is released on return
      or failure."""
    src = IndexPaths(root)
    m, params = read_manifest(root)

    bulk = isinstance(doc_ids, DataFrame)
    if bulk:
        id_col = doc_ids.columns[0]
        del_df = (
            doc_ids.select(F.col(id_col).cast("long").alias("doc_id"))
            .distinct()
            .cache()
        )
    else:
        # from pandas: a LocalTableScan, not a Python RDD (CLAUDE.md)
        deleted = np.unique(np.asarray(list(doc_ids), dtype=np.int64))
        del_df = spark.createDataFrame(pd.DataFrame({"doc_id": deleted}), "doc_id bigint")
    filtered = None
    try:
        # order-independent delete-set digest — same recipe for both
        # input shapes, so a list delete and the equivalent DataFrame
        # delete resume each other's artifacts.  TWO independently-
        # seeded hash sums (ADVICE r5: a single sum of hashes aliases too
        # easily — two different delete sets colliding on one
        # commutative sum would wrongly resume each other's artifacts;
        # aliasing now requires a simultaneous collision on both sums
        # plus count/min/max)
        drow = del_df.agg(
            F.count("*").alias("n"),
            # decimal(38,0) sums: a BIGINT sum of 64-bit hashes overflows
            # under ANSI mode; decimal38 holds ~1e38 ≫ 9e18 × 10⁸ ids
            F.coalesce(F.sum(F.xxhash64("doc_id").cast("decimal(38,0)")), F.lit(0)).alias("h"),
            F.coalesce(
                F.sum(F.xxhash64(F.lit("lts-delete-digest-seed2"), F.col("doc_id")).cast("decimal(38,0)")),
                F.lit(0),
            ).alias("h2"),
            F.coalesce(F.min("doc_id"), F.lit(0)).alias("lo"),
            F.coalesce(F.max("doc_id"), F.lit(0)).alias("hi"),
        ).collect()[0]

        ds = spark.read.parquet(src.docstats)
        # semi-join sizing: a broadcast of a 10⁸-id bulk delete set is
        # the AQE-broadcast OOM hazard — pin sort-merge there, broadcast
        # the small batch case
        sized_del = del_df.hint("merge") if bulk else F.broadcast(del_df)
        n_dropped, tokens_dropped = (
            ds.join(sized_del, "doc_id", "left_semi")
            .agg(F.count("*"), F.coalesce(F.sum("dl"), F.lit(0)))
            .collect()[0]
        )
        n_docs = int(m["n_docs"]) - int(n_dropped)
        if n_docs <= 0:
            raise ValueError("deleting every document — refuse to build an empty index")
        input_fp = input_fingerprint(
            "delete", root, m.get("n_docs"), m.get("total_tokens"),
            "digest-v3", int(drow.n), int(drow.h), int(drow.h2), int(drow.lo), int(drow.hi),
        )
        w = IndexWriter(spark, out_dir, params, resume, input_fp,
                        deleted_from=root, n_deleted=int(n_dropped))
        avgdl = w.set_stats(n_docs, int(m["total_tokens"]) - int(tokens_dropped))

        w.stage(
            "docs",
            w.paths.docs,
            lambda: spark.read.parquet(src.docs).join(sized_del, "doc_id", "left_anti"),
        )
        w.stage("docstats", w.paths.docstats, lambda: ds.join(sized_del, "doc_id", "left_anti"))

        # -- filtered postings under OLD term_ids: the repack kernel
        # over the packed rows left-joined to per-segment sorted id
        # lists — broadcast (batch deletes: map-only) or merge-joined
        # (bulk deletes: no driver collect); cached, because the
        # dictionary and postings stages both consume it
        window = params.segment_doc_window
        seg_del = (
            del_df.groupBy(F.floor(F.col("doc_id") / window).cast("long").alias("seg_id"))
            .agg(F.sort_array(F.collect_list("doc_id")).alias("_deleted"))
        )
        filtered = (
            spark.read.parquet(src.postings)
            .join(seg_del.hint("merge") if bulk else F.broadcast(seg_del), "seg_id", "left")
            .mapInPandas(_make_repack_fn(params, avgdl), POSTINGS_SCHEMA)
            .cache()
        )

        # -- dictionary: df from the filtered rows, dropped terms vanish,
        # dense lexical term_ids reassigned; the filtered rows then only
        # need their term_ids remapped — no second repack
        old_dict = spark.read.parquet(src.dictionary)
        dictionary = w.dictionary(lambda: dfreq_from_postings(filtered, old_dict))
        w.record_min_idf(dictionary)
        w.stage("postings", w.paths.postings, lambda: range_clustered(
            remap_term_ids(filtered, old_dict, dictionary).select(*POSTINGS_SCHEMA.fieldNames())
        ))
        return w.finish()
    finally:
        if bulk:
            del_df.unpersist()
        if filtered is not None:
            filtered.unpersist()
