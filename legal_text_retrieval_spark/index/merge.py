"""Packed-index MERGE — incremental corpus growth without a rebuild
(north_rule: "posting-list construction, merge, compression, top-k").

Merging two indexes built over disjoint doc_id sets produces an index
bit-identical to one built over the union corpus, at a fraction of the
cost: the expensive build shuffle (raw (term, doc) postings → packed
segments) never reruns.  Merge cost is

- one term-keyed join per side to realign term_ids (the packed rows are
  ~1000× smaller than the raw posting stream they encode),
- one (term_id, seg_id) range repartition of packed rows,
- the one repack kernel (builder._make_repack_fn — shared with delete
  and compaction) decoding, concatenating and re-encoding the packed
  bytes.  The stages, resume guard and manifest are builder.IndexWriter's.

Why anything must be recomputed at all:

- **term_ids** are dense lexical ranks over the vocabulary, so the
  union vocabulary reassigns them (dictionaries realigned by term
  string, df summed, idf recomputed from combined n_docs/df —
  including the okapi md5-bucketed ε-fold, which depends only on the
  merged (term, df) relation and so reproduces the rebuilt ε exactly).
- **block/segment maxima** are upper bounds on tf_part, which depends
  on the corpus-global avgdl — stale maxima from either source are NOT
  safe bounds once avgdl moves, so every group's maxima are recomputed
  (decode tfs/dls + vectorized arithmetic; no shuffle).
- **shared (term, seg) groups** (both sides contribute docs to the
  same docID window) are decoded, merged by doc_id and re-encoded; the
  codec is deterministic, so single-side groups re-encode to the exact
  bytes they already had.

The reference has no index persistence at all (it pickles a scorer
object per corpus — /root/reference/src/data_generator.py:186-199);
merge is engine-native capability beyond it.
"""

from __future__ import annotations

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from .builder import (
    IndexPaths,
    IndexWriter,
    input_fingerprint,
    read_manifest,
    remap_term_ids,
    repack,
)


def merge_indexes(
    spark: SparkSession,
    root_a: str,
    root_b: str,
    out_dir: str,
    resume: bool = True,
) -> IndexPaths:
    """Merge the packed indexes at ``root_a`` and ``root_b`` (same
    params, disjoint doc_ids — both checked) into a new index at
    ``out_dir`` that is bit-identical to a fresh build over the union
    corpus (tests/test_index_merge.py asserts table-level and
    score-level equality)."""
    pa, pb = IndexPaths(root_a), IndexPaths(root_b)
    ma, params = read_manifest(root_a)
    mb, params_b = read_manifest(root_b)
    if params_b != params:
        raise ValueError(
            f"incompatible indexes: params differ ({ma['params']!r} != {mb['params']!r})"
        )
    input_fp = input_fingerprint(
        "merge",
        root_a, ma.get("n_docs"), ma.get("total_tokens"), ma.get("input_fp"),
        root_b, mb.get("n_docs"), mb.get("total_tokens"), mb.get("input_fp"),
    )
    w = IndexWriter(spark, out_dir, params, resume, input_fp, merged_from=[root_a, root_b])
    avgdl = w.set_stats(int(ma["n_docs"]) + int(mb["n_docs"]),
                        int(ma["total_tokens"]) + int(mb["total_tokens"]))

    ds_a = spark.read.parquet(pa.docstats)
    ds_b = spark.read.parquet(pb.docstats)
    dup = ds_a.join(ds_b, "doc_id", "left_semi").count()
    if dup:
        raise ValueError(
            f"source indexes share {dup} doc_ids — merge requires disjoint docs"
        )

    docs_a = spark.read.parquet(pa.docs)
    docs_b = spark.read.parquet(pb.docs)
    # keep the UNION of columns (null-filled where a side lacks one) —
    # a rebuild over the union corpus keeps every input column, so
    # intersecting here would silently drop one-sided columns and break
    # the merged == rebuilt contract for the docs table
    w.stage(
        "docs",
        w.paths.docs,
        lambda: docs_a.unionByName(docs_b, allowMissingColumns=True),
    )
    w.stage("docstats", w.paths.docstats, lambda: ds_a.unionByName(ds_b))

    # -- dictionary: realign by term, sum df, recompute idf + term_ids
    dict_a = spark.read.parquet(pa.dictionary)
    dict_b = spark.read.parquet(pb.dictionary)
    dictionary = w.dictionary(lambda: (
        dict_a.select("term", F.col("df").alias("df_a"))
        .join(dict_b.select("term", F.col("df").alias("df_b")), "term", "full")
        .select(
            "term",
            (F.coalesce("df_a", F.lit(0)) + F.coalesce("df_b", F.lit(0))).alias("df"),
        )
    ))
    w.record_min_idf(dictionary)

    # -- postings: remap term_ids through the term string, then re-pack
    # maxima (and any shared (term, seg) groups) against the new avgdl
    w.stage("postings", w.paths.postings, lambda: repack(
        remap_term_ids(spark.read.parquet(pa.postings), dict_a, dictionary).unionByName(
            remap_term_ids(spark.read.parquet(pb.postings), dict_b, dictionary)
        ),
        params,
        avgdl,
    ))
    return w.finish()


def upsert_index(
    spark: SparkSession,
    base_root: str,
    delta_root: str,
    out_dir: str,
    resume: bool = True,
) -> IndexPaths:
    """UPSERT = delete ∘ merge: documents present in both indexes take
    the DELTA's version (re-ingested/updated docs), everything else
    unions.  Composition of the two bit-identical primitives, so the
    result equals a fresh build over (base − overlap) ∪ delta
    (tests/test_index_merge.py::test_upsert_parity).

    Overlapping doc_ids never touch the driver: the docstats semi-join
    feeds the distributed DataFrame delete path directly (per-segment
    sorted id lists, order-independent digest), so a 1e8-doc delta
    scales by adding executors.  Two packed-row passes (prune, then
    merge) — still no raw posting shuffle.  The intermediate pruned
    base index (a full index copy) is removed whether or not the merge
    succeeds; re-running the same upsert therefore re-prunes, and a
    DIFFERENT upsert into the same out_dir is caught by the manifest
    ``input_fp`` guard rather than reusing stale artifacts."""
    import shutil

    from .delete import delete_docs

    pb = IndexPaths(base_root)
    pd_ = IndexPaths(delta_root)
    overlap_df = (
        spark.read.parquet(pb.docstats)
        .join(spark.read.parquet(pd_.docstats), "doc_id", "left_semi")
        .select("doc_id")
    )
    if not overlap_df.count():
        return merge_indexes(spark, base_root, delta_root, out_dir, resume=resume)
    pruned_root = out_dir.rstrip("/") + ".base_pruned"
    try:
        delete_docs(spark, base_root, overlap_df, pruned_root, resume=resume)
        return merge_indexes(spark, pruned_root, delta_root, out_dir, resume=resume)
    finally:
        shutil.rmtree(pruned_root, ignore_errors=True)
