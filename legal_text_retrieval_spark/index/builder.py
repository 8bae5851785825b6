"""SPIMI-style inverted-index build (SURVEY.md §7 M2; north_rule).

Physical design, chosen for 10^12-file scale:

- **Posting segments, not whole posting lists.** The shuffle key is
  ``(term_id, seg_id = doc_id // segment_doc_window)``, so a group
  never exceeds the doc window regardless of term df — high-df code
  terms ("def", "import") can never create a hot reducer.  This IS the
  skew handling demanded by the north rule: the salt is the docID
  range, which (unlike a random salt) is also exactly what block-max
  WAND wants — docID-sorted, range-aligned segments that can be merged
  streamingly at query time.
- **Two-phase agg for tf** (Catalyst partial+final) — the SPIMI
  per-partition "local run" is the partial hash agg; the shuffle-merge
  by term is the final agg + segment pack.
- **Arrow-vectorized pack kernel only at the very end**: one streaming
  ``mapInPandas`` over the (term, segment)-sorted rows walks each
  group as a contiguous run (``runs``) and packs it with
  ``codec.pack_row`` — delta+varint docIDs/tfs/dls plus per-block max
  scores.  No per-row Python.
- **Checkpoint-resumable**: each stage writes Parquet with _SUCCESS;
  re-running skips completed stages (north_rule resumability).
- **Integrity**: per-row sha256(content) stored at ingest and verified
  against the source (input_hint).

Replaces the reference's in-memory dict index
(/root/reference/src/custom_rank_bm25.py:30-52) and pickle artifacts
(/root/reference/src/data_generator.py:186-199,257-258).
"""

from __future__ import annotations

import json
import time
from dataclasses import asdict, dataclass
from pathlib import Path

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..config import BM25Params, IndexParams
from ..functions.ids import DISTRIBUTED_ID_THRESHOLD, assign_dense_ids
from ..operators import stats as ops_stats
from . import codec

# Single source of truth for the on-disk index layout version: every
# IndexWriter stamps it and read_manifest requires it, so the writers
# and the readers cannot drift.  Bump on any layout change (v3 =
# min_idf + block-max layout).  EPS_FOLD names the okapi ε-floor fold
# algorithm: indexes built under the round-1 flat term-ordered fold
# carry no eps_fold key and must be rebuilt, not trusted (the
# md5-bucketed two-level fold changes ε in the last ulps, so scores
# and oracle hashes are version-incompatible).
FORMAT_VERSION = 3
EPS_FOLD = "md5-bucketed-1024-two-level"


def read_manifest(root: str, allow_legacy: bool = False) -> tuple[dict, IndexParams]:
    """The one manifest reader: (manifest, layout params) of the index
    at ``root``.  Refuses an index without the current format_version
    and eps_fold — okapi ε-fold provenance and block-max layout cannot
    be trusted there — unless ``allow_legacy``, which warns instead."""
    manifest = json.loads(Path(IndexPaths(root).manifest).read_text())
    fv = manifest.get("format_version")
    if fv != FORMAT_VERSION or manifest.get("eps_fold") != EPS_FOLD:
        msg = (
            f"index at {root}: format_version={fv!r}, eps_fold="
            f"{manifest.get('eps_fold', 'MISSING')!r} — expected "
            f"format_version={FORMAT_VERSION} with eps_fold={EPS_FOLD!r}; "
            "okapi ε-fold provenance and block-max layout cannot be trusted. "
            "Rebuild the index, or pass allow_legacy=True to open anyway."
        )
        if not allow_legacy:
            raise ValueError(msg)
        import warnings

        warnings.warn(msg, stacklevel=3)
    p = manifest["params"]
    bm25 = BM25Params(k1=p["k1"], b=p["b"], delta=p["delta"],
                      variant=p["variant"], epsilon=p["epsilon"])
    return manifest, IndexParams(block_size=int(p["block_size"]),
                                 segment_doc_window=int(p["segment_doc_window"]),
                                 bm25=bm25)


POSTINGS_SCHEMA = T.StructType(
    [
        T.StructField("build_part", T.IntegerType()),  # producing shuffle partition
        T.StructField("term_id", T.LongType()),
        T.StructField("seg_id", T.LongType()),
        T.StructField("n_docs", T.LongType()),
        T.StructField("doc_ids_enc", T.BinaryType()),
        T.StructField("tfs_enc", T.BinaryType()),
        T.StructField("dls_enc", T.BinaryType()),
        T.StructField("block_first", T.ArrayType(T.LongType())),
        T.StructField("block_last", T.ArrayType(T.LongType())),
        T.StructField("block_max_tfpart", T.ArrayType(T.DoubleType())),
        T.StructField("seg_max_tfpart", T.DoubleType()),
        T.StructField("enc_bytes", T.LongType()),
    ]
)


@dataclass
class IndexPaths:
    root: str

    @property
    def docs(self) -> str:
        return f"{self.root}/docs"

    @property
    def docstats(self) -> str:
        return f"{self.root}/docstats"

    @property
    def dictionary(self) -> str:
        return f"{self.root}/dictionary"

    @property
    def postings(self) -> str:
        return f"{self.root}/postings"

    @property
    def manifest(self) -> str:
        return f"{self.root}/manifest.json"

    @property
    def lineage(self) -> str:
        return f"{self.root}/lineage"

    @property
    def lineage_partitions(self) -> str:
        return f"{self.root}/lineage_partitions"


def _done(path: str) -> bool:
    return Path(path, "_SUCCESS").exists()


def input_fingerprint(*parts) -> str:
    """Stable hash of an incremental operation's inputs (source roots,
    deleted-id sets, source index stats).  Recorded as ``input_fp`` in
    the output manifest; merge/delete/upsert refuse to resume from an
    out_dir whose manifest carries a different fingerprint — reusing
    ``_done`` stages keyed only on out_dir would silently return the
    previous call's index (round-3 ADVICE, medium)."""
    import hashlib

    return hashlib.sha256(
        json.dumps(parts, sort_keys=True, default=str).encode()
    ).hexdigest()[:16]


class IndexWriter:
    """The one write scaffold of every index writer — build, merge,
    delete and compaction: the derived-manifest skeleton, the
    ``input_fp`` resume guard, the stage runner, the dictionary stage +
    ``min_idf`` aggregate and the final lineage + manifest write.

    Each stage writes Parquet with _SUCCESS; on resume a completed
    stage is read back instead of recomputed.  A manifest already in
    ``out_dir`` with a different ``input_fp`` (None for builds) or
    different params belongs to another operation, so every stage
    recomputes; otherwise only its stage timings carry over, never
    derived stats it would clobber with stale values."""

    def __init__(self, spark: SparkSession, out_dir: str, params: IndexParams,
                 resume: bool = True, input_fp: str | None = None, **provenance):
        self.spark = spark
        self.params = params
        self.paths = IndexPaths(out_dir)
        self.resume = resume
        self.manifest: dict = {
            "format_version": FORMAT_VERSION,
            "eps_fold": EPS_FOLD,
            "params": {**asdict(params.bm25), "block_size": params.block_size,
                       "segment_doc_window": params.segment_doc_window},
            "stages": {},
            **provenance,
        }
        if input_fp is not None:
            self.manifest["input_fp"] = input_fp
        if resume and Path(self.paths.manifest).exists():
            old = json.loads(Path(self.paths.manifest).read_text())
            if (old.get("input_fp"), old.get("params")) == (input_fp, self.manifest["params"]):
                self.manifest["stages"] = old.get("stages", {})
            else:
                self.resume = False

    def set_stats(self, n_docs: int, total_tokens: int) -> float:
        """Record the corpus scalars; returns avgdl."""
        avgdl = float(total_tokens) / n_docs
        self.manifest.update(n_docs=int(n_docs), total_tokens=int(total_tokens), avgdl=avgdl)
        return avgdl

    def stage(self, name: str, path: str, producer) -> DataFrame:
        t0 = time.time()
        stages = self.manifest["stages"]
        if not (self.resume and _done(path)):
            producer().write.mode("overwrite").parquet(path)
            stages[name] = {"path": path, "seconds": round(time.time() - t0, 3), "resumed": False}
        else:
            stages.setdefault(name, {"path": path, "seconds": 0.0})["resumed"] = True
        return self.spark.read.parquet(path)

    def dictionary(self, dfreq) -> DataFrame:
        """Stage the dictionary of the (term, df) relation ``dfreq()``
        under the recorded n_docs/total_tokens."""
        m = self.manifest
        return self.stage("dictionary", self.paths.dictionary, lambda: dictionary_from_dfreq(
            dfreq(), m["n_docs"], self.params, m["total_tokens"], self.paths.root))

    def record_min_idf(self, dictionary: DataFrame) -> None:
        # min_idf < 0 (okapi negative eps floor) invalidates WAND's
        # block-max bounds — recorded so the query path switches to
        # exhaustive decode + all-query pads (wand.query_topk)
        self.manifest["min_idf"] = float(dictionary.agg(F.min("idf")).collect()[0][0])

    def finish(self) -> IndexPaths:
        write_lineage_and_metrics(self.spark, self.paths, self.manifest, self.resume)
        return self.paths


def remap_term_ids(postings: DataFrame, old_dict: DataFrame, new_dict: DataFrame) -> DataFrame:
    """Old → new term_id through the term string: term_ids are dense
    lexical ranks, so any vocabulary change renumbers them."""
    return (
        postings.withColumnRenamed("term_id", "term_id_old")
        .join(old_dict.select(F.col("term_id").alias("term_id_old"), "term"), "term_id_old")
        .join(new_dict.select("term", "term_id"), "term")
    )


def dfreq_from_postings(postings: DataFrame, old_dict: DataFrame) -> DataFrame:
    """(term, df) of packed rows keyed by ``old_dict``'s term_ids:
    df = Σ n_docs over a term's segment rows (docs are disjoint across
    rows, so this is the term's document frequency)."""
    return (
        postings.groupBy("term_id").agg(F.sum("n_docs").alias("df"))
        .join(old_dict.select("term_id", "term"), "term_id")
        .select("term", "df")
    )


# vocab size above which term-id assignment switches from a single
# global window to the distributed range-partition + offset scheme
DISTRIBUTED_TERMID_THRESHOLD = DISTRIBUTED_ID_THRESHOLD


def assign_term_ids(
    df: DataFrame, distributed: bool | None = None, materialize_path: str | None = None
) -> DataFrame:
    """Dense lexical-order term_id over a (term, …) relation.

    Small vocabularies: one global row_number window.  Code-corpus
    vocabularies (identifiers → billions of terms) would serialize on
    that window, so above DISTRIBUTED_TERMID_THRESHOLD the assignment
    runs as range-partition by term → materialize (durable parquet when
    ``materialize_path`` is given, else a lineage-truncating local
    checkpoint — a lost partition fails instead of silently recomputing
    different range boundaries) → per-partition parallel windows +
    broadcast offsets.  The term→id mapping is identical either way
    (global lexical order): functions/ids.py.
    """
    return assign_dense_ids(df, ["term"], "term_id", distributed, materialize_path)


def runs(batches, keys: tuple, cols: tuple):
    """The one run walker of the streaming kernels (pack, repack and
    WAND): over pandas batches whose rows arrive grouped by ``keys``,
    yield ``(key, {col: ndarray})`` once per contiguous run of equal
    ``keys``.  The open run at the end of a batch is carried into the
    next one, so a run that spans batch boundaries is yielded whole."""
    names = (*keys, *cols)
    carry = None
    for pdf in batches:
        arrs = {c: pdf[c].to_numpy() for c in names}
        if carry is not None:
            arrs = {c: np.concatenate([carry[c], arrs[c]]) for c in names}
        n = len(arrs[keys[0]])
        if n == 0:
            continue
        change = np.zeros(n - 1, dtype=bool)
        for c in keys:
            change |= arrs[c][1:] != arrs[c][:-1]
        starts = np.concatenate([[0], np.flatnonzero(change) + 1])
        for a, b in zip(starts[:-1], starts[1:]):
            yield tuple(arrs[c][a] for c in keys), {c: arrs[c][a:b] for c in cols}
        carry = {c: arrs[c][starts[-1]:] for c in names}
    if carry is not None:
        yield tuple(carry[c][0] for c in keys), {c: carry[c] for c in cols}


def _pack_group(term_id, seg_id, doc_ids, tfs, dls, params: IndexParams, avgdl: float):
    """Pack one (term, segment) group of docID-sorted postings."""
    p = params.bm25
    tfp = codec.tf_part(tfs, dls, p.k1, p.b, avgdl, p.variant)
    return {
        "build_part": -1,  # stamped by _emit
        "term_id": int(term_id),
        "seg_id": int(seg_id),
        "n_docs": len(doc_ids),
        **codec.pack_row(doc_ids, tfs, dls, int(seg_id) * params.segment_doc_window,
                         params.block_size, tfp),
    }


def _emit(rows):
    """Packed-row dicts → kernel output frames of up to 256 rows, each
    stamped with the producing partition (``build_part``)."""
    from pyspark import TaskContext

    ctx = TaskContext.get()
    part = ctx.partitionId() if ctx is not None else -1
    out = []
    for row in rows:
        out.append(row)
        if len(out) == 256:
            yield pd.DataFrame(out).assign(build_part=part)
            out = []
    if out:
        yield pd.DataFrame(out).assign(build_part=part)


_GROUP = ("term_id", "seg_id")


def _make_pack_fn(params: IndexParams, avgdl: float):
    """Streaming pack kernel for mapInPandas over partitions that are
    partitioned by (term_id, seg_id) and sorted by (term_id, seg_id,
    doc_id): each group is one contiguous run (``runs``).  No pandas
    per-group frames, no per-group sort — pure numpy slicing."""

    def pack(batches):
        return _emit(
            _pack_group(*key, g["doc_id"], g["tf"], g["dl"], params, avgdl)
            for key, g in runs(batches, _GROUP, ("doc_id", "tf", "dl"))
        )

    return pack


def _make_repack_fn(params: IndexParams, avgdl: float):
    """The one repack kernel: merge, delete and compaction rewrite
    packed rows only through it.  Rows arrive grouped by contiguous
    (term_id, seg_id) — merge/compaction range-partition and sort them,
    a delete's rows are one group each.  Each row is decoded and its
    deleted doc_ids — its sorted ``_deleted`` list (a delete; null or
    no column = none) — dropped by one searchsorted membership test; a
    group's rows are concatenated, doc_id-sorted when there is more
    than one (a duplicate doc_id is a hard error: sources must cover
    disjoint docs) and re-packed with maxima against ``avgdl``.  Fully
    deleted groups emit nothing."""
    window = params.segment_doc_window
    cols = ("doc_ids_enc", "tfs_enc", "dls_enc", "_deleted")

    def repack_group(key, g) -> list:
        parts = []
        for ids_enc, tfs_enc, dls_enc, dels in zip(*(g[c] for c in cols)):
            d, tf, dl = codec.unpack_row(ids_enc, tfs_enc, dls_enc, int(key[1]) * window)
            if dels is not None and len(dels):
                keep = dels[np.minimum(np.searchsorted(dels, d), len(dels) - 1)] != d
                d, tf, dl = d[keep], tf[keep], dl[keep]
            parts.append((d, tf, dl))
        d, tf, dl = (np.concatenate(c) for c in zip(*parts))
        if len(parts) > 1:
            order = np.argsort(d, kind="stable")
            d, tf, dl = d[order], tf[order], dl[order]
        if len(d) > 1 and not bool(np.all(np.diff(d) > 0)):
            raise ValueError(
                f"duplicate doc_id in merged group (term_id={key[0]}, "
                f"seg_id={key[1]}): source indexes must cover disjoint docs"
            )
        return [_pack_group(*key, d, tf, dl, params, avgdl)] if len(d) else []

    def kernel(batches):
        batches = (b if "_deleted" in b else b.assign(_deleted=None) for b in batches)
        return _emit(row for key, g in runs(batches, _GROUP, cols) for row in repack_group(key, g))

    return kernel


def range_clustered(rows: DataFrame) -> DataFrame:
    """Packed rows range-partitioned by (term_id, seg_id) and sorted
    within partitions: every group is one contiguous run, and the
    output is term_id-clustered for parquet min/max pruning."""
    return rows.repartitionByRange(
        max(1, rows.sparkSession.sparkContext.defaultParallelism), "term_id", "seg_id"
    ).sortWithinPartitions("term_id", "seg_id")


def repack(rows: DataFrame, params: IndexParams, avgdl: float) -> DataFrame:
    """The merge/compaction plan: range-partition the PRE-kernel packed
    rows, then run the repack kernel once.  A range partitioner after
    the kernel would sample its child plan and so run the kernel twice;
    sampling here re-runs only the map-side remap joins (guide §2.4)."""
    return range_clustered(
        rows.select("term_id", "seg_id", "doc_ids_enc", "tfs_enc", "dls_enc")
    ).mapInPandas(_make_repack_fn(params, avgdl), POSTINGS_SCHEMA)


def dictionary_from_dfreq(
    dfreq: DataFrame,
    n_docs: int,
    params: IndexParams,
    total_tokens: int,
    out_dir: str,
) -> DataFrame:
    """(term, df) → (term, df, idf, term_id): variant idf (okapi with
    the md5-bucketed ε-fold) + dense lexical term_id.  Every index
    writer stages its dictionary through it (``IndexWriter.dictionary``):
    merge, delete and compaction recompute idf from their (term, df)
    relation + n_docs, so their output == a rebuild bit-for-bit."""
    if params.bm25.variant == "plus":
        idf = dfreq.withColumn("idf", F.expr(f"ln(CAST({n_docs + 1} AS DOUBLE) / df)"))
    else:
        raw = dfreq.withColumn(
            "idf0",
            F.expr(
                f"ln(CAST({n_docs} - df AS DOUBLE) + CAST(0.5 AS DOUBLE)) "
                f"- ln(df + CAST(0.5 AS DOUBLE))"
            ),
        )
        from ..operators.bm25 import _ordered_mean_idf0

        eps = params.bm25.epsilon * _ordered_mean_idf0(raw)
        idf = raw.withColumn(
            "idf", F.expr(f"CASE WHEN idf0 < 0 THEN CAST({eps!r} AS DOUBLE) ELSE idf0 END")
        ).drop("idf0")
    # vocab ≤ total_tokens, already measured by the docstats stage:
    # small corpora skip the auto-mode probe job entirely
    distributed = False if total_tokens <= DISTRIBUTED_TERMID_THRESHOLD else None
    return assign_term_ids(
        idf, distributed=distributed, materialize_path=f"{out_dir}/_termid_ranged"
    )


def write_lineage_and_metrics(
    spark: SparkSession, paths: IndexPaths, manifest: dict, resume: bool = True
) -> None:
    """Lineage + metrics over the packed postings table (north_rule:
    postings/sec, bytes, skew ratio, per-partition records) and the
    final manifest write.  ``IndexWriter.finish`` of every writer."""
    postings = spark.read.parquet(paths.postings)

    # max_group (largest (term, seg) group) rides along in lineage so
    # every whole-index metric below derives from these two SMALL tables
    # — the former extra full-postings aggregation job is gone (guide
    # §1.2: don't compute things twice).  Freshly computed tables are
    # cached so the metrics aggregate reuses the write's
    # materialization instead of re-reading the parquet it just wrote.
    fresh_lineage = not (resume and _done(paths.lineage))
    fresh_lp = not (resume and _done(paths.lineage_partitions))
    if fresh_lineage:
        lineage = postings.groupBy("term_id").agg(
            F.sum("n_docs").alias("postings"),
            F.sum("enc_bytes").alias("bytes"),
            F.count("*").alias("segments"),
            F.max("n_docs").alias("max_group"),
        ).cache()
    else:
        lineage = spark.read.parquet(paths.lineage)
    if fresh_lp:
        # per shuffle-partition record of the pack stage: which worker
        # partition produced how many groups/postings/bytes
        lineage_partitions = postings.groupBy("build_part").agg(
            F.count("*").alias("groups"),
            F.sum("n_docs").alias("postings"),
            F.sum("enc_bytes").alias("bytes"),
            F.min("term_id").alias("first_term_id"),
            F.max("term_id").alias("last_term_id"),
        ).cache()
    else:
        lineage_partitions = spark.read.parquet(paths.lineage_partitions)

    # the two bookkeeping writes are independent scans of the packed
    # table — overlap them (guide §2.6)
    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(max_workers=2) as pool:
        fa = pool.submit(
            lambda: fresh_lineage
            and lineage.write.mode("overwrite").parquet(paths.lineage)
        )
        fb = pool.submit(
            lambda: fresh_lp
            and lineage_partitions.write.mode("overwrite").parquet(
                paths.lineage_partitions
            )
        )
        fa.result()
        fb.result()
    # ONE combined metrics job over the (vocab-sized) lineage table plus
    # the (partition-count-sized) lineage_partitions table — the packed
    # postings themselves are never re-aggregated, and fresh tables are
    # served from the cache the writes just filled
    agg = (
        lineage.agg(
            F.sum("postings"),
            F.sum("bytes"),
            F.count("*"),
            F.sum("segments"),
            F.max("max_group"),
            F.max("postings"),
            F.avg("postings"),
        )
        .crossJoin(
            lineage_partitions.agg(F.count("*").alias("n_build_partitions"))
        )
        .collect()[0]
    )
    (total_postings, total_bytes, vocab, n_groups,
     max_group, max_term_postings, mean_term_postings, n_build_partitions) = agg
    mean_group = total_postings / max(1, n_groups)
    n_build_partitions = int(n_build_partitions)
    if fresh_lineage:
        lineage.unpersist()
    if fresh_lp:
        lineage_partitions.unpersist()
    build_secs = sum(s.get("seconds", 0) for s in manifest["stages"].values())
    n_docs = manifest["n_docs"]
    manifest.update(
        {
            "vocab_size": int(vocab),
            "total_postings": int(total_postings),
            "bytes_compressed": int(total_bytes),
            "bytes_per_posting": round(total_bytes / max(1, total_postings), 3),
            # skew before segment-salting (per-term posting-list sizes) vs
            # after (per-shuffle-group sizes, hard-bounded by the window)
            "skew_ratio_term": round(max_term_postings / max(1e-9, mean_term_postings), 2),
            "skew_ratio_group": round(max_group / max(1e-9, mean_group), 2),
            "max_term_postings": int(max_term_postings),
            "max_group_postings": int(max_group),
            "build_seconds": round(build_secs, 3),
            "n_build_partitions": n_build_partitions,
            "docs_per_sec": round(n_docs / max(1e-9, build_secs), 1),
            "postings_per_sec": round(total_postings / max(1e-9, build_secs), 1),
        }
    )
    Path(paths.manifest).write_text(json.dumps(manifest, indent=2))


def build_index(
    spark: SparkSession,
    docs: DataFrame,
    out_dir: str,
    params: IndexParams | None = None,
    text_col: str = "content",
    resume: bool = True,
) -> IndexPaths:
    """Build (or resume building) the full index under ``out_dir``.

    ``docs`` must carry a dense int64 ``doc_id`` (see
    sources.corpus.load_corpus for assignment from the Iceberg shape).
    """
    params = params or IndexParams()
    w = IndexWriter(spark, out_dir, params, resume)
    paths, stage = w.paths, w.stage

    # -- ingest parallelism: a handful of big input files must not
    # serialize the tokenize stage; spread to 2× total cores up front.
    # (capture cached-ness of the CALLER's relation first — the
    # repartition wrapper below reports StorageLevel NONE even when its
    # child is an InMemoryRelation)
    _src_lvl = docs.storageLevel
    src_cached = _src_lvl.useMemory or _src_lvl.useDisk
    target_parts = spark.sparkContext.defaultParallelism * 2
    if docs.rdd.getNumPartitions() < target_parts:
        docs = docs.repartition(target_parts)

    # -- stage: docs (+ sha256 integrity column, input_hint invariant),
    # and stage: termfreq — the SPIMI local runs.  Tokenize + explode
    # exactly ONCE; docstats, dictionary and postings all derive from
    # termfreq.  dl is computed AT tokenize time (size of the token
    # array — identical to Σ tf per doc, empty-token terms included) and
    # carried through the (doc_id, term) aggregation, so the postings
    # stage needs NO doc_id-keyed join against docstats (guide §2.4:
    # one less corpus-volume exchange) — the extra 8 bytes per grouped
    # row is the whole cost.
    #
    # When the caller's source relation is CACHED, the two stages are
    # independent (evaluating an InMemoryRelation twice costs nothing)
    # and run overlapped from a 2-thread pool (guide §2.6).  For
    # uncached/computed sources (chunked_corpus's explode union, a raw
    # corpus scan at 100 TB) termfreq instead reads the docs stage's
    # parquet back, so the source is evaluated exactly once.
    from concurrent.futures import ThreadPoolExecutor

    docs_cols = [c for c in ("doc_id", "repo", "path", "commit", "lang", text_col) if c in docs.columns]

    def make_docs():
        return docs.select(*docs_cols).withColumn(
            "content_sha", F.sha2(F.col(text_col), 256)
        )

    # `background` holds stage writes NOTHING downstream consumes (the
    # docs table feeds only integrity checks) — they run off the
    # critical path and are joined before the manifest is finalized.
    pool = ThreadPoolExecutor(max_workers=2)
    background = []
    try:
        if src_cached:
            background.append(pool.submit(stage, "docs", paths.docs, make_docs))
            termfreq = stage(
                "termfreq",
                f"{out_dir}/termfreq",
                lambda: ops_stats.term_frequencies_with_dl(
                    docs.select("doc_id", text_col), text_col
                ),
            )
        else:
            docs_idx = stage("docs", paths.docs, make_docs)
            termfreq = stage(
                "termfreq",
                f"{out_dir}/termfreq",
                lambda: ops_stats.term_frequencies_with_dl(docs_idx, text_col),
            )

        # -- stage: docstats (dl is constant within a doc_id group, so
        # max == the value); the n_docs/total_tokens scalars come from
        # one count/sum over its small output
        docstats = stage(
            "docstats",
            paths.docstats,
            lambda: termfreq.groupBy("doc_id").agg(F.max("dl").alias("dl")),
        )
        n_docs, total_tokens = docstats.agg(F.count("*"), F.sum("dl")).collect()[0]
        avgdl = w.set_stats(n_docs, total_tokens)

        # -- stage: dictionary (term → dense term_id in lexical order + df + idf)
        dictionary = w.dictionary(lambda: termfreq.groupBy("term").agg(F.count("*").alias("df")))
        # -- stage: postings (segment-partitioned, packed, block-max metadata)
        # Pack-shuffle partition count scales with posting volume
        # (total_tokens is an exact upper bound on postings — Σ dl is
        # already in hand), bounding per-partition sort/pack state instead
        # of pinning it to core count: at 3.2M docs the 149M-posting pack
        # through defaultParallelism partitions needed a 24g heap; sized
        # partitions keep the per-task working set flat as the corpus
        # grows.  Same sizing rule as operators/dedup.py
        # (dedup_shuffle_partitions); never below the core count.
        pack_parts = int(
            min(
                4096,
                max(
                    max(1, spark.sparkContext.defaultParallelism),
                    int(total_tokens) // 4_000_000 + 1,
                ),
            )
        )

        def make_postings():
            flat = (
                termfreq.join(F.broadcast(dictionary.select("term", "term_id")), "term")
                .withColumn("seg_id", (F.col("doc_id") / params.segment_doc_window).cast("long"))
                .select("term_id", "seg_id", "doc_id", "tf", "dl")
            )
            # RANGE-partition by group key, sort within partitions, stream-
            # pack: ONE shuffle, contiguous runs, no pandas per-group
            # overhead, and the output is already term_id-clustered for
            # parquet row-group min/max pruning at query time.  The former
            # shape (hash repartition → pack → repartitionByRange) paid a
            # second full exchange of the packed rows AND ran the pack
            # kernel TWICE, because RangePartitioner samples its child plan
            # — sampling here re-runs only the map-side scan+broadcast-join
            # (measured r7: postings stage 0.98 s → 0.60 s at sf0.1, and
            # one packed-volume exchange removed at every scale).
            return (
                flat.repartitionByRange(pack_parts, "term_id", "seg_id")
                .sortWithinPartitions("term_id", "seg_id", "doc_id")
                .mapInPandas(_make_pack_fn(params, avgdl), POSTINGS_SCHEMA)
            )

        # the tiny min_idf aggregate is independent of the pack shuffle,
        # so it overlaps the postings stage (guide §2.6)
        background.append(pool.submit(w.record_min_idf, dictionary))
        stage("postings", paths.postings, make_postings)
        # join every background job (docs write, min_idf)
        # before the manifest is finalized — a failure there fails the
        # build here
        for f in background:
            f.result()
    finally:
        pool.shutdown(wait=True)

    # -- lineage + metrics (north_rule: postings/sec, bytes, skew ratio,
    # per-partition records)
    return w.finish()


def verify_integrity(spark: SparkSession, paths: IndexPaths, source: DataFrame, text_col: str = "content") -> int:
    """sha256(content) equality vs the source table, every row
    (input_hint).  Returns the number of violating rows (0 = pass)."""
    idx = spark.read.parquet(paths.docs).select("doc_id", "content_sha")
    src = source.select("doc_id", F.sha2(F.col(text_col), 256).alias("src_sha"))
    joined = idx.join(src, "doc_id", "full")
    return joined.filter(
        F.col("content_sha").isNull()
        | F.col("src_sha").isNull()
        | (F.col("content_sha") != F.col("src_sha"))
    ).count()
