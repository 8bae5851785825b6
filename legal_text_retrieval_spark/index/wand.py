"""Top-k BM25 query engine over the packed index — block-max WAND.

Plan shape (all-queries-at-once, SURVEY.md §2.4 Q1/Q5):

    queries → tokenize → (query_id, term, qtf)
            → broadcast-join dictionary → ONE driver collect of
              (qid, query_id, term, qtf, term_id, idf, df)
    driver:   per-query δ-constant (codec.fold_query), query terms,
              term_id set, and can-pad (max df of its terms < k)
    postings.filter(term_id IN (...))           ← parquet min/max pruning
            → broadcast-join query terms (a local table)
            → repartition + sort by (qid, seg_id, term_id)
            → mapInPandas(streaming WAND kernel, one run per (qid, seg_id))
            → global window top-k merge → + per-query δ-constant
            → δ-padding, planned only when some query can pad

The kernel is Arrow-vectorized NumPy; it prunes at block granularity
using (block_first, block_last, block_max_tfpart) metadata and is
**bit-identical** to exhaustive scoring by construction:

- terms are processed in term_id (= lexical term) order, so surviving
  docs accumulate contributions in exactly the order the relational
  path folds them;
- any decoded block's docs all become candidates, and blocks
  intersecting candidates are always decoded, so a surviving doc's
  score is complete;
- a block is skipped only when block_ub + remaining-terms-ub < θ
  (θ = current k-th partial score), which proves every doc first seen
  in it can never reach the true top-k.

Correctness-fallback ``mode="exhaustive"`` decodes everything; tests
assert bitwise equality of the two modes (SURVEY.md §5.3).
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..config import BM25Params, IndexParams
from . import codec
from .builder import IndexPaths, read_manifest, runs

# max distinct query term_ids pushed down as an .isin literal list
# (parquet min/max pruning); larger batches use a broadcast semi-join
TERM_ID_PUSHDOWN_LIMIT = 4096

_QTERMS_SCHEMA = T.StructType(
    [
        T.StructField("qid", T.StringType()),
        T.StructField("term_id", T.LongType()),
        T.StructField("qtf", T.LongType()),
        T.StructField("idf", T.DoubleType()),
    ]
)

_KERNEL_SCHEMA = T.StructType(
    [
        T.StructField("qid", T.StringType()),
        T.StructField("doc_id", T.LongType()),
        T.StructField("ms", T.DoubleType()),
        T.StructField("n_cand", T.LongType()),
    ]
)


@dataclass
class FulltextIndex:
    spark: SparkSession
    paths: IndexPaths
    manifest: dict
    index_params: IndexParams

    @classmethod
    def load(
        cls, spark: SparkSession, root: str, allow_legacy: bool = False
    ) -> "FulltextIndex":
        paths = IndexPaths(root)
        manifest, index_params = read_manifest(root, allow_legacy)
        # the index dirs may have been rewritten in-place (compaction,
        # resumed builds) — drop any stale cached relations for them
        for p in (paths.dictionary, paths.docstats, paths.postings, paths.docs):
            try:
                spark.catalog.refreshByPath(p)
            except Exception:
                pass
        idx = cls(spark, paths, manifest, index_params)
        # opening an index hydrates its metadata tables (dictionary,
        # docstats) into the cache eagerly — every query needs them, and
        # serving-style loads (index/serving.py) have always done the
        # equivalent.  One small job at open instead of inside the first
        # query's critical path.
        idx.dictionary().count()
        idx.docstats().count()
        return idx

    @property
    def params(self) -> BM25Params:
        return self.index_params.bm25

    _dict_cache: DataFrame | None = None
    _docstats_cache: DataFrame | None = None

    @staticmethod
    def _pinned(df: DataFrame) -> DataFrame:
        """Re-register the cache if a query_scope / clearCache dropped
        it (storageLevel reads NONE then) — keeps long-lived index
        handles valid across batch-scoped cache lifecycles."""
        lvl = df.storageLevel
        if not (lvl.useMemory or lvl.useDisk):
            df.cache()
        return df

    def dictionary(self) -> DataFrame:
        if self._dict_cache is None:
            self._dict_cache = self.spark.read.parquet(self.paths.dictionary).cache()
        return self._pinned(self._dict_cache)

    _postings_df: DataFrame | None = None

    def postings(self) -> DataFrame:
        """The postings relation.  Only the DataFrame handle is kept,
        not the data, so repeated batches skip read.parquet's one-task
        schema-inference job; load() refreshes the paths and returns a
        new instance, so a handle never outlives an open."""
        if self._postings_df is None:
            self._postings_df = self.spark.read.parquet(self.paths.postings)
        return self._postings_df

    def docstats(self) -> DataFrame:
        if self._docstats_cache is None:
            self._docstats_cache = self.spark.read.parquet(self.paths.docstats).cache()
        return self._pinned(self._docstats_cache)


def _make_group_fn(
    params: BM25Params, avgdl: float, window: int, k: int, prune: bool, block_size: int = 128
):
    """The per-(qid, segment) WAND evaluation on raw arrays, called by
    the streaming kernel once per group.  The group's rows must already
    be in ascending term_id order (fold order == lexical term order)."""
    p = params
    bs = block_size

    def group_topk(seg_id, g):
        """``g`` holds the group's columns (``_RUN_COLS``), one entry per
        query term.  Returns (doc_ids, scores, n_cand) of the
        segment-local top-k, or None when no candidate survives.

        Dense span-local accumulator (the serving-mode scatter-add
        trick, index/serving.py): scores/seen are arrays indexed by
        doc_id − base and sized by the group's doc span — base up to
        the highest ``block_last`` of its rows (each row's block_last
        is ascending, so its last entry is the row's highest doc id) —
        not by the segment window, so every per-term pass costs
        O(docs the segment holds) rather than O(window).  A term merges
        in O(postings).  Bit-identity is preserved: each (doc, term)
        contributes exactly one float add, applied in ascending term
        order (tests/test_wand_kernel_property.py,
        test_index_engine.py)."""
        base = int(seg_id) * window
        span = max(int(bl[-1]) for bl in g["block_last"]) - base + 1
        scores = np.zeros(span, dtype=np.float64)
        seen = np.zeros(span, dtype=bool)
        n_seen = 0
        weights = g["qtf"] * g["idf"]
        # bound of the terms after i: suffix sums clamped at ≥ 0 (a
        # running subtraction can drift below the true tail)
        rem_afters = np.maximum(np.cumsum((weights * g["seg_max_tfpart"])[::-1])[::-1], 0.0)
        rem_afters = np.append(rem_afters[1:], 0.0)

        for i in range(len(weights)):
            w = weights[i]
            rem_after = rem_afters[i]
            # θ less a 1e-12 relative slack: a block holding a doc that
            # ties θ is never skipped over a rounding difference
            theta = (
                float(np.partition(scores[seen], n_seen - k)[n_seen - k]) * (1 - 1e-12)
                if prune and n_seen >= k
                else -np.inf
            )
            bf = np.asarray(g["block_first"][i], dtype=np.int64)
            blast = np.asarray(g["block_last"][i], dtype=np.int64)
            bmax = np.asarray(g["block_max_tfpart"][i], dtype=np.float64)
            # decode-block decision (vectorized over blocks)
            if prune and theta > -np.inf and n_seen:
                # any seen doc inside [bf, bl]?  prefix-sum range test
                cs = np.concatenate([[0], np.cumsum(seen)])
                intersects = cs[blast - base + 1] - cs[bf - base] > 0
                keep = intersects | (w * bmax + rem_after >= theta)
            elif prune and theta > -np.inf:
                keep = w * bmax + rem_after >= theta
            else:
                keep = np.ones(len(bf), dtype=bool)
            if not keep.any():
                continue
            ids, tfs, dls = codec.unpack_row(
                g["doc_ids_enc"][i], g["tfs_enc"][i], g["dls_enc"][i], base
            )
            if not keep.all():
                # blocks are fixed-size except the last — expand the
                # per-block mask with the TRUE build block size (an
                # inferred size would misalign on a short tail block)
                sel = np.repeat(keep, bs)[: len(ids)]
                ids, tfs, dls = ids[sel], tfs[sel], dls[sel]
            contrib = w * codec.tf_part(tfs, dls, p.k1, p.b, avgdl, p.variant)
            # dense scatter-add: one add per (doc, term), term order
            slots = ids - base
            scores[slots] += contrib
            seen[slots] = True
            n_seen = int(seen.sum())

        if n_seen == 0:
            return None
        cand_ids = np.flatnonzero(seen) + base
        cand_scores = scores[seen]
        sel = codec.topk_order(cand_ids, cand_scores, k)
        return cand_ids[sel], cand_scores[sel], n_seen

    return group_topk


_RUN_COLS = ("qtf", "idf", "seg_max_tfpart", "block_first", "block_last",
             "block_max_tfpart", "doc_ids_enc", "tfs_enc", "dls_enc")


def _make_stream_kernel(
    params: BM25Params, avgdl: float, window: int, k: int, prune: bool, block_size: int = 128
):
    """mapInPandas form: the joined relation arrives hash-partitioned
    by (qid, seg_id) and sorted by (qid, seg_id, term_id), so groups
    are contiguous runs, walked by the engine's one run walker
    (``builder.runs``) like the pack and repack kernels.  Streaming
    runs instead of applyInPandas avoids Spark's per-group overhead."""
    group_topk = _make_group_fn(params, avgdl, window, k, prune, block_size)

    def kernel(batches):
        out: list[pd.DataFrame] = []
        for (qid, seg_id), g in runs(batches, ("qid", "seg_id"), _RUN_COLS):
            res = group_topk(seg_id, g)
            if res is None:
                continue
            ids, scores, n_cand = res
            out.append(pd.DataFrame(
                {"qid": qid, "doc_id": ids, "ms": scores, "n_cand": np.int64(n_cand)}
            ))
            if len(out) == 256:
                yield pd.concat(out, ignore_index=True)
                out = []
        if out:
            yield pd.concat(out, ignore_index=True)

    return kernel


def query_topk(
    index: FulltextIndex,
    queries: DataFrame,
    k: int,
    query_col: str = "query_text",
    mode: str = "wand",
    score_round: int | None = None,
) -> DataFrame:
    """(query_id, doc_id, rank, score) — rank-identical to the
    reference scorer (argsort-parity tie-break, δ-padding for queries
    with fewer than k matching docs).  A null ``query_text`` has no
    tokens: under ``plus`` it gets no δ-constant and returns no rows,
    under ``okapi`` it returns k pad rows at score 0.  An empty or
    punctuation-only text tokenizes to [''], a one-term query."""
    from ..functions.numeric import round_sql
    from ..functions.text import tokenize

    spark = index.spark
    params = index.params
    avgdl = index.manifest["avgdl"]
    window = index.index_params.segment_doc_window

    # ONE driver collect prepares the batch: the engine tokenizer runs
    # in Spark, joined to the cached dictionary, one row per (query,
    # term); explode_outer keeps a null-text query as one term-less row
    dict_cols = index.dictionary().select("term", "term_id", "idf", "df")
    rows = (
        queries.select(
            F.col("query_id").cast("string").alias("qid"),
            "query_id",
            F.explode_outer(tokenize(F.col(query_col))).alias("term"),
        )
        .groupBy("qid", "query_id", "term")
        .agg(F.count("*").alias("qtf"))
        .join(F.broadcast(dict_cols), "term", "left")
        .collect()
    )
    by_query: dict = {}
    for r in rows:
        terms = by_query.setdefault((r.qid, r.query_id), {})
        if r.term is not None:
            terms[r.term] = r
    qterm_rows, qconst_rows, ids = [], [], set()
    can_pad = False
    for (qid, query_id), terms in by_query.items():
        if not terms and params.variant == "plus":
            continue  # null text: no δ-constant, so no rows (docstring)
        # scoring terms leave out idf == 0 (okapi df == n/2) like the
        # relational plan (bm25.py: idf != 0): they would mark docs
        # matched, and w == 0 invalidates the block-skip bound
        idf = {t: r.idf for t, r in terms.items() if r.idf is not None}
        qconst, order = codec.fold_query(params, {t: r.qtf for t, r in terms.items()}, idf)
        qconst_rows.append((qid, query_id, qconst))
        qterm_rows += [(qid, terms[t].term_id, terms[t].qtf, idf[t]) for t in order]
        ids.update(terms[t].term_id for t in order)
        # every doc in a scoring term's postings is matched, so a query
        # with a term of df ≥ k cannot have a deficit
        can_pad |= max((terms[t].df for t in order), default=0) < k
    # from pandas, createDataFrame plans a LocalTableScan; a list of
    # tuples becomes a Python RDD with per-batch broadcasts (CLAUDE.md)
    qterms = spark.createDataFrame(
        pd.DataFrame(qterm_rows, columns=["qid", "term_id", "qtf", "idf"]), _QTERMS_SCHEMA
    )
    qconst_schema = T.StructType(
        [
            _QTERMS_SCHEMA["qid"],
            queries.schema["query_id"],
            T.StructField("qconst", T.DoubleType()),
        ]
    )
    qconst = spark.createDataFrame(
        pd.DataFrame(qconst_rows, columns=qconst_schema.fieldNames()), qconst_schema
    )

    # okapi negative-ε corner (mean idf0 < 0: tiny-vocab/repetitive
    # corpora): WAND's block-max bounds assume non-negative weights
    # (w·block_max is only an upper bound for w ≥ 0) and matched docs
    # can score BELOW the unmatched 0, so pads may outrank matched.
    # Handled exactly: pruning off (exhaustive decode — still the
    # compressed-index path), pads generated for EVERY query and
    # re-ranked together with matched rows.  Indexes built before
    # min_idf was recorded must not silently default to "safe": compute
    # it from the (cached, small) dictionary instead.
    negative_weights = False
    if params.variant == "okapi":
        min_idf = index.manifest.get("min_idf")
        if min_idf is None:
            min_idf = index.dictionary().agg(F.min("idf")).collect()[0][0]
        negative_weights = min_idf < 0

    # term_id pruning: one IN literal list buys parquet row-group
    # min/max pruning (one SQL string — Column.isin costs a py4j call
    # per literal); above the guard an unbounded literal list is a scale
    # hazard, so switch to a broadcast LEFT SEMI join (same rows)
    if len(ids) <= TERM_ID_PUSHDOWN_LIMIT:
        post = index.postings().where(
            F.expr(f"term_id IN ({','.join(map(str, sorted(ids)))})") if ids else F.lit(False)
        )
    else:
        post = index.postings().join(
            F.broadcast(qterms.select("term_id").distinct()), "term_id", "left_semi"
        )
    joined = post.join(F.broadcast(qterms), "term_id")

    # negative-weight mode must emit EVERY candidate from the kernel
    # (k_eff = window): the pad anti-join below treats "not in local"
    # as unmatched, and a matched doc dropped by a segment-local top-k
    # would be resurrected as a score-qconst pad — wrong when its true
    # score is below qconst.
    kernel = _make_stream_kernel(
        params,
        avgdl,
        window,
        window if negative_weights else k,
        prune=(mode == "wand" and not negative_weights),
        block_size=index.index_params.block_size,
    )
    # hash-partition by group key + sort within partitions: groups are
    # contiguous term_id-sorted runs for the streaming kernel — ONE
    # shuffle, no per-group pandas overhead (same layout as the pack
    # stage).  local top-k rows are tiny (≤ queries × segments × k).
    # explicit partition count: the kernel is CPU-heavy per input byte,
    # so AQE's size-based coalescing (which a countless repartition
    # would enable) collapses a small-but-compute-dense batch onto one
    # or two cores — measured r7: batch 1.1 s → 2.7 s.  Keep one
    # partition per core and eat the mostly-empty Python round-trips on
    # tiny batches instead.
    spark_parallelism = max(1, spark.sparkContext.defaultParallelism)
    local = (
        joined.repartition(spark_parallelism, "qid", "seg_id")
        .sortWithinPartitions("qid", "seg_id", "term_id")
        .mapInPandas(kernel, _KERNEL_SCHEMA)
    )
    # δ-padding is planned only when some query can pad (always with
    # negative weights: unmatched docs, score qconst, can outrank
    # matched ones).  Otherwise the plan is just `matched` — no probe
    # job, bit-identical since the pad branch would be empty.
    pads_planned = negative_weights or can_pad
    if pads_planned:
        # the merge window, the deficit count and the pad anti-join
        # reuse one kernel materialization
        local = local.cache()

    # per-query relations (qconst, counts, pad_queries) are one row per
    # query — broadcast them explicitly so the planner never sort-merges
    # a tiny side (post-aggregation estimates are unreliable; guide §3.1)
    w = Window.partitionBy("qid").orderBy(F.desc("ms"), F.desc("doc_id"))
    matched = (
        local.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .join(F.broadcast(qconst), "qid")
        .select(
            "qid",
            "query_id",
            "doc_id",
            "rank",
            (F.col("qconst") + F.col("ms")).alias("score"),
        )
    )
    if not pads_planned:
        out = matched.select("query_id", "doc_id", "rank", "score")
        if score_round is not None:
            out = out.withColumn("score", F.expr(round_sql("score", score_round)))
        return out

    # matched-doc deficit per query (0 rows or < k candidates → pad).
    # Row count is the right statistic: when the true matched total is
    # < k every segment emits ALL its candidates (rows == matched), and
    # when it's ≥ k the row count is ≥ k so no padding triggers.
    # (Σ n_cand over rows would double-count — each row repeats its
    # segment's candidate count.)
    counts = local.groupBy("qid").agg(F.count("*").alias("n_matched"))
    need = (
        qconst.join(F.broadcast(counts), "qid", "left")
        .fillna({"n_matched": 0})
        .withColumn("deficit", F.greatest(F.lit(0), F.lit(k) - F.col("n_matched")))
    )
    pad_queries = need if negative_weights else need.filter(F.col("deficit") > 0)
    pad_queries = pad_queries.select("qid", "query_id", "qconst")
    # unmatched docs all score exactly qconst; reference argsort puts
    # higher docIDs first among ties → the k highest unmatched ids are
    # the only pad candidates that can ever appear in the top k.
    # Those k ids live inside the global top-(k + m) doc_ids, where m
    # bounds the query's matched docs within that prefix — so the pad
    # branch crosses a POOL of that size, never the full docstats
    # (which would be Q×D when every query pads, e.g. negative-ε).
    # Deficit mode: n_matched < k, so top-(2k−1) always suffices.
    # Negative-weight mode: m ≤ max matched rows over pad queries (one
    # tiny agg over the cached kernel output); if that pool would reach
    # the whole corpus, fall back to the unsorted full table.
    all_matched = local.select("qid", "doc_id")
    if negative_weights:
        max_matched = need.agg(F.max("n_matched")).collect()[0][0] or 0
        pool_n = k + int(max_matched)
    else:
        # deficit mode: pad queries have < k matched rows each, so the
        # anti-join's right side shrinks to |pad_queries|·(k−1) once
        # semi-filtered — broadcast-safe at any scale
        all_matched = F.broadcast(
            all_matched.join(
                F.broadcast(pad_queries.select("qid")), "qid", "left_semi"
            )
        )
        pool_n = 2 * k - 1
    doc_pool = index.docstats().select("doc_id")
    n_docs_total = index.manifest.get("n_docs")
    if n_docs_total is None or pool_n < int(n_docs_total):
        doc_pool = doc_pool.orderBy(F.desc("doc_id")).limit(pool_n)
    w2 = Window.partitionBy("qid").orderBy(F.desc("doc_id"))
    pads = (
        doc_pool.crossJoin(F.broadcast(pad_queries))
        .join(all_matched, ["qid", "doc_id"], "left_anti")
        .withColumn("r2", F.row_number().over(w2))
        .filter(F.col("r2") <= k)
        .select("qid", "query_id", "doc_id", F.col("qconst").alias("score"))
    )
    # pad queries re-rank their matched rows TOGETHER with the pad
    # candidates (handles both the deficit case and negative-weight
    # corpora exactly); untouched queries keep their matched ranks.
    merged_src = (
        matched.join(F.broadcast(pad_queries.select("qid")), "qid", "left_semi")
        .select("qid", "query_id", "doc_id", "score")
        .unionByName(pads)
    )
    w3 = Window.partitionBy("qid").orderBy(F.desc("score"), F.desc("doc_id"))
    merged = (
        merged_src.withColumn("rank", F.row_number().over(w3).cast("long"))
        .filter(F.col("rank") <= k)
        .select("qid", "query_id", "doc_id", "rank", "score")
    )
    whole = matched.join(F.broadcast(pad_queries.select("qid")), "qid", "left_anti")
    out = whole.unionByName(merged).select("query_id", "doc_id", "rank", "score")
    if score_round is not None:
        out = out.withColumn("score", F.expr(round_sql("score", score_round)))
    return out
