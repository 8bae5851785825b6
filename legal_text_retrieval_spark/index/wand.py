"""Top-k BM25 query engine over the packed index — block-max WAND.

Plan shape (all-queries-at-once, SURVEY.md §2.4 Q1/Q5):

    queries → tokenize → broadcast-join dictionary
            → ONE driver collect, one row per query token:
              (qid, query_id, term, term_id, idf, df)
    driver:   qtf counts, per-query δ-constant (codec.fold_query),
              can-pad (max df of its terms < k), and B query buckets:
              B = min(scoring queries, defaultParallelism), queries
              sorted by qid and dealt round-robin; each bucket's
              [(qid, query_id, qconst, [(term_id, qtf·idf)])] rides in
              the kernel closure
    postings.filter(term_id IN (...))           ← parquet min/max pruning
            → explode each row to its term's buckets (map literal)
            → repartitionById(P, (seg_id·B + bucket) mod P)
            → sort by (seg_id, bucket, term_id)
            → mapInPandas(streaming WAND kernel, one run per (seg_id,
              bucket): each row decoded once, scored into every query of
              the bucket, segment top-ks merged per query → ranks)
            → B == P: collect — a query's segments all sit in its
              bucket's task, so the kernel's ranks are final
              B < P:  window re-rank of the per-task top-k lists
            → δ-padding, planned only when some query can pad

The kernel is Arrow-vectorized NumPy; per query it prunes at block
granularity using (block_first, block_last, block_max_tfpart) metadata
and is **bit-identical** to exhaustive scoring by construction:

- terms are processed in term_id (= lexical term) order, so surviving
  docs accumulate contributions in exactly the order the relational
  path folds them;
- any decoded block's docs all become candidates, and blocks
  intersecting candidates are always decoded, so a surviving doc's
  score is complete;
- a block is skipped only when block_ub + remaining-terms-ub < θ
  (θ = current k-th partial score), which proves every doc first seen
  in it can never reach the true top-k.

Decoding is shared by the bucket's queries, so a skipped block saves
only that query's scatter work.  Correctness-fallback
``mode="exhaustive"`` scores every block; tests assert bitwise equality
of the two modes (SURVEY.md §5.3).
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

# max distinct query term_ids pushed down as an IN literal list
# (parquet min/max pruning) and a map literal of their buckets; larger
# batches broadcast-join a (term_id, bucket) table
TERM_ID_PUSHDOWN_LIMIT = 4096

_PLACEMENT_SCHEMA = T.StructType(
    [
        T.StructField("term_id", T.LongType()),
        T.StructField("bucket", T.IntegerType()),
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


def _make_stream_kernel(
    params: BM25Params,
    avgdl: float,
    window: int,
    k: int | None,
    prune: bool,
    buckets: list,
    block_size: int = 128,
):
    """mapInPandas form of the WAND evaluation.  Rows arrive placed by
    (seg_id, bucket) and sorted by (seg_id, bucket, term_id), so each
    (segment, bucket) is a contiguous term_id-sorted run, walked by the
    engine's one run walker (``builder.runs``) like the pack and repack
    kernels.  ``buckets[b]`` lists bucket b's queries as ``(qid,
    query_id, qconst, [(term_id, qtf·idf)] in term order)``.

    Each row of a run is decoded once and scored into every query of
    the bucket that holds its term; each query's segment top-k then
    merges, by ``codec.topk_order``, with its top-k from the task's other
    segments.  The kernel emits per-query ranks over everything its task
    saw: final when a query's segments all sit in one task.  ``k=None``
    keeps every candidate (negative-weight mode)."""
    p = params
    bs = block_size

    def top(ids, ms):
        return codec.topk_order(ids, ms, len(ids) if k is None else k)

    def score_query(base, span, g, dec, present):
        """One query over one segment: ``present`` holds its (row, w)
        pairs in ascending term order.  Returns (doc_ids, scores,
        n_cand) of the segment-local top-k, or None when no candidate
        survives.

        Dense span-local accumulator (the serving scatter-add,
        ``codec.scatter_add``): arrays indexed by doc_id − base and sized
        by the run's doc span, so every per-term pass costs O(docs the
        segment holds) rather than O(window).  Bit-identity is
        preserved: each (doc, term) contributes exactly one float add,
        applied in ascending term order (tests/test_wand_kernel_property.
        py, test_index_engine.py).  A block is skipped only when its
        bound plus the remaining terms' bound is below θ, the current
        k-th partial score (module docstring)."""
        scores = np.zeros(span, dtype=np.float64)
        seen = np.zeros(span, dtype=bool)
        n_seen = 0
        rows = [r for r, _ in present]
        weights = np.array([w for _, w in present], dtype=np.float64)
        # bound of the terms after i: suffix sums clamped at ≥ 0 (a
        # running subtraction can drift below the true tail)
        rem_afters = np.maximum(
            np.cumsum((weights * g["seg_max_tfpart"][rows])[::-1])[::-1], 0.0
        )
        rem_afters = np.append(rem_afters[1:], 0.0)

        for r, w, rem_after in zip(rows, weights, rem_afters):
            # θ less a 1e-12 relative slack: a block holding a doc that
            # ties θ is never skipped over a rounding difference
            theta = (
                float(np.partition(scores[seen], n_seen - k)[n_seen - k]) * (1 - 1e-12)
                if prune and n_seen >= k
                else -np.inf
            )
            slots, tfp = dec[r]
            if theta > -np.inf:
                bf = np.asarray(g["block_first"][r], dtype=np.int64)
                blast = np.asarray(g["block_last"][r], dtype=np.int64)
                bmax = np.asarray(g["block_max_tfpart"][r], dtype=np.float64)
                # any seen doc inside [bf, bl]?  prefix-sum range test
                cs = np.concatenate([[0], np.cumsum(seen)])
                intersects = cs[blast - base + 1] - cs[bf - base] > 0
                keep = intersects | (w * bmax + rem_after >= theta)
                if not keep.any():
                    continue
                if not keep.all():
                    # blocks are fixed-size except the last — expand the
                    # per-block mask with the TRUE build block size (an
                    # inferred size would misalign on a short tail block)
                    sel = np.repeat(keep, bs)[: len(slots)]
                    slots, tfp = slots[sel], tfp[sel]
            codec.scatter_add(scores, seen, slots, w, tfp)
            n_seen = int(seen.sum())

        if n_seen == 0:
            return None
        cand_ids = np.flatnonzero(seen) + base
        cand_scores = scores[seen]
        sel = top(cand_ids, cand_scores)
        return cand_ids[sel], cand_scores[sel], n_seen

    def emit(acc):
        """Per query, the merged top-k of its segment lists, ranked."""
        out = []
        for qid, (query_id, qconst, segs) in acc.items():
            ids = np.concatenate([s[0] for s in segs])
            ms = np.concatenate([s[1] for s in segs])
            n_cand = sum(s[2] for s in segs)
            sel = top(ids, ms)
            out.append(pd.DataFrame({
                "qid": qid, "query_id": [query_id] * len(sel), "doc_id": ids[sel],
                "rank": np.arange(1, len(sel) + 1, dtype=np.int64), "ms": ms[sel],
                "qconst": qconst, "n_cand": np.int64(n_cand),
            }))
            if len(out) == 256:
                yield pd.concat(out, ignore_index=True)
                out = []
        if out:
            yield pd.concat(out, ignore_index=True)

    def kernel(batches):
        acc: dict = {}  # qid → (query_id, qconst, [segment top-k results])
        for (seg_id, bucket), g in runs(batches, ("seg_id", "bucket"), _RUN_COLS):
            base = int(seg_id) * window
            span = max(int(bl[-1]) for bl in g["block_last"]) - base + 1
            dec = []
            for i in range(len(g["term_id"])):
                ids, tfs, dls = codec.unpack_row(
                    g["doc_ids_enc"][i], g["tfs_enc"][i], g["dls_enc"][i], base
                )
                dec.append((ids - base, codec.tf_part(tfs, dls, p.k1, p.b, avgdl, p.variant)))
            row_of = {int(t): i for i, t in enumerate(g["term_id"])}
            for qid, query_id, qconst, terms in buckets[int(bucket)]:
                present = [(row_of[t], w) for t, w in terms if t in row_of]
                res = score_query(base, span, g, dec, present)
                if res is None:
                    continue
                acc.setdefault(qid, (query_id, qconst, []))[2].append(res)
        yield from emit(acc)

    return kernel


_RUN_COLS = ("term_id", "seg_max_tfpart", "block_first", "block_last",
             "block_max_tfpart", "doc_ids_enc", "tfs_enc", "dls_enc")


def _prepare_batch(index: FulltextIndex, queries: DataFrame, k: int, query_col: str):
    """The driver side of one batch, from ONE collect: the engine
    tokenizer runs in Spark, joined to the cached dictionary, one row
    per query token (explode_outer keeps a null-text query as one
    term-less row); qtf is counted here.  Returns ``(qconst_rows,
    scoring, can_pad)``: (qid, query_id, qconst) of every query that
    gets rows, ``(qid, query_id, qconst, [(term_id, qtf·idf)] in term
    order)`` of each query with a scoring term, and whether some query
    can pad."""
    from ..functions.text import tokenize

    params = index.params
    dict_cols = index.dictionary().select("term", "term_id", "idf", "df")
    rows = (
        queries.select(
            F.col("query_id").cast("string").alias("qid"),
            "query_id",
            F.explode_outer(tokenize(F.col(query_col))).alias("term"),
        )
        .join(F.broadcast(dict_cols), "term", "left")
        .collect()
    )
    by_query: dict = {}
    for r in rows:
        terms = by_query.setdefault((r.qid, r.query_id), {})
        if r.term is not None:
            terms[r.term] = (terms[r.term][0] + 1 if r.term in terms else 1, r)
    qconst_rows, scoring = [], []
    can_pad = False
    for (qid, query_id), terms in by_query.items():
        if not terms and params.variant == "plus":
            continue  # null text: no δ-constant, so no rows (query_topk)
        # scoring terms leave out idf == 0 (okapi df == n/2) like the
        # relational plan (bm25.py: idf != 0): they would mark docs
        # matched, and w == 0 invalidates the block-skip bound
        idf = {t: r.idf for t, (_, r) in terms.items() if r.idf is not None}
        qconst, order = codec.fold_query(params, {t: n for t, (n, _) in terms.items()}, idf)
        qconst_rows.append((qid, query_id, qconst))
        if order:
            scoring.append(
                (qid, query_id, qconst, [(terms[t][1].term_id, terms[t][0] * idf[t]) for t in order])
            )
        # every doc in a scoring term's postings is matched, so a query
        # with a term of df ≥ k cannot have a deficit
        can_pad |= max((terms[t][1].df for t in order), default=0) < k
    return qconst_rows, scoring, can_pad


def _deal_buckets(scoring: list, n_parts: int) -> list[list]:
    """B = min(scoring queries, ``n_parts``) query buckets (at least
    one), the queries sorted by qid and dealt round-robin.  Each posting
    row goes once to every bucket holding its term and is decoded once
    there; the bucket's queries travel in the kernel closure."""
    n_buckets = max(1, min(len(scoring), n_parts))
    scoring = sorted(scoring, key=lambda q: q[0] or "")
    return [scoring[b::n_buckets] for b in range(n_buckets)]


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

    spark = index.spark
    params = index.params
    avgdl = index.manifest["avgdl"]
    window = index.index_params.segment_doc_window

    qconst_rows, scoring, can_pad = _prepare_batch(index, queries, k, query_col)
    n_parts = max(1, spark.sparkContext.defaultParallelism)
    buckets = _deal_buckets(scoring, n_parts)
    n_buckets = len(buckets)
    term_buckets: dict = {}
    for b, qs in enumerate(buckets):
        for q in qs:
            for t, _ in q[3]:
                term_buckets.setdefault(t, set()).add(b)

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
    # per literal), and a map literal explodes each row to its term's
    # buckets; above the guard an unbounded literal list is a scale
    # hazard, so broadcast-join a (term_id, bucket) table instead
    post, bucket = index.postings(), F.col("bucket")
    if not term_buckets:
        post, bucket = post.where(F.lit(False)), F.lit(0)
    elif len(term_buckets) <= TERM_ID_PUSHDOWN_LIMIT:
        tids = sorted(term_buckets)
        pairs = ", ".join(
            f"{t}L, array({', '.join(map(str, sorted(term_buckets[t])))})" for t in tids
        )
        post = post.where(F.expr(f"term_id IN ({','.join(map(str, tids))})"))
        bucket = F.explode(F.expr(f"map({pairs})[term_id]"))
    else:
        placement = spark.createDataFrame(
            pd.DataFrame(
                [(t, b) for t, bs in term_buckets.items() for b in bs],
                columns=["term_id", "bucket"],
            ),
            _PLACEMENT_SCHEMA,
        )
        post = post.join(F.broadcast(placement), "term_id")

    # negative-weight mode must emit EVERY candidate from the kernel
    # (no cut): the pad anti-join below treats "not in local" as
    # unmatched, and a matched doc dropped by a top-k cut would be
    # resurrected as a score-qconst pad — wrong when its true score is
    # below qconst.
    kernel = _make_stream_kernel(
        params,
        avgdl,
        window,
        None if negative_weights else k,
        prune=(mode == "wand" and not negative_weights),
        buckets=buckets,
        block_size=index.index_params.block_size,
    )
    kernel_schema = T.StructType(
        [
            T.StructField("qid", T.StringType()),
            queries.schema["query_id"],
            T.StructField("doc_id", T.LongType()),
            T.StructField("rank", T.LongType()),
            T.StructField("ms", T.DoubleType()),
            T.StructField("qconst", T.DoubleType()),
            T.StructField("n_cand", T.LongType()),
        ]
    )
    # exact placement: partition (seg_id·B + bucket) mod P, then sort so
    # each (segment, bucket) is a contiguous term_id-sorted run — ONE
    # shuffle, no per-group pandas overhead.  With B == P a task holds
    # exactly one bucket, all its segments; with B < P (fewer queries
    # than cores) seg_id·B spreads a query's segments over the tasks,
    # so none straggles.  An explicit partition count keeps AQE's
    # size-based coalescing off this CPU-dense stage (measured r7:
    # batch 1.1 s → 2.7 s when it collapsed onto 1-2 cores).
    local = (
        post.select("seg_id", bucket.alias("bucket"), *_RUN_COLS)
        .repartitionById(
            n_parts, F.pmod(F.col("seg_id") * n_buckets + F.col("bucket"), F.lit(n_parts)).cast("int")
        )
        .sortWithinPartitions("seg_id", "bucket", "term_id")
        .mapInPandas(kernel, kernel_schema)
    )
    # δ-padding is planned only when some query can pad (always with
    # negative weights: unmatched docs, score qconst, can outrank
    # matched ones).  Otherwise the plan is just `matched` — no probe
    # job, bit-identical since the pad branch would be empty.
    pads_planned = negative_weights or can_pad
    if pads_planned:
        # the deficit count, the pad anti-join and the matched rows
        # reuse one kernel materialization
        local = local.cache()
    ranked = local
    if n_buckets < n_parts:
        # a query's segments span tasks: re-rank the per-task top-k lists
        w = Window.partitionBy("qid").orderBy(F.desc("ms"), F.desc("doc_id"))
        ranked = local.withColumn("rank", F.row_number().over(w).cast("long"))
    matched = ranked.filter(F.col("rank") <= k).select(
        "qid", "query_id", "doc_id", "rank", (F.col("qconst") + F.col("ms")).alias("score")
    )
    if not pads_planned:
        out = matched.select("query_id", "doc_id", "rank", "score")
        if score_round is not None:
            out = out.withColumn("score", F.expr(round_sql("score", score_round)))
        return out

    # per-query δ-constants of every query, scoring or not — one row per
    # query, broadcast explicitly so the planner never sort-merges a
    # tiny side (post-aggregation estimates are unreliable; guide §3.1);
    # from pandas, createDataFrame plans a LocalTableScan (CLAUDE.md)
    qconst_schema = T.StructType(
        [
            T.StructField("qid", T.StringType()),
            queries.schema["query_id"],
            T.StructField("qconst", T.DoubleType()),
        ]
    )
    qconst = spark.createDataFrame(
        pd.DataFrame(qconst_rows, columns=qconst_schema.fieldNames()), qconst_schema
    )
    # matched-doc deficit per query (0 rows or < k candidates → pad).
    # Row count is the right statistic: when the true matched total is
    # < k every task emits ALL its candidates (rows == matched), and
    # when it's ≥ k the row count is ≥ k so no padding triggers.
    # (Σ n_cand over rows would double-count — each row repeats its
    # task's candidate count.)
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
