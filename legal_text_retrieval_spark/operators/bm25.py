"""Relational BM25 scoring (Q1-Q3) + argsort-parity top-k (T1/T2).

The query is ONE declarative plan: broadcast the (tiny) query-term side,
equi-join postings on term, two-phase aggregate per (query, doc), add
the per-query BM25Plus delta constant, window top-k.  Catalyst turns
this into: parquet scan (term/doc pruned) → broadcast hash join →
partial+final hash agg → window.  No Python anywhere.

Float determinism: per-(query,doc) term contributions are folded in
ascending term order via ``aggregate(array_sort(collect_list(…)))`` so
Spark and DuckDB produce bit-identical sums; the only cross-engine
wobble left is libm ``ln`` (≤1 ulp), absorbed by round(score, 6) in the
oracle-facing output.

Semantics cloned from /root/reference/src/custom_rank_bm25.py:
- BM25Plus.get_scores (:149-160): score(q,d) = Σ_{t∈q occurrences}
  idf(t)·(δ + tf·(k1+1)/(k1·(1−b+b·dl/avgdl)+tf)); duplicate query
  terms count once per occurrence; unseen terms idf→0; every doc gets
  the δ-term for every query occurrence.
- BM25Okapi.get_scores (:106-120): idf-floored variant, no δ.
- top-k tie-break = reversed stable argsort → (score DESC, doc_id DESC)
  (/root/reference/src/tfidf_classifier.py:48-49, src/utils.py:209).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..config import BM25Params
from ..functions.numeric import dlit as _fmt
from ..functions.numeric import round_sql
from ..functions.sqlgen import tokens_sql
from . import stats


def _tf_part(params: BM25Params) -> str:
    """The per-(term,doc) matched-part kernel as a SQL formula string —
    used verbatim by BOTH Spark (F.expr) and DuckDB so the parse trees
    match.  For the plus variant the δ term is NOT included here: it is
    owed to EVERY doc for every query occurrence, so it is added once
    per query as the broadcast ``qconst`` (δ·Σ qtf·idf) instead —
    algebraically identical to BM25Plus.get_scores
    (/root/reference/src/custom_rank_bm25.py:158-159)."""
    k1, b = _fmt(params.k1), _fmt(params.b)
    if params.variant == "plus":
        return (
            f"((tf * ({k1} + 1)) / "
            f"({k1} * (1 - {b} + {b} * dl / __avgdl__) + tf))"
        )
    return f"((tf * ({k1} + 1)) / (tf + {k1} * (1 - {b} + {b} * dl / __avgdl__)))"


# bucket count for the ε-floor mean fold: at 10^9-term vocabularies no
# single task ever folds more than ~|vocab|/1024 values (vs the whole
# vocabulary in one array with a flat term-ordered fold)
_EPS_BUCKETS = 1024


def _ordered_mean_idf0(raw: DataFrame) -> float:
    """mean(idf0) with a DETERMINISTIC TWO-LEVEL fold, so every consumer
    (builder dictionary, relational scorer, DuckDB oracle) derives the
    exact same ε floor bit-for-bit, and no single task holds the whole
    vocabulary: terms hash (md5, engine-portable) into _EPS_BUCKETS
    buckets; level 1 folds each bucket's idf0 in term order (parallel
    across buckets); level 2 folds the bucket sums in bucket order
    (one tiny array).  DuckDB twin: _mean_idf0_ctes."""
    from ..functions.text import md5_hash60

    b1 = (
        raw.withColumn("bkt", md5_hash60(F.col("term")) % _EPS_BUCKETS)
        .groupBy("bkt")
        .agg(F.array_sort(F.collect_list(F.struct("term", "idf0"))).alias("a"))
        .select(
            "bkt",
            F.expr("aggregate(a, CAST(0.0 AS DOUBLE), (acc, x) -> acc + x.idf0)").alias("s"),
            F.size("a").cast("long").alias("c"),
        )
    )
    row = (
        b1.agg(
            F.array_sort(F.collect_list(F.struct("bkt", "s"))).alias("a"),
            F.sum("c").alias("n"),
        )
        .select(
            F.expr("aggregate(a, CAST(0.0 AS DOUBLE), (acc, x) -> acc + x.s)").alias("s"),
            "n",
        )
        .collect()[0]
    )
    return row.s / row.n


def mean_idf0_ctes(raw_cte: str = "raw", prefix: str = "e_") -> str:
    """DuckDB twin of _ordered_mean_idf0: comma-joined CTEs defining
    ``{prefix}mean(mean)`` over a ``{raw_cte}(term, idf0)`` relation —
    the identical two-level md5-bucketed fold."""
    from ..functions.sqlgen import md5_hash60_sql

    h = md5_hash60_sql("term")
    return (
        f"{prefix}bsum AS (SELECT bkt, "
        f"list_reduce(list_prepend(CAST(0.0 AS DOUBLE), list(idf0 ORDER BY term)), (x, y) -> x + y) AS s, "
        f"count(*) AS c "
        f"FROM (SELECT term, idf0, ({h}) % {_EPS_BUCKETS} AS bkt FROM {raw_cte}) GROUP BY bkt), "
        f"{prefix}mean AS (SELECT "
        f"list_reduce(list_prepend(CAST(0.0 AS DOUBLE), list(s ORDER BY bkt)), (x, y) -> x + y) "
        f"/ sum(c) AS mean FROM {prefix}bsum)"
    )


def query_term_occurrences(queries: DataFrame, query_col: str = "query_text") -> DataFrame:
    """(query_id, term, qtf) — occurrence counts; duplicates matter
    (BM25 adds one contribution per occurrence)."""
    from ..functions.text import tokenize

    return (
        queries.select("query_id", F.explode(tokenize(F.col(query_col))).alias("term"))
        .groupBy("query_id", "term")
        .agg(F.count("*").alias("qtf"))
    )


class _BM25Pieces:
    """The shared sub-plans of a BM25 batch query:

    - ``matched``: (query_id, doc_id, ms) — term-matched pairs only,
      ms = Σ contributions folded in term order.  ms > 0 whenever
      ``pad_safe`` (every surviving idf is strictly positive).
    - ``qconst``: (query_id, qconst) — the per-query δ-constant every
      doc (matched or not) is owed; 0 for okapi.
    - ``doc_ids``: (doc_id) — the full corpus id set (map-only off the
      source table; the pad/dense branches need ids, never dl).
    - ``pad_safe``: True when matched scores strictly exceed the
      unmatched score qconst, i.e. deficit-padding is rank-exact.
    """

    def __init__(self, matched, qconst, doc_ids, pad_safe):
        self.matched, self.qconst, self.doc_ids, self.pad_safe = (
            matched, qconst, doc_ids, pad_safe,
        )


def _bm25_pieces(
    docs: DataFrame,
    queries: DataFrame,
    params: BM25Params,
    text_col: str = "content",
    query_col: str = "query_text",
) -> _BM25Pieces:
    # ONE tokenize+explode pass: df derives from the cached tf relation,
    # and dl rides INSIDE tf (size of the token array == Σ tf per doc —
    # empty-string tokens are terms too, the same identity the index
    # builder's termfreq stage uses), so the corpus is scanned/tokenized
    # once AND the matched plan needs no doc_id-keyed dl join at all
    # (guide §2.4 — one less join against a corpus-sized relation).
    tf = stats.term_frequencies_with_dl(docs, text_col).cache()
    dl = tf.groupBy("doc_id").agg(F.max("dl").alias("dl"))
    n, avgdl = (
        dl.agg(F.count("*"), F.sum("dl").cast("double") / F.count("*")).collect()[0]
    )
    dfreq = tf.groupBy("term").agg(F.count("*").alias("df"))

    if params.variant == "plus":
        # idf = ln((n+1)/df) ≥ ln((n+1)/n) > 0: matched always beats qconst
        idf = dfreq.withColumn("idf", F.expr(f"ln({_fmt(n + 1)} / df)"))
        pad_safe = True
    else:
        raw = dfreq.withColumn(
            "idf0",
            F.expr(
                f"ln(CAST({n} - df AS DOUBLE) + CAST(0.5 AS DOUBLE)) "
                f"- ln(df + CAST(0.5 AS DOUBLE))"
            ),
        )
        eps = params.epsilon * _ordered_mean_idf0(raw)
        idf = raw.withColumn("idf", F.expr(f"CASE WHEN idf0 < 0 THEN {_fmt(eps)} ELSE idf0 END"))
        # eps > 0 → every floored idf > 0 → matched ms strictly > 0;
        # eps ≤ 0 (tiny-vocab/repetitive corpora) → negative matched
        # scores can rank BELOW unmatched docs, so padding is unsafe
        pad_safe = eps > 0

    qocc = query_term_occurrences(queries, query_col)
    # query terms hydrated with idf (0 for out-of-vocabulary terms)
    qidf = qocc.join(F.broadcast(idf.select("term", "idf")), "term", "left").fillna(
        {"idf": 0.0}
    )

    # per-query δ constant: δ · Σ_occurrences idf(t), folded in term order
    if params.variant == "plus":
        qconst = (
            qidf.groupBy("query_id")
            .agg(F.array_sort(F.collect_list(F.struct("term", (F.col("qtf") * F.col("idf")).alias("v")))).alias("a"))
            .select(
                "query_id",
                F.expr(f"{_fmt(params.delta)} * aggregate(a, CAST(0.0 AS DOUBLE), (acc, x) -> acc + x.v)").alias(
                    "qconst"
                ),
            )
        )
    else:
        qconst = queries.select("query_id", F.lit(0.0).alias("qconst"))

    tfpart = _tf_part(params).replace("__avgdl__", _fmt(avgdl))
    # repartition by query_id BEFORE the (query, doc) aggregation: hash
    # partitioning on query_id co-locates every (query_id, doc_id) group
    # AND satisfies the downstream top-k window's requirement, so the
    # aggregation, the window sort and WindowGroupLimit all ride ONE
    # exchange instead of two (guide §2.4 — measured r7: matched+window
    # 4.8 s → 2.4 s at sf0.1).  Partition count comes from
    # spark.sql.shuffle.partitions (sized per deployment); per-query
    # matched sets are corpus-bounded, so query_id-only clustering skews
    # only when the query batch is tiny relative to the core count —
    # exactly the case where the data is tiny too.
    matched = (
        qidf.filter(F.col("idf") != 0)
        .join(tf, "term")
        .withColumn("contrib", F.expr(f"qtf * idf * {tfpart}"))
        .repartition(F.col("query_id"))
        .groupBy("query_id", "doc_id")
        .agg(F.array_sort(F.collect_list(F.struct("term", "contrib"))).alias("a"))
        .select(
            "query_id",
            "doc_id",
            F.expr("aggregate(a, CAST(0.0 AS DOUBLE), (acc, x) -> acc + x.contrib)").alias("ms"),
        )
    )
    return _BM25Pieces(matched, qconst, docs.select("doc_id"), pad_safe)


def bm25_scores(
    docs: DataFrame,
    queries: DataFrame,
    params: BM25Params,
    text_col: str = "content",
    query_col: str = "query_text",
    score_round: int | None = None,
    _pieces: _BM25Pieces | None = None,
) -> DataFrame:
    """(query_id, doc_id, score) over ALL docs (reference scores the
    whole corpus; zero-match docs get the per-query δ-constant).

    The dense Q×D matrix: the semantic baseline / oracle form.  For
    top-k retrieval use :func:`bm25_topk`, whose deficit-padded plan
    never materializes unmatched pairs.  ``_pieces`` lets callers that
    already built the sub-plans (the pad-unsafe fallbacks) avoid
    re-running the stats/ε jobs."""
    p = _pieces or _bm25_pieces(docs, queries, params, text_col, query_col)
    scores = (
        p.doc_ids
        .crossJoin(F.broadcast(p.qconst))
        .join(p.matched, ["query_id", "doc_id"], "left")
        .select(
            "query_id",
            "doc_id",
            (F.col("qconst") + F.coalesce(F.col("ms"), F.lit(0.0))).alias("score"),
        )
    )
    if score_round is not None:
        scores = scores.withColumn("score", F.expr(round_sql("score", score_round)))
    return scores


def bm25_scores_subset(
    docs: DataFrame,
    queries: DataFrame,
    candidates: DataFrame,
    params: BM25Params,
    score_round: int | None = None,
    **kw,
) -> DataFrame:
    """Q2: get_batch_scores — score only a per-query candidate doc set
    (/root/reference/src/custom_rank_bm25.py:162-173).

    Built directly from the matched sub-plan: candidates (deduped, and
    semi-joined to the corpus so nonexistent doc_ids are dropped rather
    than given a fabricated δ score) join qconst + left-join matched —
    unmatched candidates get the δ-constant; the Q×D matrix never
    materializes."""
    p = _bm25_pieces(docs, queries, params, **kw)
    scores = (
        candidates.select("query_id", "doc_id")
        .distinct()
        .join(p.doc_ids, "doc_id", "left_semi")
        .join(F.broadcast(p.qconst), "query_id")
        .join(p.matched, ["query_id", "doc_id"], "left")
        .select(
            "query_id",
            "doc_id",
            (F.col("qconst") + F.coalesce(F.col("ms"), F.lit(0.0))).alias("score"),
        )
    )
    if score_round is not None:
        scores = scores.withColumn("score", F.expr(round_sql("score", score_round)))
    return scores


def topk(scores: DataFrame, k: int) -> DataFrame:
    """(query_id, doc_id, rank, score): rank 1 = best; tie-break
    doc_id DESC = reversed stable argsort (T2 semantics)."""
    w = Window.partitionBy("query_id").orderBy(F.desc("score"), F.desc("doc_id"))
    return (
        scores.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select("query_id", "doc_id", "rank", "score")
    )


def topk_padded(
    matched_scores: DataFrame,
    base: DataFrame,
    doc_ids: DataFrame,
    k: int,
) -> DataFrame:
    """Top-k of the IMPLICIT full matrix «score(q,d) = matched value,
    else base(q)» without materializing unmatched pairs — the
    δ-padding branch of index/wand.query_topk, for relational scorers.

    - ``matched_scores``: (query_id, doc_id, score), matched pairs only;
    - ``base``: (query_id, base_score) — one row per query, the score
      every unmatched doc is owed;
    - ``doc_ids``: (doc_id) — the full corpus.

    PRECONDITION (checked by callers via pad_safe): every matched score
    strictly exceeds its query's base score BEFORE rounding.  Rounding
    can still collapse matched scores onto the base, so a query joins
    the pad re-rank branch when it has a deficit (fewer than k matched
    docs) OR when its k-th matched score does not strictly beat the
    base — in either case its matched top-k is re-ranked TOGETHER with
    the k best pad candidates by (score DESC, doc_id DESC), exactly the
    reference argsort order in every tie pattern.  (Matched rows below
    the top-k stay excluded: they are dominated by k included matched
    rows, so they can never enter the true top-k.)  The pad anti-join's
    left side is docs × pad-queries — bounded by the rare deficit/tie
    count."""
    ranked = topk(matched_scores, k).cache()
    # every non-cached side below is one-row-per-query tiny — broadcast
    # explicitly so the planner never falls back to a sort-merge join
    # (post-aggregation size estimates are unreliable; guide §3.1)
    counts = ranked.groupBy("query_id").agg(
        F.count("*").alias("n_matched"), F.min("score").alias("kth_score")
    )
    need = (
        base.join(F.broadcast(counts), "query_id", "left")
        .fillna({"n_matched": 0})
        .withColumn("deficit", F.greatest(F.lit(0), F.lit(k) - F.col("n_matched")))
    )
    deficits = need.filter(
        (F.col("deficit") > 0) | (F.col("kth_score") <= F.col("base_score"))
    ).select("query_id", "base_score")
    # short-circuit: one tiny job over the (cached) ranked rows decides
    # whether any query pads at all.  In the common case (none) the
    # returned plan is just `ranked`, skipping ~6 sequential pad-branch
    # stage materializations per downstream action — measured r7: the
    # steady-state batch dropped ~0.7 s at sf0.1.  When queries DO pad,
    # the probe costs one extra sub-second job and the full padded plan
    # below is returned unchanged (bit-identical either way: with no
    # deficits, whole == ranked and merged is empty).
    if deficits.limit(1).count() == 0:
        return ranked
    # deficit queries have < k matched docs, so `ranked` holds ALL their
    # matched pairs — the anti-join below is complete.  Its right side
    # is pre-filtered to the deficit queries' rows (bounded by
    # |deficits|·k, never Q·k) so it broadcasts safely at any scale.
    ranked_deficit = ranked.join(
        F.broadcast(deficits.select("query_id")), "query_id", "left_semi"
    )
    w2 = Window.partitionBy("query_id").orderBy(F.desc("doc_id"))
    pad_cands = (
        doc_ids.select("doc_id")
        .crossJoin(F.broadcast(deficits))
        .join(
            F.broadcast(ranked_deficit.select("query_id", "doc_id")),
            ["query_id", "doc_id"],
            "left_anti",
        )
        .withColumn("r2", F.row_number().over(w2))
        .filter(F.col("r2") <= k)  # k highest unmatched doc_ids suffice
        .select("query_id", "doc_id", F.col("base_score").alias("score"))
    )
    deficit_rows = (
        ranked_deficit.select("query_id", "doc_id", "score").unionByName(pad_cands)
    )
    merged = topk(deficit_rows, k)
    whole = ranked.join(
        F.broadcast(deficits.select("query_id")), "query_id", "left_anti"
    )
    return whole.unionByName(merged)


def bm25_topk(
    docs: DataFrame,
    queries: DataFrame,
    params: BM25Params,
    k: int,
    score_round: int | None = 6,
    **kw,
) -> DataFrame:
    """Top-k BM25: deficit-padded plan (matched pairs + δ-pads; no Q×D
    crossJoin) whenever matched scores provably beat the unmatched
    constant (always for plus; okapi iff ε > 0), else the exact dense
    fallback."""
    p = _bm25_pieces(docs, queries, params, **kw)
    if not p.pad_safe:
        scores = bm25_scores(docs, queries, params, score_round=score_round, _pieces=p, **kw)
        return topk(scores, k)
    matched = p.matched.join(F.broadcast(p.qconst), "query_id").select(
        "query_id", "doc_id", (F.col("qconst") + F.col("ms")).alias("score")
    )
    base = p.qconst.select("query_id", F.col("qconst").alias("base_score"))
    if score_round is not None:
        matched = matched.withColumn("score", F.expr(round_sql("score", score_round)))
        base = base.withColumn("base_score", F.expr(round_sql("base_score", score_round)))
    return topk_padded(matched, base, p.doc_ids, k)


# ---------------------------------------------------------------- SQL twin


def bm25_ctes(table: str, queries_sql: str, params: BM25Params, text_col: str = "text") -> str:
    """Comma-joined DuckDB CTEs defining ``q(query_id, query_text)`` and
    ``b_scored(query_id, doc_id, score)`` (unrounded full matrix) —
    same relational plan, same fold order, same formula strings as the
    Spark path, with all CTE names b_-prefixed for composability."""
    toks = tokens_sql(text_col)
    qtoks = tokens_sql("query_text")
    tfp = _tf_part(params).replace("__avgdl__", "(SELECT avgdl FROM b_st)")
    if params.variant == "plus":
        idf_cte = (
            "b_idf AS (SELECT term, ln((b_st.n + CAST(1.0 AS DOUBLE)) / df) AS idf "
            "FROM b_dfreq, b_st)"
        )
        qconst_cte = (
            f"b_qconst AS (SELECT query_id, {_fmt(params.delta)} * "
            f"list_reduce(list_prepend(0.0::DOUBLE, list(qtf * COALESCE(idf, 0.0) ORDER BY term)), "
            f"(a, b) -> a + b) AS qconst "
            f"FROM b_qocc LEFT JOIN b_idf USING (term) GROUP BY query_id)"
        )
    else:
        idf_cte = (
            "b_idf0 AS (SELECT term, ln(b_st.n - df + 0.5) - ln(df + 0.5) AS idf0 FROM b_dfreq, b_st), "
            + mean_idf0_ctes("b_idf0", "b_e_")
            + f", b_eps AS (SELECT {_fmt(params.epsilon)} * mean AS e FROM b_e_mean), "
            "b_idf AS (SELECT term, CASE WHEN idf0 < 0 THEN b_eps.e ELSE idf0 END AS idf FROM b_idf0, b_eps)"
        )
        qconst_cte = (
            "b_qconst AS (SELECT query_id, 0.0::DOUBLE AS qconst FROM q GROUP BY query_id)"
        )
    return f"""q AS ({queries_sql}),
b_tok AS (SELECT doc_id, {toks} AS toks FROM {table}),
b_dl AS (SELECT doc_id, len(toks)::BIGINT AS dl FROM b_tok),
b_st AS (SELECT count(*)::DOUBLE AS n, sum(dl)::DOUBLE / count(*) AS avgdl FROM b_dl),
b_tf AS (SELECT doc_id, term, count(*)::DOUBLE AS tf FROM
       (SELECT doc_id, unnest(toks) AS term FROM b_tok) GROUP BY doc_id, term),
b_dfreq AS (SELECT term, count(*) AS df FROM b_tf GROUP BY term),
{idf_cte},
b_qocc AS (SELECT query_id, term, count(*)::DOUBLE AS qtf FROM
         (SELECT query_id, unnest({qtoks}) AS term FROM q) GROUP BY query_id, term),
{qconst_cte},
b_matched AS (
  SELECT query_id, doc_id,
         list_reduce(list_prepend(0.0::DOUBLE, list(contrib ORDER BY term)), (a, b) -> a + b) AS ms
  FROM (SELECT b_qocc.query_id, b_tf.doc_id, b_tf.term,
               b_qocc.qtf * b_idf.idf * {tfp} AS contrib
        FROM b_qocc JOIN b_idf USING (term) JOIN b_tf USING (term)
             JOIN b_dl ON b_tf.doc_id = b_dl.doc_id
        WHERE b_idf.idf <> 0)
  GROUP BY query_id, doc_id),
b_scored AS (
  SELECT query_id, d.doc_id, qconst + COALESCE(ms, CAST(0.0 AS DOUBLE)) AS score
  FROM (SELECT doc_id FROM b_dl) d CROSS JOIN b_qconst
  LEFT JOIN b_matched USING (query_id, doc_id))"""


def topk_sql(scored_cte: str, k: int, score_round: int | None = 6, with_score: bool = True) -> str:
    """Shared SELECT wrapper: window top-k with argsort-parity
    tie-break over the (optionally rounded) score."""
    sc = round_sql("score", score_round) if score_round is not None else "score"
    cols = "query_id, doc_id, rank, score" if with_score else "query_id, doc_id, rank"
    return f"""
SELECT {cols} FROM (
  SELECT query_id, doc_id, {sc} AS score,
         row_number() OVER (PARTITION BY query_id ORDER BY {sc} DESC, doc_id DESC) AS rank
  FROM {scored_cte})
WHERE rank <= {k}
ORDER BY query_id, rank
"""


def bm25_topk_sql(
    table: str,
    queries_sql: str,
    params: BM25Params,
    k: int,
    text_col: str = "text",
    score_round: int = 6,
) -> str:
    return (
        "WITH "
        + bm25_ctes(table, queries_sql, params, text_col)
        + topk_sql("b_scored", k, score_round)
    )
