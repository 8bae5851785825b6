"""P5: sliding-window document chunking — exact clone of
``_article_content`` (/root/reference/src/utils.py:215-232) plus the
first-9-chunks cap applied at load time (:263, ``[1:10]``).

Reference semantics (verified by execution):
- chunks only when len(words) > size;
- window starts at multiples of step = size - stride;
- the loop APPENDS the first short window (including a possibly-empty
  tail when the start lies past the end) and then breaks — but only
  for starts < len(words) (range bound);
- chunking happens on the RAW content (before standardize), split on
  single spaces, empties kept.

Pure native expressions in both engines.

Window-index note (verified by executing the reference):
``_article_content`` returns ``[full_content] + sub_contents`` where
``sub_contents[j]`` is the window starting at ``j*step``
(utils.py:224-230: the loop runs from i_start=0).  ``load_data_kse``
then keeps ``a_content_s[1:10]`` (utils.py:263) — index 0 of that list
is the FULL article (stored as the parent, :258), so the slice keeps
``sub_contents[0:9]`` = windows 0..8, enumerated as sub_id 0..8
(:263 ``enumerate``).  ``chunk_documents`` therefore emits windows 0-8
— exactly the reference's sub-article set, not windows 1-9.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

MAX_CHUNKS = 9  # load_data_kse keeps a_content_s[1:10] = windows 0..8


def _nw_expr(size: int, step: int) -> str:
    """Number of windows to emit (before the cap): m+1 full-ish windows
    plus the short tail iff its start is < n (range bound)."""
    m = f"CAST(floor((n - {size}) / {step}) AS BIGINT)"
    return f"(({m} + 1) + (CASE WHEN ({m} + 1) * {step} <= n - 1 THEN 1 ELSE 0 END))"


def chunk_documents(
    docs: DataFrame, size: int = 100, stride: int = 50, text_col: str = "content"
) -> DataFrame:
    """(doc_id, sub_id, chunk) — sub_id 0-based like
    ``Article.get_subid`` enumeration
    (/root/reference/src/data_generator.py / utils.py:51-52)."""
    step = size - stride
    nw = _nw_expr(size, step)
    base = docs.select(
        "doc_id",
        F.split(F.col(text_col), " ", -1).alias("words"),
        F.size(F.split(F.col(text_col), " ", -1)).alias("n"),
    )
    return (
        base.withColumn(
            "js",
            F.expr(
                f"CASE WHEN n > {size} THEN sequence(0, least({nw}, {MAX_CHUNKS}) - 1) "
                f"ELSE array() END"
            ),
        )
        .select("doc_id", F.explode("js").alias("sub_id"), "words")
        .select(
            "doc_id",
            F.col("sub_id").cast("long").alias("sub_id"),
            F.expr(f"concat_ws(' ', slice(words, sub_id * {step} + 1, {size}))").alias("chunk"),
        )
    )


# synthetic doc_id base for chunk rows in the docs ∪ chunks corpus:
# chunk_id = CHUNK_ID_BASE + parent_doc_id * 16 + sub_id (MAX_CHUNKS=9
# < 16).  Precondition: parent doc_ids < CHUNK_ID_BASE.
CHUNK_ID_BASE = 1_000_000_000


def chunked_corpus(docs: DataFrame, size: int, stride: int, text_col: str = "content") -> DataFrame:
    """docs ∪ sub-chunks as ONE retrieval corpus — the reference's
    actual configuration (/root/reference/src/utils.py:263: articles
    and their [1:10] sub-windows are indexed together; sub keys carry a
    ``-subN`` suffix, here an arithmetic id suffix instead)."""
    chunks = chunk_documents(docs, size, stride, text_col)
    # in-plan precondition guard: a parent doc_id at or above the chunk
    # id base would alias into chunk-id space and silently corrupt the
    # parent mapping — fail the job instead (raise_error evaluates only
    # on violating rows; zero cost otherwise)
    guarded = F.expr(
        f"CASE WHEN doc_id < {CHUNK_ID_BASE} THEN doc_id "
        f"ELSE raise_error('doc_id >= CHUNK_ID_BASE ({CHUNK_ID_BASE}): chunk-id space collision') END"
    )
    return docs.select(guarded.alias("doc_id"), F.col(text_col).alias("content")).unionByName(
        chunks.select(
            (F.lit(CHUNK_ID_BASE) + F.col("doc_id") * 16 + F.col("sub_id")).alias("doc_id"),
            F.col("chunk").alias("content"),
        )
    )


def chunked_corpus_sql(table: str, size: int, stride: int, text_col: str = "text") -> str:
    return f"""
SELECT doc_id, {text_col} AS text FROM {table}
UNION ALL
SELECT {CHUNK_ID_BASE} + doc_id * 16 + sub_id AS doc_id, chunk AS text
FROM ({chunk_documents_sql(table, size, stride, text_col)})
"""


def parent_dedup(hits: DataFrame) -> DataFrame:
    """P9 + J4 on chunked-corpus hits: map chunk ids back to parents and
    keep-first dedup, re-ranking by first appearance — the reference's
    ``evaluate_idx`` sub-id strip + dedup
    (/root/reference/src/utils.py:169-183,416,478).  ``hits`` is
    (query_id, doc_id, rank) over a :func:`chunked_corpus` id space."""
    from pyspark.sql import Window

    parents = hits.select(
        "query_id",
        F.expr(
            f"CASE WHEN doc_id >= {CHUNK_ID_BASE} "
            f"THEN CAST(floor((doc_id - {CHUNK_ID_BASE}) / 16) AS BIGINT) ELSE doc_id END"
        ).alias("doc_id"),
        F.col("rank").alias("pos"),
    )
    # one exchange: hash partitioning on query_id co-locates the
    # (query_id, doc_id) groups AND satisfies the rank window below, so
    # the keep-first aggregation and the window sort share it
    # (same pattern as bm25._bm25_pieces.matched)
    first = (
        parents.repartition(F.col("query_id"))
        .groupBy("query_id", "doc_id")
        .agg(F.min("pos").alias("pos"))
    )
    w = Window.partitionBy("query_id").orderBy("pos")
    return (
        first.withColumn("rank", F.row_number().over(w).cast("long"))
        .select("query_id", "doc_id", "rank")
    )


def bm25_chunked_topk(
    docs: DataFrame,
    queries: DataFrame,
    params,
    k: int,
    size: int = 100,
    stride: int = 50,
    text_col: str = "content",
    score_round: int = 6,
) -> DataFrame:
    """(query_id, doc_id, rank) — BM25 top-k over docs ∪ chunks with
    chunk→parent mapping and keep-first dedup: the reference end-to-end
    retrieval configuration (P5 + J2 + P9 composed;
    /root/reference/src/utils.py:263 index build over sub-articles,
    :169-183 evaluate_idx strips sub ids and dedups)."""
    from .bm25 import bm25_topk

    corpus = chunked_corpus(docs, size, stride, text_col)
    hits = bm25_topk(corpus, queries, params, k, score_round=score_round)
    return parent_dedup(hits)


def build_chunked_index(
    spark,
    docs: DataFrame,
    out_dir: str,
    params,
    size: int = 100,
    stride: int = 50,
    text_col: str = "content",
    segment_doc_window: int = 1 << 14,
):
    """Build (resume-aware) a packed posting index over the docs ∪
    chunks corpus — the reference's actual retrieval configuration
    served by the WAND/serving engine instead of the relational scorer.
    Chunk ids live at CHUNK_ID_BASE + parent·16 + sub, so posting
    segments stay docID-range-aligned (sparse segments are fine: the
    builder keys segments by id range, not by a dense census)."""
    from ..config import IndexParams
    from ..index.builder import build_index
    from ..index.wand import FulltextIndex

    corpus = chunked_corpus(docs, size, stride, text_col)
    paths = build_index(
        spark,
        corpus,
        out_dir,
        IndexParams(segment_doc_window=segment_doc_window, bm25=params),
    )
    return FulltextIndex.load(spark, paths.root)


def bm25_chunked_topk_indexed(
    spark,
    docs: DataFrame,
    queries: DataFrame,
    params,
    k: int,
    out_dir: str,
    size: int = 100,
    stride: int = 50,
    text_col: str = "content",
) -> DataFrame:
    """:func:`bm25_chunked_topk` served from the packed index:
    ``wand.query_topk`` over the docs ∪ chunks corpus (bit-identical
    scores to the relational scorer — tests/test_chunked_index.py),
    then the same chunk→parent keep-first dedup.  Same DuckDB oracle as
    the relational form."""
    from ..index.wand import query_topk

    index = build_chunked_index(
        spark, docs, out_dir, params, size, stride, text_col
    )
    hits = query_topk(index, queries, k=k, score_round=6).select(
        "query_id", "doc_id", "rank"
    )
    return parent_dedup(hits)


def bm25_chunked_topk_sql(
    table: str,
    queries_sql: str,
    params,
    k: int,
    size: int = 100,
    stride: int = 50,
    text_col: str = "text",
    score_round: int = 6,
) -> str:
    from ..functions.numeric import round_sql
    from .bm25 import bm25_ctes

    corpus = f"({chunked_corpus_sql(table, size, stride, text_col)})"
    sc = round_sql("score", score_round)
    return f"""
WITH {bm25_ctes(corpus, queries_sql, params, "text")},
hits AS (
  SELECT query_id, doc_id, rank FROM (
    SELECT query_id, doc_id,
           row_number() OVER (PARTITION BY query_id ORDER BY {sc} DESC, doc_id DESC) AS rank
    FROM b_scored) WHERE rank <= {k}),
parents AS (
  SELECT query_id,
         CASE WHEN doc_id >= {CHUNK_ID_BASE}
              THEN CAST(floor((doc_id - {CHUNK_ID_BASE}) / 16) AS BIGINT) ELSE doc_id END AS doc_id,
         rank AS pos
  FROM hits),
first AS (SELECT query_id, doc_id, min(pos) AS pos FROM parents GROUP BY query_id, doc_id)
SELECT query_id, doc_id, rank FROM (
  SELECT query_id, doc_id, row_number() OVER (PARTITION BY query_id ORDER BY pos) AS rank
  FROM first)
ORDER BY query_id, rank
"""


def chunk_documents_sql(
    table: str, size: int = 100, stride: int = 50, text_col: str = "text"
) -> str:
    step = size - stride
    nw = _nw_expr(size, step)
    return f"""
WITH base AS (
  SELECT doc_id, string_split({text_col}, ' ') AS words, len(string_split({text_col}, ' ')) AS n
  FROM {table})
SELECT doc_id, j::BIGINT AS sub_id,
       array_to_string(words[j * {step} + 1 : j * {step} + {size}], ' ') AS chunk
FROM base, unnest(CASE WHEN n > {size}
                       THEN generate_series(0, least({nw}, {MAX_CHUNKS}) - 1)
                       ELSE [] END) AS t(j)
ORDER BY doc_id, sub_id
"""
