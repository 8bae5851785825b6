"""legal_text_retrieval_spark — a from-scratch PySpark-native fulltext
indexing + BM25 retrieval engine.

Re-expresses the lexical-ranking stage of phuongnm94/legal_text_retrieval
(reference at /root/reference, read-only) as an idiomatic Spark engine:

- SPIMI-style inverted-index construction over an Iceberg-shaped corpus
  ``(repo, path, commit, lang, content)`` with delta+varint-compressed,
  docID-sorted posting segments (``index/``).
- Top-k BM25 (Plus / Okapi variants) query evaluation over the
  compressed postings, rank-identical to the reference scorer
  (/root/reference/src/custom_rank_bm25.py:136-160).
- A fully relational (DataFrame-only) scoring path used as the
  correctness oracle surface (``operators/``), mirrored 1:1 by ANSI-SQL
  generators for DuckDB cross-checks (``functions/sqlgen.py``).
- Training-data-pipeline operators: dedup (exact / MinHash-LSH /
  SimHash / n-gram Jaccard), embedding similarity search, text quality
  analysis, multimodal column plumbing.

No per-row Python UDFs anywhere: built-in Spark SQL expressions for all
relational logic; Arrow-vectorized pandas UDFs (mapInPandas /
applyInPandas) only for the posting codec and the query kernel.
"""

__version__ = "0.1.0"
