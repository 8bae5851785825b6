"""Engine-wide constants and parameter objects.

The 13 punctuation characters and the normalize→split contract clone
``standardize_data`` (/root/reference/src/utils.py:16-28) exactly; see
SURVEY.md §1.4 for the verified no-op regexes that we drop.
"""

from __future__ import annotations

from dataclasses import dataclass

# The 13 distinct characters the reference maps to a single space each
# (/root/reference/src/utils.py:20-26; '?' appears twice there).
PUNCT_CHARS = ",.;“:”\"'!?-()"
assert len(PUNCT_CHARS) == 13

# sklearn TfidfVectorizer default token pattern (r"(?u)\b\w\w+\b") —
# the analyzer used by the reference's TF-IDF stage
# (/root/reference/src/tfidf_classifier.py:20-21).  ASCII \w is
# sufficient for the code-corpus payload; works identically in Java
# regex (Spark) and RE2 (DuckDB).
SKLEARN_TOKEN_PATTERN = r"\b\w\w+\b"


@dataclass(frozen=True)
class BM25Params:
    """Scorer parameters.

    Reference defaults: BM25Plus(k1=1.5, b=0.75, delta=1)
    (/root/reference/src/custom_rank_bm25.py:137); the BASELINE.json
    north-star benchmarks run k1=1.2, b=0.75.
    """

    k1: float = 1.5
    b: float = 0.75
    delta: float = 1.0
    variant: str = "plus"  # "plus" | "okapi"
    epsilon: float = 0.25  # okapi negative-idf floor factor

    def __post_init__(self) -> None:
        if self.variant not in ("plus", "okapi"):
            raise ValueError(f"unknown BM25 variant: {self.variant}")


# North-star bench params (BASELINE.json `north_star`).
NORTH_STAR_BM25 = BM25Params(k1=1.2, b=0.75, delta=1.0, variant="plus")
# Reference-default params (rank-identity tests).
REFERENCE_BM25 = BM25Params(k1=1.5, b=0.75, delta=1.0, variant="plus")


@dataclass(frozen=True)
class IndexParams:
    """Physical layout of the inverted index (SURVEY.md §7 M2)."""

    segment_doc_window: int = 1 << 20  # docID range per posting segment row;
    # bounds the size of any single shuffle group so high-df ("def",
    # "import") terms can never create a hot reducer: the shuffle key is
    # (term_id, doc_id // segment_doc_window), giving at most
    # segment_doc_window postings per group regardless of df.
    bm25: BM25Params = NORTH_STAR_BM25
