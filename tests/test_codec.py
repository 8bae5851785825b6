"""Codec round-trip identity + block-max invariants (SURVEY.md §5.2),
hypothesis-randomized with fixed seeds."""

from __future__ import annotations

import numpy as np
import pytest
from hypothesis import example, given, settings
from hypothesis import strategies as st

from legal_text_retrieval_spark.index import codec


@given(
    st.lists(st.integers(min_value=0, max_value=2**62), min_size=0, max_size=500)
)
@settings(max_examples=200, deadline=None)
def test_varint_roundtrip(vals):
    arr = np.array(vals, dtype=np.uint64)
    assert (codec.decode_varint(codec.encode_varint(arr)) == arr).all()


@given(
    st.integers(min_value=0, max_value=2**40),
    st.lists(st.integers(min_value=1, max_value=10**6), min_size=1, max_size=2000),
)
@settings(max_examples=100, deadline=None)
def test_docid_delta_roundtrip(base, gaps):
    doc_ids = base + np.cumsum(np.array(gaps, dtype=np.int64))
    buf = codec.encode_docids(doc_ids, base)
    got = codec.decode_docids(buf, base)
    assert (got == doc_ids).all()


def test_compression_beats_raw():
    rng = np.random.default_rng(42)
    doc_ids = np.cumsum(rng.integers(1, 50, size=100_000))
    buf = codec.encode_docids(doc_ids, 0)
    assert len(buf) < doc_ids.nbytes / 4  # ≥4x smaller than raw int64


def test_empty():
    assert codec.encode_varint(np.array([], dtype=np.uint64)) == b""
    assert len(codec.decode_varint(b"")) == 0


@pytest.mark.parametrize("variant", ["plus", "okapi"])
def test_tf_part_matches_reference_formula(variant):
    from legal_text_retrieval_spark.config import BM25Params
    from legal_text_retrieval_spark.oracle.reference_scorer import RefBM25

    rng = np.random.default_rng(7)
    corpus = [["a"] * int(rng.integers(1, 5)) + ["b"] * int(rng.integers(0, 3)) for _ in range(20)]
    p = BM25Params(variant=variant)
    ref = RefBM25(corpus, p)
    tf = np.array([c.count("a") for c in corpus], dtype=np.int64)
    dl = np.array([len(c) for c in corpus], dtype=np.int64)
    got = ref.idf["a"] * codec.tf_part(tf, dl, p.k1, p.b, ref.avgdl, variant)
    if variant == "plus":
        want = ref.get_scores(["a"]) - ref.idf["a"] * p.delta
    else:
        want = ref.get_scores(["a"])
    np.testing.assert_allclose(got, want, rtol=1e-12)


@given(
    n=st.integers(min_value=0, max_value=60),
    n_levels=st.integers(min_value=1, max_value=4),
    k_pick=st.sampled_from(["0", "1", "n-1", "n", "n+3", "drawn"]),
    k_drawn=st.integers(min_value=0, max_value=80),
    seed=st.integers(min_value=0, max_value=10_000),
)
@example(n=0, n_levels=1, k_pick="drawn", k_drawn=5, seed=0)  # empty input
@settings(max_examples=200, deadline=None)
def test_topk_order_is_score_desc_then_docid_desc(n, n_levels, k_pick, k_drawn, seed):
    """The single tie-break rule: scores from 1-4 distinct values force
    ties, which must resolve by the higher doc_id first."""
    rng = np.random.default_rng(seed)
    ids = rng.permutation(rng.choice(2**40, size=n, replace=False)).astype(np.int64)
    levels = rng.normal(size=n_levels)
    scores = levels[rng.integers(0, n_levels, size=n)]
    k = {"0": 0, "1": 1, "n-1": max(n - 1, 0), "n": n, "n+3": n + 3, "drawn": k_drawn}[k_pick]
    got = codec.topk_order(ids, scores, k)
    want = sorted(range(n), key=lambda i: (-scores[i], -ids[i]))[:k]
    assert got.tolist() == want
