"""Hypothesis property tests for the ``query_topk`` kernel in isolation:
for randomized posting segments and query weights, its top-k must equal
an independent per-doc reference bit for bit (the SURVEY §5.3 safety
property, without Spark in the loop).  The rows reach the production
streaming kernel split into two Arrow-style batches at a drawn point,
so the carry that stitches a run across batches is exercised too.  A
second property runs the kernel with a 2^20-doc window over a few
hundred docs (the accumulator is sized by the docs' span, not the
window); a third gives every posting one equal contribution, so docs
tie exactly.  Another puts several queries that share terms into one
bucket: each must score bit-equal to running alone, and each posting
row is decoded exactly once."""

from __future__ import annotations

from unittest import mock

import numpy as np
import pandas as pd
from hypothesis import given, settings
from hypothesis import strategies as st

from legal_text_retrieval_spark.config import BM25Params
from legal_text_retrieval_spark.index import codec
from legal_text_retrieval_spark.index.wand import _make_stream_kernel

PARAMS = BM25Params(k1=1.2)
WINDOW = 256
BIG_WINDOW = 1 << 20  # the IndexParams default
AVGDL = 37.5


def _segment_row(rng, term_id, seg_id, n_docs, window=WINDOW, span=WINDOW):
    """One posting row of ``n_docs`` docs drawn from [base, base + span)."""
    base = seg_id * window
    ids = base + np.sort(rng.choice(span, size=n_docs, replace=False)).astype(np.int64)
    tfs = rng.integers(1, 30, size=n_docs).astype(np.int64)
    dls = rng.integers(1, 120, size=n_docs).astype(np.int64)
    qtf = float(rng.integers(1, 3))
    idf = float(rng.uniform(0.05, 4.0))
    return _row(term_id, seg_id, ids, tfs, dls, qtf, idf, window)


def _row(term_id, seg_id, ids, tfs, dls, qtf, idf, window):
    """The posting row of docs ``ids`` (ascending, inside the segment)."""
    base = seg_id * window
    return {
        "seg_id": seg_id,
        "term_id": term_id,
        "qtf": qtf,
        "idf": idf,
        "doc_ids_enc": codec.encode_docids(ids, base),
        "tfs_enc": codec.encode_varint(tfs),
        "dls_enc": codec.encode_varint(dls),
    }


def _run(pdf, split, k, window=WINDOW, plan=None):
    """The stream kernel over ``pdf``'s posting rows, all placed in
    bucket 0 and cut into batches at row ``split`` (a cut at either end
    leaves one batch).  The rows lose their qtf/idf columns: by default
    the bucket plan holds one query "q" that weights each row's term by
    the row's qtf·idf."""
    if plan is None:
        plan = [[("q", "q", 0.0, [(int(r.term_id), r.qtf * r.idf) for r in pdf.itertuples()])]]
    rows = pdf.drop(columns=["qtf", "idf"]).assign(bucket=0)
    kernel = _make_stream_kernel(PARAMS, AVGDL, window, k, plan)
    batches = [b.copy() for b in (rows.iloc[:split], rows.iloc[split:]) if len(b)]
    return pd.concat(kernel(iter(batches)), ignore_index=True)


def _reference_topk(rows, k, window=BIG_WINDOW):
    """Per doc, 0.0 + Σ w·tf_part added in ascending term order, then the
    top k by score desc, doc_id desc; also the candidate count."""
    acc: dict[int, float] = {}
    for r in sorted(rows, key=lambda r: r["term_id"]):
        w = r["qtf"] * r["idf"]
        base = r["seg_id"] * window
        ids = codec.decode_docids(r["doc_ids_enc"], base)
        tfs = codec.decode_varint(r["tfs_enc"]).astype(np.int64)
        dls = codec.decode_varint(r["dls_enc"]).astype(np.int64)
        tfp = codec.tf_part(tfs, dls, PARAMS.k1, PARAMS.b, AVGDL, PARAMS.variant)
        for d, t in zip(ids.tolist(), tfp.tolist()):
            acc[d] = acc.get(d, 0.0) + w * t
    top = sorted(acc, key=lambda d: (-acc[d], -d))[:k]
    return top, [acc[d] for d in top], len(acc)


def _assert_matches_reference(rows, out, k, window):
    """The kernel's ranks, score bits and candidate count equal the
    per-doc reference's."""
    want_ids, want_ms, want_cand = _reference_topk(rows, k, window)
    assert out["doc_id"].tolist() == want_ids
    assert out["ms"].to_numpy().view("int64").tolist() == (
        np.array(want_ms, dtype=np.float64).view("int64").tolist()
    )
    assert out["rank"].tolist() == list(range(1, len(want_ids) + 1))
    assert int(out["n_cand"].iloc[0]) == want_cand


@given(
    seed=st.integers(0, 10_000),
    n_terms=st.integers(1, 8),
    k=st.sampled_from([1, 3, 10, 50]),
    split=st.integers(0, 8),
)
@settings(max_examples=150, deadline=None)
def test_split_batches_match_reference(seed, n_terms, k, split):
    rng = np.random.default_rng(seed)
    rows = [
        _segment_row(rng, term_id=t, seg_id=5, n_docs=int(rng.integers(1, WINDOW)))
        for t in range(n_terms)
    ]
    _assert_matches_reference(rows, _run(pd.DataFrame(rows), split, k), k, WINDOW)


@given(
    seed=st.integers(0, 10_000),
    n_terms=st.integers(1, 8),
    span=st.integers(1, 300),
    seg_id=st.sampled_from([0, 3]),
    k=st.sampled_from([1, 3, 10, 50]),
    split=st.integers(0, 8),
)
@settings(max_examples=150, deadline=None)
def test_window_larger_than_span_matches_reference(seed, n_terms, span, seg_id, k, split):
    rng = np.random.default_rng(seed)
    rows = [
        _segment_row(
            rng, t, seg_id, int(rng.integers(1, span + 1)), window=BIG_WINDOW, span=span
        )
        for t in range(n_terms)
    ]
    out = _run(pd.DataFrame(rows), split, k, window=BIG_WINDOW)
    _assert_matches_reference(rows, out, k, BIG_WINDOW)


# few distinct idfs, so terms often share a weight and docs tie exactly
TIE_IDFS = [0.1, 0.2, 0.3, 0.7, 1.1]


@given(
    seed=st.integers(0, 10_000),
    n_terms=st.integers(2, 7),
    k=st.sampled_from([1, 3, 10, 40]),
    split=st.integers(0, 8),
)
@settings(max_examples=200, deadline=None)
def test_tied_docs_match_reference(seed, n_terms, k, split):
    """Every posting has the same tf and dl, so each term gives all its
    docs one equal contribution and docs tie exactly.  Term t's docs lie
    in [32t, 32t + 64): later terms reach higher doc ids, which win
    ties, so the top k hinges on the doc_id-descending tie-break."""
    rng = np.random.default_rng(seed)
    tf, dl = int(rng.integers(1, 5)), int(rng.integers(1, 80))
    rows = []
    for t in range(n_terms):
        n = int(rng.integers(1, 65))
        ids = 5 * WINDOW + 32 * t + np.sort(rng.choice(64, size=n, replace=False))
        full = np.full(n, 1, dtype=np.int64)
        qtf = float(rng.integers(1, 3))
        rows.append(_row(t, 5, ids.astype(np.int64), full * tf, full * dl, qtf,
                         float(rng.choice(TIE_IDFS)), WINDOW))
    _assert_matches_reference(rows, _run(pd.DataFrame(rows), split, k), k, WINDOW)


@given(
    seed=st.integers(0, 10_000),
    n_terms=st.integers(2, 8),
    n_queries=st.integers(2, 5),
    k=st.sampled_from([1, 3, 10, 50]),
    split=st.integers(0, 16),
)
@settings(max_examples=100, deadline=None)
def test_bucket_queries_share_decode_and_match_solo(seed, n_terms, n_queries, k, split):
    """Queries sharing terms in one bucket, over two segments: each
    query's ranks and score bits equal its run alone in a bucket of its
    own, and the shared run decodes every input row exactly once."""
    rng = np.random.default_rng(seed)
    rows = [
        _segment_row(rng, t, seg, int(rng.integers(1, WINDOW)))
        for seg in (2, 5)
        for t in range(n_terms)
    ]
    pdf = pd.DataFrame(rows)
    queries = []
    for q in range(n_queries):
        terms = np.sort(rng.choice(n_terms, size=int(rng.integers(1, n_terms + 1)), replace=False))
        queries.append((f"q{q}", q, 0.5 * q, [(int(t), float(rng.uniform(0.05, 6.0))) for t in terms]))
    used = {t for *_, terms in queries for t, _ in terms}
    shared = pdf[pdf["term_id"].isin(used)].reset_index(drop=True)

    calls = []
    unpack = codec.unpack_row

    def counting(*args):
        calls.append(args)
        return unpack(*args)

    with mock.patch.object(codec, "unpack_row", counting):
        out = _run(shared, split, k, plan=[queries])
    assert len(calls) == len(shared)

    for qid, query_id, qconst, terms in queries:
        mine = pdf[pdf["term_id"].isin([t for t, _ in terms])].reset_index(drop=True)
        solo = _run(mine, 0, k, plan=[[(qid, query_id, qconst, terms)]])
        got = out[out["qid"] == qid].reset_index(drop=True)
        assert got["doc_id"].tolist() == solo["doc_id"].tolist()
        assert got["rank"].tolist() == list(range(1, len(got) + 1))
        assert (got["ms"].to_numpy().view("int64") == solo["ms"].to_numpy().view("int64")).all()
        assert (got["query_id"] == query_id).all() and (got["qconst"] == qconst).all()
