"""Hypothesis property test for the block-max WAND kernel in isolation:
for randomized posting segments and query weights, pruned evaluation
must equal exhaustive evaluation bit-for-bit (the SURVEY §5.3 safety
property, without Spark in the loop).  The rows reach the production
streaming kernel split into two Arrow-style batches at a drawn point,
so the carry that stitches a run across batches is exercised too: the
pruned run is split, the exhaustive reference is one batch.  A second
property runs the kernel with a 2^20-doc window over a few hundred docs
(the accumulator is sized by the docs' span, not the window) against an
independent per-doc reference.  Another puts several queries that
share terms into one bucket: each must score bit-equal to running
alone, and each posting row is decoded exactly once."""

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
BLOCK = 8
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
    """The posting row of docs ``ids`` (ascending, inside the segment)
    with block metadata at block size BLOCK."""
    n_docs = len(ids)
    base = seg_id * window
    tfp = codec.tf_part(tfs, dls, PARAMS.k1, PARAMS.b, AVGDL, PARAMS.variant)
    nb = (n_docs + BLOCK - 1) // BLOCK
    bf = [int(ids[i * BLOCK]) for i in range(nb)]
    bl = [int(ids[min((i + 1) * BLOCK, n_docs) - 1]) for i in range(nb)]
    bm = [float(tfp[i * BLOCK : (i + 1) * BLOCK].max()) for i in range(nb)]
    return {
        "seg_id": seg_id,
        "term_id": term_id,
        "qtf": qtf,
        "idf": idf,
        "doc_ids_enc": codec.encode_docids(ids, base),
        "tfs_enc": codec.encode_varint(tfs),
        "dls_enc": codec.encode_varint(dls),
        "block_first": bf,
        "block_last": bl,
        "block_max_tfpart": bm,
        "seg_max_tfpart": float(tfp.max()),
    }


def _run(pdf, split, k, prune, window=WINDOW, plan=None):
    """The stream kernel over ``pdf``'s posting rows, all placed in
    bucket 0 and cut into batches at row ``split`` (a cut at either end
    leaves one batch).  The rows lose their qtf/idf columns: by default
    the bucket plan holds one query "q" that weights each row's term by
    the row's qtf·idf."""
    if plan is None:
        plan = [[("q", "q", 0.0, [(int(r.term_id), r.qtf * r.idf) for r in pdf.itertuples()])]]
    rows = pdf.drop(columns=["qtf", "idf"]).assign(bucket=0)
    kernel = _make_stream_kernel(PARAMS, AVGDL, window, k, prune, plan, block_size=BLOCK)
    batches = [b.copy() for b in (rows.iloc[:split], rows.iloc[split:]) if len(b)]
    return pd.concat(kernel(iter(batches)), ignore_index=True)


@given(
    seed=st.integers(0, 10_000),
    n_terms=st.integers(1, 8),
    k=st.sampled_from([1, 3, 10, 50]),
    split=st.integers(0, 8),
)
@settings(max_examples=150, deadline=None)
def test_pruned_equals_exhaustive(seed, n_terms, k, split):
    rng = np.random.default_rng(seed)
    rows = [
        _segment_row(rng, term_id=t, seg_id=5, n_docs=int(rng.integers(1, WINDOW)))
        for t in range(n_terms)
    ]
    pdf = pd.DataFrame(rows)
    out_prune = _run(pdf, split, k, prune=True)
    out_exh = _run(pdf, 0, k, prune=False)
    assert out_prune["doc_id"].tolist() == out_exh["doc_id"].tolist()
    assert (
        out_prune["ms"].to_numpy().view("int64") == out_exh["ms"].to_numpy().view("int64")
    ).all()
    # n_cand drives the δ-padding decision: pruning may undercount
    # candidates ONLY when ≥ k already exist (θ activates at k), so the
    # "pad needed?" predicate (n_cand < k) is always preserved.
    if len(out_exh):
        ne, np_ = out_exh["n_cand"].iloc[0], out_prune["n_cand"].iloc[0]
        assert (ne == np_) or (ne >= k and np_ >= k)


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
    want_ids, want_ms, want_cand = _reference_topk(rows, k)
    want_bits = np.array(want_ms, dtype=np.float64).view("int64").tolist()
    pdf = pd.DataFrame(rows)
    for prune in (True, False):
        out = _run(pdf, split if prune else 0, k, prune, window=BIG_WINDOW)
        assert out["doc_id"].tolist() == want_ids
        assert out["ms"].to_numpy().view("int64").tolist() == want_bits
        n_cand = int(out["n_cand"].iloc[0])
        if prune:
            assert n_cand == want_cand or (want_cand >= k and n_cand >= k)
        else:
            assert n_cand == want_cand


# few distinct idfs, so terms often share a weight and docs tie exactly
TIE_IDFS = [0.1, 0.2, 0.3, 0.7, 1.1]


@given(
    seed=st.integers(0, 10_000),
    n_terms=st.integers(2, 7),
    k=st.sampled_from([1, 3, 10, 40]),
    split=st.integers(0, 8),
)
@settings(max_examples=200, deadline=None)
def test_tied_blocks_at_theta_match_reference(seed, n_terms, k, split):
    """Every posting has the same tf and dl, so each term gives all its
    docs one equal contribution and docs tie exactly.  Term t's docs lie
    in [32t, 32t + 64): later terms reach higher doc ids, which win ties,
    and blocks past the docs seen so far can be skipped.  A block whose
    bound ties θ holds a doc that belongs in the top k, so skipping it
    over a rounding difference in the remaining bound shows here."""
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
    want_ids, want_ms, want_cand = _reference_topk(rows, k, window=WINDOW)
    want_bits = np.array(want_ms, dtype=np.float64).view("int64").tolist()
    pdf = pd.DataFrame(rows)
    for prune in (True, False):
        out = _run(pdf, split if prune else 0, k, prune)
        assert out["doc_id"].tolist() == want_ids
        assert out["ms"].to_numpy().view("int64").tolist() == want_bits
        n_cand = int(out["n_cand"].iloc[0])
        assert n_cand == want_cand or (prune and want_cand >= k and n_cand >= k)


@given(
    seed=st.integers(0, 10_000),
    n_terms=st.integers(2, 8),
    n_queries=st.integers(2, 5),
    k=st.sampled_from([1, 3, 10, 50]),
    split=st.integers(0, 16),
    prune=st.booleans(),
)
@settings(max_examples=100, deadline=None)
def test_bucket_queries_share_decode_and_match_solo(seed, n_terms, n_queries, k, split, prune):
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
        out = _run(shared, split, k, prune, plan=[queries])
    assert len(calls) == len(shared)

    for qid, query_id, qconst, terms in queries:
        mine = pdf[pdf["term_id"].isin([t for t, _ in terms])].reset_index(drop=True)
        solo = _run(mine, 0, k, prune, plan=[[(qid, query_id, qconst, terms)]])
        got = out[out["qid"] == qid].reset_index(drop=True)
        assert got["doc_id"].tolist() == solo["doc_id"].tolist()
        assert got["rank"].tolist() == list(range(1, len(got) + 1))
        assert (got["ms"].to_numpy().view("int64") == solo["ms"].to_numpy().view("int64")).all()
        assert (got["query_id"] == query_id).all() and (got["qconst"] == qconst).all()
