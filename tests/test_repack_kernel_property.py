"""Hypothesis property test for the repack kernel in isolation (the one
decode → filter/concat → re-pack step of merge, delete and
compaction), without Spark in the loop.  Randomized packed rows are
grouped by (term_id, seg_id), a group spans 1-3 rows with disjoint docs
(one row per source index), and each row carries a ``_deleted`` list:
null, a random subset of its segment, or everything (one group is
deleted whole).  The rows reach the kernel as several pandas batches,
one cut always inside a multi-row group, so the open-group carry is
exercised.  Every output row must equal ``_pack_group`` on the group's
arrays merged and filtered independently; the id-list delete's input
shape (each row's segment slice of one sorted id union, null where the
slice is empty) runs on the same rows; a doc_id in two rows of a group
raises."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from legal_text_retrieval_spark.index import codec
from legal_text_retrieval_spark.index.builder import _make_repack_fn, _pack_group

WINDOW = 64
_OUT_COLS = ["term_id", "seg_id", "n_docs", "doc_ids_enc", "tfs_enc", "dls_enc", "enc_bytes"]


def _rows(rng, n_groups, multi, gone):
    """Packed rows of ``n_groups`` sorted (term_id, seg_id) groups; group
    ``multi`` has ≥ 2 rows, the first with a null ``_deleted``, and
    every doc of group ``gone`` is deleted.  Returns the rows, each
    row's raw (term_id, seg_id, ids, tfs, dls, deleted) and the offset
    of ``multi``'s second row."""
    keys = sorted({(int(rng.integers(0, 6)), int(rng.integers(0, 4))) for _ in range(40)})
    keys = [keys[i] for i in sorted(rng.choice(len(keys), size=n_groups, replace=False))]
    rows, raw, inside = [], [], None
    for g, (term_id, seg_id) in enumerate(keys):
        base = seg_id * WINDOW
        n_rows = int(rng.integers(2 if g == multi else 1, 4))
        ids = base + rng.choice(WINDOW, size=int(rng.integers(n_rows, 40)), replace=False)
        owner = np.concatenate([np.arange(n_rows), rng.integers(0, n_rows, len(ids) - n_rows)])
        for r in range(n_rows):
            d = np.sort(ids[owner == r]).astype(np.int64)
            tfs = rng.integers(1, 30, size=len(d)).astype(np.int64)
            dls = rng.integers(1, 90, size=len(d)).astype(np.int64)
            if g == gone:
                dels = np.sort(ids).astype(np.int64)
            elif (g, r) == (multi, 0) or rng.random() < 0.4:
                inside = len(rows) + 1 if g == multi else inside
                dels = None
            else:
                dels = np.sort(base + rng.choice(WINDOW, size=int(rng.integers(1, 20)),
                                                 replace=False)).astype(np.int64)
            rows.append({
                "term_id": term_id,
                "seg_id": seg_id,
                "doc_ids_enc": codec.encode_docids(d, base),
                "tfs_enc": codec.encode_varint(tfs),
                "dls_enc": codec.encode_varint(dls),
                "_deleted": dels,
            })
            raw.append((term_id, seg_id, d, tfs, dls, dels))
    return rows, raw, inside


def _expected(raw, deleted_of):
    """Per group (in key order): rows merged by doc_id through a dict,
    deleted ids dropped through a set, packed by ``_pack_group``."""
    groups: dict = {}
    for term_id, seg_id, d, tfs, dls, dels in raw:
        gone = set(deleted_of(seg_id, dels))
        docs = groups.setdefault((term_id, seg_id), {})
        for doc, tf, dl in zip(d.tolist(), tfs.tolist(), dls.tolist()):
            if doc not in gone:
                docs[doc] = (tf, dl)
    out = []
    for (term_id, seg_id), docs in groups.items():
        if docs:
            order = sorted(docs)
            out.append(_pack_group(
                term_id, seg_id, np.array(order, dtype=np.int64),
                np.array([docs[x][0] for x in order], dtype=np.int64),
                np.array([docs[x][1] for x in order], dtype=np.int64),
                WINDOW,
            ))
    return out


def _run(pdf, cuts):
    """The kernel over ``pdf`` cut into batches at the row offsets ``cuts``."""
    edges = [0, *sorted(set(cuts)), len(pdf)]
    batches = [pdf.iloc[a:b].reset_index(drop=True) for a, b in zip(edges, edges[1:]) if b > a]
    out = list(_make_repack_fn(WINDOW)(iter(batches)))
    return pd.concat(out, ignore_index=True).to_dict("records") if out else []


def _assert_rows_equal(got, want):
    assert len(got) == len(want)
    for g, w in zip(got, want):
        for c in _OUT_COLS:
            assert g[c] == w[c], c
        assert g["build_part"] == -1


@given(
    seed=st.integers(0, 10_000),
    n_groups=st.integers(2, 6),
    extra_cuts=st.lists(st.integers(1, 30), max_size=3),
)
@settings(max_examples=120, deadline=None)
def test_repack_equals_independent_merge_filter_pack(seed, n_groups, extra_cuts):
    rng = np.random.default_rng(seed)
    multi, gone = (int(x) for x in rng.choice(n_groups, size=2, replace=False))
    rows, raw, inside = _rows(rng, n_groups, multi, gone)
    pdf = pd.DataFrame(rows)
    # one cut inside the multi-row group: its rows land in two batches
    cuts = [inside] + [c for c in extra_cuts if c < len(pdf)]

    # DataFrame delete: each row's own _deleted list (null = none)
    want = _expected(raw, lambda seg_id, dels: [] if dels is None else dels.tolist())
    assert len(want) < n_groups  # the fully deleted group emits nothing
    _assert_rows_equal(_run(pdf, cuts), want)

    # id-list delete: one sorted id union, sliced per segment into each
    # row's _deleted list (null where the segment has no deleted id)
    union = np.unique(np.concatenate([r[5] for r in raw if r[5] is not None]))
    want_bc = _expected(raw, lambda seg_id, dels: union.tolist())
    lo, hi = (np.searchsorted(union, pdf["seg_id"].to_numpy() * WINDOW + o) for o in (0, WINDOW))
    per_seg = [union[a:b] if b > a else None for a, b in zip(lo, hi)]
    got_bc = _run(pdf.assign(_deleted=per_seg), cuts)
    _assert_rows_equal(got_bc, want_bc)

    # merge / compaction: no deletes at all
    _assert_rows_equal(
        _run(pdf.drop(columns="_deleted"), cuts),
        _expected(raw, lambda seg_id, dels: []),
    )


def test_duplicate_doc_across_rows_raises():
    ids = np.array([3, 9, 17], dtype=np.int64)
    ones = codec.encode_varint(np.ones(3, dtype=np.int64))
    row = {"term_id": 1, "seg_id": 0, "doc_ids_enc": codec.encode_docids(ids, 0),
           "tfs_enc": ones, "dls_enc": ones}
    other = dict(row, doc_ids_enc=codec.encode_docids(np.array([5, 9], dtype=np.int64), 0),
                 tfs_enc=codec.encode_varint(np.ones(2, dtype=np.int64)),
                 dls_enc=codec.encode_varint(np.ones(2, dtype=np.int64)))
    pdf = pd.DataFrame([row, other])
    with pytest.raises(ValueError, match="duplicate doc_id"):
        _run(pdf, [1])
