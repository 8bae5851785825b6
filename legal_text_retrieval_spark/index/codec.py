"""Delta + varint (LEB128) posting-list codec — pure vectorized NumPy.

Replaces the reference's dense per-term posting cache
(/root/reference/src/custom_rank_bm25.py:153-157) with real compressed
posting lists.  Encode/decode loop over BYTE POSITIONS (≤10), never
over values, so a million-posting segment costs ~10 numpy passes.

Layout per posting segment (one row of the postings table):

- ``doc_ids``: strictly increasing int64 → delta vs predecessor
  (first delta vs the segment's base docID) → LEB128.
- ``tfs`` / ``dls``: positive int64 → LEB128 (no delta).

A row holds no score metadata: nothing in it depends on the BM25
parameters or the corpus-global avgdl, so rows are rewritten (merge,
delete, compaction) without re-deriving any bound.

``pack_row`` and ``unpack_row`` are the only owners of that row
format: every kernel that writes a posting row (build pack, repack)
and every reader (the WAND kernel, serving load) goes through them,
never through the varint/docid primitives below.
"""

from __future__ import annotations

import numpy as np


def encode_varint(values: np.ndarray) -> bytes:
    """LEB128-encode a non-negative int64/uint64 array."""
    vals = np.asarray(values, dtype=np.uint64)
    if len(vals) == 0:
        return b""
    nb = np.ones(len(vals), dtype=np.int64)
    v = vals >> np.uint64(7)
    while v.any():
        nb += (v > 0).astype(np.int64)
        v >>= np.uint64(7)
    ends = np.cumsum(nb)
    out = np.zeros(int(ends[-1]), dtype=np.uint8)
    starts = ends - nb
    remaining = vals.copy()
    for i in range(int(nb.max())):
        mask = nb > i
        idx = starts[mask] + i
        cont = (nb[mask] - 1) > i
        out[idx] = (remaining[mask] & np.uint64(0x7F)).astype(np.uint8) | (
            cont.astype(np.uint8) << 7
        )
        remaining = remaining >> np.uint64(7)
    return out.tobytes()


def decode_varint(buf: bytes) -> np.ndarray:
    """Decode LEB128 bytes → uint64 array."""
    b = np.frombuffer(buf, dtype=np.uint8)
    if len(b) == 0:
        return np.zeros(0, dtype=np.uint64)
    is_end = (b & 0x80) == 0
    end_pos = np.nonzero(is_end)[0]
    n = len(end_pos)
    starts = np.empty(n, dtype=np.int64)
    starts[0] = 0
    starts[1:] = end_pos[:-1] + 1
    vals = np.zeros(n, dtype=np.uint64)
    width = end_pos - starts + 1
    for i in range(int(width.max())):
        mask = width > i
        vals[mask] |= (b[starts[mask] + i] & np.uint64(0x7F)).astype(np.uint64) << np.uint64(
            7 * i
        )
    return vals


def encode_docids(doc_ids: np.ndarray, base: int) -> bytes:
    """Delta-encode strictly-increasing docIDs against ``base`` then
    varint.  First value stores (doc_ids[0] - base); the rest store
    plain gaps (≥ 1), keeping the codec branch-free."""
    d = np.asarray(doc_ids, dtype=np.int64)
    deltas = np.empty(len(d), dtype=np.int64)
    if len(d):
        deltas[0] = d[0] - base
        deltas[1:] = np.diff(d)
    return encode_varint(deltas)


def decode_docids(buf: bytes, base: int) -> np.ndarray:
    deltas = decode_varint(buf).astype(np.int64)
    if len(deltas) == 0:
        return deltas
    out = np.cumsum(deltas)
    return out + base


def pack_row(doc_ids: np.ndarray, tfs: np.ndarray, dls: np.ndarray, base: int) -> dict:
    """Encode one posting row of ``len(doc_ids) ≥ 1`` docID-sorted
    postings: the three encoded fields and their byte count."""
    ids_enc = encode_docids(doc_ids, base)
    tfs_enc = encode_varint(tfs)
    dls_enc = encode_varint(dls)
    return {
        "doc_ids_enc": ids_enc,
        "tfs_enc": tfs_enc,
        "dls_enc": dls_enc,
        "enc_bytes": len(ids_enc) + len(tfs_enc) + len(dls_enc),
    }


def unpack_row(ids_enc, tfs_enc, dls_enc, base: int) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """The int64 (doc_ids, tfs, dls) of one encoded posting row."""
    return (
        decode_docids(ids_enc, base),
        decode_varint(tfs_enc).astype(np.int64),
        decode_varint(dls_enc).astype(np.int64),
    )


def tf_part(tf: np.ndarray, dl: np.ndarray, k1: float, b: float, avgdl: float, variant: str) -> np.ndarray:
    """Vectorized matched-part BM25 kernel (same algebra as
    operators/bm25._tf_part; /root/reference/src/custom_rank_bm25.py:
    158-159 plus-variant, :118-119 okapi-variant)."""
    tf = tf.astype(np.float64)
    dl = dl.astype(np.float64)
    if variant == "plus":
        return (tf * (k1 + 1)) / (k1 * (1 - b + b * dl / avgdl) + tf)
    return (tf * (k1 + 1)) / (tf + k1 * (1 - b + b * dl / avgdl))


def fold_query(params, qtf: dict, idf: dict) -> tuple[float, list]:
    """(qconst, scoring terms) of one query from its term → qtf counts
    and the idf of its in-vocabulary terms.  Terms go in ascending order
    (== term_id order, the dictionary is lexical).  The δ-constant folds
    qtf·idf over ALL of them (an OOV term adds an exact 0.0 at its fold
    position, like the relational fold in operators/bm25.py); okapi has
    none.  The scoring terms are the in-vocabulary ones with idf ≠ 0,
    the ones that can mark a doc matched.  The one query fold of the
    numpy paths: serving's ``_prepare`` and ``wand.query_topk``."""
    order = sorted(qtf)
    qconst = 0.0
    if params.variant == "plus":
        acc = 0.0
        for t in order:
            acc += qtf[t] * idf.get(t, 0.0)
        qconst = params.delta * acc
    return qconst, [t for t in order if idf.get(t, 0.0) != 0.0]


def scatter_add(score: np.ndarray, seen: np.ndarray, slots: np.ndarray, w: float,
                part: np.ndarray) -> None:
    """``score[slots] += w · part`` and mark ``slots`` seen: one term's
    pass over a dense slot-indexed accumulator, ``slots`` unique within
    the term.  Each (doc, term) is one float add, so a scorer that calls
    this term by term in ascending term order folds every doc's score in
    the relational path's order, bit for bit.  The one accumulation step
    of the numpy scorers: serving's ``_score_slice`` and the WAND
    kernel."""
    score[slots] += w * part
    seen[slots] = True


def topk_order(ids: np.ndarray, scores: np.ndarray, k: int) -> np.ndarray:
    """Indices of the top ``min(k, len(ids))`` rows, ordered by score
    descending, then doc_id descending among ties — the reference's
    argsort-parity rule (reference src/tfidf_classifier.py:48-49,
    src/utils.py:209).  The one tie-break rule of the numpy top-k paths:
    serving, its shard workers and the WAND kernel all select with it."""
    order = np.lexsort((ids, scores))  # asc score, asc doc_id
    return order[len(order) - min(k, len(order)) :][::-1]
