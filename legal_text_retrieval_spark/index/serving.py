"""Low-latency local serving over a built index — the engine's
counterpart of the reference's online-inference init_state/serve loop
(/root/reference/src/infer.py:156-208, which unpickles the fitted
scorer and serves queries in-process).

``LocalIndexServer.load`` collects the (compressed) index into driver
memory — legitimate whenever the index fits one node, exactly like the
reference's pickle — and answers top-k queries in microseconds using
the SAME codec and the same term-ordered accumulation as the WAND
kernel, so results are bit-identical to the distributed path
(tests/test_serving.py).

For indexes too large for one node, use index/wand.query_topk (the
distributed path); this module exists because per-query Spark job
overhead (~1-2 s) is the wrong tool for interactive serving.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np

from ..config import BM25Params
from ..oracle.reference_scorer import standardize_data, ws_split
from . import codec
from .builder import IndexPaths, read_manifest


@dataclass
class _TermPostings:
    # raw doc_ids are NOT kept: query() accumulates into a slot-indexed
    # dense array and recovers ids via all_doc_ids[matched], so resident
    # cost is slots + contribs only (12 B/posting with int32 slots)
    slots: np.ndarray  # int32 (int64 if n_docs >= 2**31) census positions
    contribs: np.ndarray  # float64 matched-part contribution (idf excluded)


#: conservative floor for the auto-derived resident budget (used when
#: the host's physical memory cannot be probed).  At 100× scale the
#: answer is not a bigger budget but sharded serving: partition the
#: index by term range (each shard loads its dictionary slice +
#: postings) or by doc partition (scatter-gather top-k merge, same
#: merge rule as the WAND window) — the on-disk layout already supports
#: both (postings are (term_id, seg_id) range-partitioned parquet).
DEFAULT_MEMORY_BUDGET = 8 << 30


def system_memory_budget() -> int:
    """Default serving budget: half this host's physical RAM (the rest
    is left for the OS page cache, the JVM, and query scratch), with an
    8 GiB floor when the probe fails.  Derived per host rather than
    hardcoded (ADVICE r5: a fixed 8 GiB budget — this sandbox's heap —
    wrongly rejected larger-but-fitting indexes on bigger nodes)."""
    try:
        total = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
        if total > 0:
            return int(total // 2)
    except (AttributeError, ValueError, OSError):
        pass
    return DEFAULT_MEMORY_BUDGET


#: the forked shard workers' handle to the parent's loaded server
#: (set by start_workers immediately before the fork, inherited COW)
_SHARD_SERVER: "LocalIndexServer | None" = None


def _shard_topk(args):
    """Worker body: score one census slice, then take the slice's top-k
    by ``codec.topk_order``.  Pure numpy over fork-inherited arrays —
    no py4j, no imports, no writes to shared pages."""
    s, S, terms, k = args
    srv = _SHARD_SERVER
    size = len(srv.all_doc_ids)
    lo, hi = s * size // S, (s + 1) * size // S
    score, matched = srv._score_slice(terms, lo, hi)
    cand_ids = srv.all_doc_ids[lo:hi][matched]
    cand_ms = score[matched]
    sel = codec.topk_order(cand_ids, cand_ms, k)
    return len(cand_ids), cand_ids[sel], cand_ms[sel]


class LocalIndexServer:
    def __init__(self, params: BM25Params, avgdl: float, n_docs: int):
        self.params = params
        self.avgdl = avgdl
        self.n_docs = n_docs
        self.term_idf: dict[str, float] = {}
        self.term_post: dict[str, _TermPostings] = {}
        self.all_doc_ids: np.ndarray | None = None
        self.has_negative_idf = False
        self._pool = None

    @staticmethod
    def resident_estimate(manifest: dict) -> int:
        """Bytes this server will hold resident across load, estimated
        from manifest stats alone (no data read).  This budgets the
        load-time PEAK (what the admission guard must cover), not just
        the end state: staging arrays are two 8-byte arrays per posting
        (int64 doc_ids + float64 tf-part) that free as the resident
        form (int32 slots + float64 contribs, 12 B/posting) builds,
        the dictionary ~150 B/term (string + two dict entries), the
        doc-id census 8 B/doc, and the driver collect of the
        compressed posting rows (~3x bytes_compressed for Row/py4j
        framing, calibrated against the measured 3.2M-doc load)."""
        return int(
            16 * manifest.get("total_postings", 0)
            + 150 * manifest.get("vocab_size", 0)
            + 8 * manifest.get("n_docs", 0)
            + 3 * manifest.get("bytes_compressed", 0)
        )

    @classmethod
    def load(
        cls,
        spark,
        root: str,
        allow_legacy: bool = False,
        memory_budget_bytes: int | str | None = "auto",
    ) -> "LocalIndexServer":
        paths = IndexPaths(root)
        manifest, index_params = read_manifest(root, allow_legacy)
        if memory_budget_bytes == "auto":
            memory_budget_bytes = system_memory_budget()
        est = cls.resident_estimate(manifest)
        if memory_budget_bytes is not None and est > memory_budget_bytes:
            raise MemoryError(
                f"index at {root} needs ≈{est / (1 << 30):.1f} GiB resident "
                f"(total_postings={manifest.get('total_postings')}, "
                f"vocab_size={manifest.get('vocab_size')}, "
                f"n_docs={manifest.get('n_docs')}) > "
                f"budget {memory_budget_bytes / (1 << 30):.1f} GiB. "
                "Single-node serving is for indexes that fit one node "
                "(like the reference's pickled scorer). Raise "
                "memory_budget_bytes (or pass None) if this node really "
                "has the headroom; otherwise shard serving by term range "
                "or doc partition, or use the distributed path "
                "(index.wand.query_topk)."
            )
        params, window = index_params.bm25, index_params.segment_doc_window
        srv = cls(params, manifest["avgdl"], manifest["n_docs"])

        dict_rows = spark.read.parquet(paths.dictionary).select("term", "term_id", "idf").collect()
        id2term = {}
        for r in dict_rows:
            srv.term_idf[r.term] = r.idf
            id2term[r.term_id] = r.term
        # same global switch as wand.query_topk's negative_weights: with
        # a negative okapi ε floor, pads can outrank matched for EVERY
        # query (including exact qconst ties), so padding keys off the
        # dictionary minimum, not a per-query score heuristic
        srv.has_negative_idf = (
            params.variant == "okapi"
            and bool(srv.term_idf)
            and min(srv.term_idf.values()) < 0
        )

        parts: dict[str, list] = {}
        for r in (
            spark.read.parquet(paths.postings)
            .select("term_id", "seg_id", "doc_ids_enc", "tfs_enc", "dls_enc")
            .collect()
        ):
            term = id2term[r.term_id]
            ids, tfs, dls = codec.unpack_row(r.doc_ids_enc, r.tfs_enc, r.dls_enc,
                                             r.seg_id * window)
            tfp = codec.tf_part(tfs, dls, params.k1, params.b, srv.avgdl, params.variant)
            parts.setdefault(term, []).append((r.seg_id, ids, tfp))
        srv.all_doc_ids = np.sort(
            np.fromiter(
                (r.doc_id for r in spark.read.parquet(paths.docstats).select("doc_id").collect()),
                dtype=np.int64,
            )
        )
        # slot = position in the sorted census: the accumulator is
        # sized by n_docs, not max doc_id — sparse id spaces (e.g.
        # chunked corpora at CHUNK_ID_BASE ≈ 1e9) stay O(n_docs).
        # parts entries are popped as they convert so the 16 B/posting
        # staging arrays free while the 12 B/posting resident form
        # builds — load peak stays ~16 B/posting instead of stacking
        # both forms (the round-6 3.2M measurement caught exactly that:
        # 5.83 GiB resident where the estimate said 3.86).
        slot_dtype = np.int32 if len(srv.all_doc_ids) < (1 << 31) else np.int64
        for term in list(parts):
            segs = parts.pop(term)
            segs.sort(key=lambda t: t[0])  # docID order across segments
            ids = np.concatenate([s[1] for s in segs])
            srv.term_post[term] = _TermPostings(
                np.searchsorted(srv.all_doc_ids, ids).astype(slot_dtype, copy=False),
                np.concatenate([s[2] for s in segs]),
            )
        return srv

    def _prepare(self, query_text: str) -> tuple[float, list[tuple[str, float]]]:
        """(qconst, [(term, qtf·idf)]) for one query, in ascending term
        order — the shared fold ``codec.fold_query``."""
        qtf: dict[str, int] = {}
        for t in ws_split(standardize_data(query_text)):
            qtf[t] = qtf.get(t, 0) + 1
        qconst, order = codec.fold_query(self.params, qtf, self.term_idf)
        return qconst, [(t, float(qtf[t]) * self.term_idf[t]) for t in order]

    def _score_slice(
        self, terms: list[tuple[str, float]], lo: int, hi: int
    ) -> tuple[np.ndarray, np.ndarray]:
        """(score, matched) over census slots [lo, hi): dense
        scatter-add where per doc the additions happen in ascending
        term order (same fold as the WAND kernel → bit-identical
        scores), each term costing O(postings) instead of an
        O(n log n) candidate re-sort.  Slot-indexed, so sparse id
        spaces — chunked corpora at CHUNK_ID_BASE ≈ 1e9 — cost
        O(n_docs), not O(max_id).  The whole census (``query``) skips
        the per-term slice search, which would only re-offset a copy
        of every posting array on the latency-critical path."""
        whole = lo == 0 and hi == len(self.all_doc_ids)
        score = np.zeros(hi - lo, dtype=np.float64)
        matched = np.zeros(hi - lo, dtype=bool)
        for t, w in terms:
            tp = self.term_post.get(t)
            if tp is None:
                continue
            if whole:
                slots, contribs = tp.slots, tp.contribs
            else:
                i0, i1 = np.searchsorted(tp.slots, (lo, hi))
                slots, contribs = tp.slots[i0:i1] - lo, tp.contribs[i0:i1]
            codec.scatter_add(score, matched, slots, w, contribs)
        return score, matched

    def query(self, query_text: str, k: int) -> list[tuple[int, float]]:
        """[(doc_id, score)] rank order — identical semantics to
        wand.query_topk (term-ordered accumulation, δ constant,
        argsort-parity ties, δ-padding)."""
        qconst, terms = self._prepare(query_text)
        score, matched = self._score_slice(terms, 0, len(self.all_doc_ids))
        cand_ids = self.all_doc_ids[matched]
        cand_ms = score[matched]

        # δ-padding: unmatched docs score exactly qconst, and only the
        # k highest unmatched ids can ever place.  Pads join the
        # candidate pool whenever they could outrank a matched row —
        # deficit (n < k) or negative weights (okapi ε < 0 → matched
        # can score below qconst); the union then ranks on the FULL
        # score (qconst + ms vs qconst), exactly like the distributed
        # pad-query window.  The no-pad fast path ranks on raw ms (the
        # distributed matched window) — adding the constant only after
        # selection, so no tie can be manufactured by the addition.
        if len(cand_ids) >= k and not self.has_negative_idf:
            sel = codec.topk_order(cand_ids, cand_ms, k)
            return [(int(cand_ids[i]), qconst + float(cand_ms[i])) for i in sel]

        # the census is sorted, so the k highest unmatched ids are the
        # tail of the unmatched slots
        unmatched = self.all_doc_ids[~matched]
        pad_ids = unmatched[len(unmatched) - min(k, len(unmatched)) :]
        cand_ids = np.concatenate([cand_ids, pad_ids])
        cand_scores = np.concatenate(
            [qconst + cand_ms, np.full(len(pad_ids), qconst, dtype=np.float64)]
        )
        sel = codec.topk_order(cand_ids, cand_scores, k)
        return [(int(cand_ids[i]), float(cand_scores[i])) for i in sel]

    # ------------------------------------------------------------------
    # sharded serving: doc-partition scatter-gather inside one node
    # ------------------------------------------------------------------
    def start_workers(self, n_workers: int) -> None:
        """Fork a pool of ``n_workers`` shard workers, each owning a
        contiguous slice of the doc-id census.  Fork shares the loaded
        postings copy-on-write (numpy data pages are never written, so
        resident cost stays one index), and each query fans out as
        slice-local dense accumulation (``_score_slice``) + slice
        top-k, merged by ``codec.topk_order`` like ``query`` — results
        are bit-identical
        (tests/test_serving.py::test_query_sharded_bit_identical):
        per-doc adds stay in ascending term order inside one shard,
        shards own disjoint doc ids, and the global top-k is a subset
        of the union of per-shard top-ks.  This is the single-node
        half of the documented scale-out story (the cross-node half is
        the same scatter-gather over doc partitions).

        ONE pool per process: workers resolve the module-global
        ``_SHARD_SERVER`` at fork time, so a second live pool in the
        same process would keep serving its own fork-time snapshot
        while the global silently repoints — refused here
        (tests/test_serving.py::test_one_pool_per_process)."""
        import multiprocessing as mp

        if self._pool is not None:
            raise RuntimeError("workers already started")
        global _SHARD_SERVER
        if (
            _SHARD_SERVER is not None
            and _SHARD_SERVER is not self
            and _SHARD_SERVER._pool is not None
        ):
            raise RuntimeError(
                "another LocalIndexServer's worker pool is live in this "
                "process — one pool per process (workers capture the "
                "module-global server at fork time); stop_workers() on "
                "the other server first"
            )
        _SHARD_SERVER = self
        ctx = mp.get_context("fork")  # COW-share the loaded index
        self._pool = ctx.Pool(n_workers)
        self._n_workers = n_workers

    def stop_workers(self) -> None:
        global _SHARD_SERVER
        if self._pool is not None:
            self._pool.terminate()
            self._pool.join()
            self._pool = None
        if _SHARD_SERVER is self:
            # release the global so the multi-GiB postings arrays are
            # collectable and the next start_workers starts clean
            _SHARD_SERVER = None

    def __enter__(self) -> "LocalIndexServer":
        return self

    def __exit__(self, *exc) -> None:
        self.stop_workers()

    def query_sharded(self, query_text: str, k: int) -> list[tuple[int, float]]:
        """``query`` semantics, computed by the forked shard pool.
        Deficit (< k matches) and negative-idf padding are decided from
        the shards' matched counts and served by the sequential path —
        rare at the scales where sharding matters, and bit-identity is
        then trivial."""
        if self._pool is None:
            raise RuntimeError("call start_workers(n) first")
        qconst, terms = self._prepare(query_text)
        S = self._n_workers
        parts = self._pool.map(_shard_topk, [(s, S, terms, k) for s in range(S)])
        if sum(n for n, _, _ in parts) < k or self.has_negative_idf:
            return self.query(query_text, k)
        cand_ids = np.concatenate([ids for _, ids, _ in parts])
        cand_ms = np.concatenate([ms for _, _, ms in parts])
        sel = codec.topk_order(cand_ids, cand_ms, k)
        return [(int(cand_ids[i]), qconst + float(cand_ms[i])) for i in sel]

    def query_parents(self, query_text: str, k: int, sharded: bool = False) -> list[int]:
        """Top-k over a chunked-corpus index (operators.chunk.
        chunked_corpus id space) with the reference's sub-id strip +
        keep-first dedup (/root/reference/src/utils.py:169-183): parent
        doc_ids in rank order — the serving-mode twin of
        operators.chunk.parent_dedup.  ``sharded=True`` routes the
        top-k through the (bit-identical) shard pool — start_workers
        first."""
        from ..operators.chunk import CHUNK_ID_BASE

        topk = self.query_sharded if sharded else self.query
        out: list[int] = []
        for doc_id, _score in topk(query_text, k):
            parent = (
                (doc_id - CHUNK_ID_BASE) // 16 if doc_id >= CHUNK_ID_BASE else doc_id
            )
            if parent not in out:
                out.append(parent)
        return out
