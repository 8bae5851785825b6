"""The workloads and their output checks.

Every workload returns ``(end_to_end, per_layer)``: two dicts of
``name -> (value, unit)`` holding the same metric names on every
workload (``per_layer`` is empty on an untraced run).  Inputs come only from ``legal_text_retrieval_spark.fixtures``
and the ``--seed``; the engine receives the generated inputs through
its public API.  Output checks run outside the timed regions, and the
driver's peak RSS is sampled before each block of checks so that the
reference scorer's memory is not counted.
"""

from __future__ import annotations

import contextlib
import json
import os
import statistics
import subprocess
import time
from pathlib import Path
from types import SimpleNamespace

import numpy as np
import pandas as pd

from legal_text_retrieval_spark import fixtures
from legal_text_retrieval_spark.index import codec
from legal_text_retrieval_spark.index.builder import IndexPaths, build_index, verify_integrity
from legal_text_retrieval_spark.index.delete import delete_docs
from legal_text_retrieval_spark.index.merge import merge_indexes
from legal_text_retrieval_spark.index.serving import LocalIndexServer
from legal_text_retrieval_spark.index.wand import FulltextIndex, query_topk
from legal_text_retrieval_spark.operators import stats as ops_stats
from legal_text_retrieval_spark.oracle.reference_scorer import (
    RefBM25,
    standardize_data,
    topk_desc,
    ws_split,
)
from legal_text_retrieval_spark.session import get_spark, query_scope
from tracing import NullTracer, Tracer

K = 150
# Corpus size of both workloads.  Fixed Spark costs (session start,
# first-build JIT and Python-worker start) take ~25 s of a run whatever
# the size; 10k docs keeps the runs inside the benchmark's time budget.
# perfbench/README.md has the numbers.
N_DOCS = 10_000
BATCH_QUERIES = 60
# WAND batch times fall over a run's first batches as the JVM warms
# (8-15% from the second batch to the ninth).  A run that fits only two
# warm batches in --seconds would report their mean, which sits higher
# on that slope than the median of three or more, so every run times at
# least three.
MIN_WARM_BATCHES = 3
HOT_QUERIES = 200
HOT_PASSES = 5  # 1000 hot reads: 10 samples beyond p99
REF_SAMPLE = 8  # queries per reference-scorer comparison
STREAM = 8000  # distinct serve queries generated before timing
# The first build in a JVM runs ~20 s slower than later ones (JIT and
# Python-worker start), more than a small build takes on its own; set-up
# therefore starts with a build of WARMUP_DOCS docs so the measured
# builds run warm.
WARMUP_DOCS = 200
# share of --seconds spent on the sequential serve phase; the rest
# goes to the sharded phase
SEQ_SHARE = 0.875
# serve's read_p99_ms is the median over consecutive windows of this
# many queries of each window's p99.  A burst of stolen CPU on a shared
# host lifts one or two windows; the p99 over the whole phase would
# move with it, the median does not.
P99_WINDOW = 250
# untimed queries after load and before the timed reads, so that page
# faults on the freshly loaded arrays are not counted as query time
WARM_QUERIES = 200
# The traced run of each workload also drives, on a small scale, the
# layers the other workload measures, so every per-layer metric is a
# measurement on both workloads.
PROBE_QUERIES = 20  # queries per WAND batch in serve's traced run
PROBE_STREAM = 1000  # distinct queries for batch_retrieve's traced reads
PROBE_SECONDS = 1.0  # read phase of batch_retrieve's traced run
PROBE_DELTA = 50  # new docs in batch_retrieve's traced write

LAYERS = ("session", "stats", "builder", "codec", "wand", "serving", "merge", "delete")
STAGES = ("docs", "termfreq", "docstats", "dictionary", "postings")


def query_seed(seed: int) -> int:
    """Base of the run's query stream.  ``make_queries`` seeds query j
    with ``base + j``, so bases 100k apart give disjoint streams."""
    return 10_000_000 + seed * 100_000


class Bench:
    """One run: the Spark session, the tracer and the operation counts."""

    def __init__(self, seed: int, seconds: float, tracer, work: Path):
        self.seed = seed
        self.seconds = seconds
        self.tracer = tracer
        self.traced = isinstance(tracer, Tracer)
        self.work = work
        self.nproc = len(os.sched_getaffinity(0))
        self.attempted = 0
        self.failed = 0
        self.notes: list[str] = []
        self.spark = None
        self.peak_rss_kib = 0

    def start_session(self) -> float:
        t0 = time.perf_counter()
        with self.tracer.span("session.get_spark"):
            self.spark = get_spark(
                app_name="perfbench",
                master=f"local[{self.nproc}]",
                extra_conf={
                    "spark.driver.extraJavaOptions":
                        f"-Djava.io.tmpdir={self.work / 'tmp'} -XX:-UsePerfData",
                    "spark.local.dir": str(self.work / "local"),
                    "spark.sql.warehouse.dir": str(self.work / "warehouse"),
                },
            )
        return time.perf_counter() - t0

    def warm_up(self, wand: bool) -> None:
        """A build of WARMUP_DOCS docs and, with ``wand``, one small
        ``query_topk`` batch over it: each engine path the run times
        has run once in this JVM."""
        root = str(self.work / "warmup")
        docs = self.spark.createDataFrame(fixtures.make_corpus_fast(WARMUP_DOCS, self.seed))
        self.call("builder.build_index", build_index, self.spark, docs, root, req="warmup")
        if wand:
            fi = self.call("wand.load", FulltextIndex.load, self.spark, root, req="warmup")
            qdf = query_batches(query_seed(self.seed) + 70_000, PROBE_QUERIES, 1)[0]
            wand_batch(self, fi, qdf)

    def call(self, name: str, fn, *args, req=None, **kw):
        """One engine call: counted as an attempted operation and traced
        as span ``name``.  An exception ends the run."""
        self.attempted += 1
        with self.tracer.span(name, req):
            try:
                return fn(*args, **kw)
            except BaseException:
                self.failed += 1
                raise

    def check(self, ok: bool, what: str) -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.notes.append(what)

    def sample_rss(self) -> None:
        self.peak_rss_kib = max(self.peak_rss_kib, _status_kib("VmHWM"))

    def rearm_rss(self) -> None:
        """Reset the kernel's peak-RSS mark after a block of checks."""
        Path("/proc/self/clear_refs").write_text("5")

    def close(self) -> None:
        if self.spark is None:
            return
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        self.spark.stop()
        # the JVM exits when its stdin closes; wait for it
        proc = getattr(gateway, "proc", None)
        if gateway is not None:
            gateway.shutdown()
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
        SparkContext._gateway = None
        SparkContext._jvm = None


# ---------------------------------------------------------------- helpers


def _status_kib(field: str) -> int:
    for line in Path("/proc/self/status").read_text().splitlines():
        if line.startswith(field + ":"):
            return int(line.split()[1])
    raise KeyError(field)


def dir_bytes(root: str) -> int:
    """Bytes of an index directory's data files.  ``manifest.json`` is
    left out: it records stage timings, so its length varies by run."""
    return sum(p.stat().st_size for p in Path(root).rglob("*")
               if p.is_file() and p.name != "manifest.json")


def pct(values, q: float) -> float:
    return float(np.percentile(np.asarray(values, dtype=np.float64), q))


def med(values) -> float:
    return float(statistics.median(values))


def windowed_p99(values) -> float:
    """Median over consecutive windows of P99_WINDOW samples (the last
    window takes the remainder) of each window's p99."""
    chunks = np.array_split(np.asarray(values, dtype=np.float64), max(1, len(values) // P99_WINDOW))
    return med([np.percentile(c, 99) for c in chunks])


def content_bytes(contents) -> int:
    return int(sum(len(c.encode()) for c in contents))


def manifest(root: str) -> dict:
    return json.loads(Path(root, "manifest.json").read_text())


def tokens(text: str) -> list[str]:
    return ws_split(standardize_data(text))


def check_against_reference(b: Bench, ref: RefBM25, doc_ids, results, what: str):
    """Top-k doc ids must equal the reference scorer's exactly and the
    scores agree to 1e-9 relative.  ``results`` is [(query, [(id, score)])];
    ``doc_ids[i]`` is the id of the reference's i-th doc, ascending."""
    doc_ids = np.asarray(doc_ids)
    for q, got in results:
        scores = ref.get_scores(tokens(q))
        top = topk_desc(scores, K)
        got_ids = [d for d, _ in got]
        ok = got_ids == doc_ids[top].tolist() and all(
            abs(s - e) <= 1e-9 * abs(e) for (_, s), e in zip(got, scores[top])
        )
        b.check(ok, f"{what}: top-{K} differs from the reference scorer for {q!r}")


def codec_metrics(b: Bench, root: str) -> dict:
    """Decode then re-encode every posting row of the index at ``root``
    with the codec's public functions; both directions must round-trip."""
    import pyarrow.parquet as pq

    m = manifest(root)
    window = m["params"]["segment_doc_window"]
    t = pq.read_table(Path(root, "postings"), columns=["seg_id", "doc_ids_enc", "tfs_enc", "dls_enc"])
    rows = list(zip(t.column("seg_id").to_pylist(), t.column("doc_ids_enc").to_pylist(),
                    t.column("tfs_enc").to_pylist(), t.column("dls_enc").to_pylist()))
    n = int(m["total_postings"])
    t0 = time.perf_counter()
    with b.tracer.span("codec.decode"):
        dec = [(codec.decode_docids(d, s * window), codec.decode_varint(tf), codec.decode_varint(dl))
               for s, d, tf, dl in rows]
    t_dec = time.perf_counter() - t0
    t0 = time.perf_counter()
    with b.tracer.span("codec.encode"):
        enc = [(codec.encode_docids(ids, s * window), codec.encode_varint(tf), codec.encode_varint(dl))
               for (s, _, _, _), (ids, tf, dl) in zip(rows, dec)]
    t_enc = time.perf_counter() - t0
    b.check(all(e == (d, tf, dl) for e, (_, d, tf, dl) in zip(enc, rows)),
            "codec: re-encoded postings differ from the stored bytes")
    return {
        "codec.decode_mpostings_per_s": (n / t_dec / 1e6, "Mpostings/s"),
        "codec.encode_mpostings_per_s": (n / t_enc / 1e6, "Mpostings/s"),
        "codec.bytes_per_posting": (float(m["bytes_per_posting"]), "B"),
    }


def builder_metrics(b: Bench, root: str, build_s: float) -> dict:
    m = manifest(root)
    out = {"builder.build_s": (build_s, "s"), "builder.docs_per_s": (N_DOCS / build_s, "docs/s")}
    for st in STAGES:
        out[f"builder.stage.{st}_s"] = (float(m["stages"][st]["seconds"]), "s")
    out["builder.postings_per_s"] = (m["total_postings"] / build_s, "postings/s")
    out["builder.skew_ratio_group"] = (float(m["skew_ratio_group"]), "count")
    return out


def serving_postings_touched(srv: LocalIndexServer, query: str) -> int:
    """Σ len(slots) over the distinct in-vocabulary query terms that
    ``LocalIndexServer.query`` accumulates (idf != 0)."""
    n = 0
    for t in set(tokens(query)):
        tp = srv.term_post.get(t)
        if tp is not None and srv.term_idf.get(t, 0.0) != 0.0:
            n += len(tp.slots)
    return n


def n_matched(srv: LocalIndexServer, query: str) -> int:
    slots = [srv.term_post[t].slots for t in set(tokens(query))
             if t in srv.term_post and srv.term_idf.get(t, 0.0) != 0.0]
    return len(np.unique(np.concatenate(slots))) if slots else 0


def timed_reads(b: Bench, srv: LocalIndexServer, queries, seconds: float, sharded=False, req=None):
    """Closed loop, one client: each query is sent when the previous
    answer is back, until ``seconds`` have passed or the queries run out.
    Returns (latencies_s, wall_s, answers): the first REF_SAMPLE answers
    in full, then a hash of each answer for the equality checks."""
    fn = srv.query_sharded if sharded else srv.query
    name = "serving.query_sharded" if sharded else "serving.query"
    lat, answers = [], []
    t_start = time.perf_counter()
    t_end = t_start + seconds
    for q in queries:
        t0 = time.perf_counter()
        res = b.call(name, fn, q, K, req=req)
        lat.append(time.perf_counter() - t0)
        answers.append(res if len(answers) < REF_SAMPLE else hash(tuple(res)))
        if t0 >= t_end:
            break
    return lat, time.perf_counter() - t_start, answers


@contextlib.contextmanager
def untraced(b: Bench):
    """Calls inside run with tracing off (the tracing-overhead baseline)."""
    traced, b.tracer = b.tracer, NullTracer()
    try:
        yield
    finally:
        b.tracer = traced


def per_layer_units() -> dict:
    """Every per-layer metric and its unit; both workloads report all."""
    u = {"session.start_s": "s", "stats.termfreq_s": "s", "builder.build_s": "s",
         "builder.docs_per_s": "docs/s"}
    u.update({f"builder.stage.{s}_s": "s" for s in STAGES})
    u.update({"builder.postings_per_s": "postings/s", "builder.skew_ratio_group": "count",
              "builder.index_bytes_per_input_byte": "ratio",
              "codec.decode_mpostings_per_s": "Mpostings/s",
              "codec.encode_mpostings_per_s": "Mpostings/s", "codec.bytes_per_posting": "B",
              "wand.load_s": "s", "wand.first_batch_s": "s", "wand.batch_k150_s": "s", "wand.batch_k10_s": "s",
              "wand.exhaustive_batch_s": "s", "wand.prune_ratio": "ratio",
              "wand.segments_read_per_query": "count", "serving.load_s": "s",
              "serving.resident_mib": "MiB", "serving.estimate_over_resident": "ratio",
              "serving.postings_touched_per_query": "count", "serving.ns_per_posting_touched": "ns",
              "serving.tokenize_us_per_query": "us", "serving.sharded_p50_ms": "ms",
              "serving.sharded_p99_ms": "ms", "serving.sharded_fallback_ratio": "ratio",
              "serving.sharded_queries": "count", "serving.hot_read_p50_ms": "ms",
              "serving.hot_read_p99_ms": "ms", "serving.hot_read_qps": "queries/s",
              "merge.merge_s": "s", "merge.bytes_written": "B", "delete.delete_s": "s",
              "delete.bytes_written": "B", "ingest.visible_s": "s",
              "ingest.delta_docs_per_s": "docs/s", "ingest.write_bytes_per_input_byte": "ratio"})
    u.update({f"self.{layer}_s": "s" for layer in LAYERS})
    u.update({"trace.spans": "count", "trace.overhead_read_p50_ms": "ms"})
    return u


def finish_layers(b: Bench, layer: dict) -> dict:
    """Add the spans' self time per layer, in the canonical order."""
    if not b.traced:
        return {}
    own = b.tracer.self_by_layer()
    for name in LAYERS:
        layer[f"self.{name}_s"] = (own[name], "s")
    layer["trace.spans"] = (float(len(b.tracer.spans)), "count")
    out = {}
    for name, unit in per_layer_units().items():
        value, got_unit = layer[name]
        assert got_unit == unit, name
        out[name] = (value, unit)
    return out


def end_to_end(b: Bench, **m) -> dict:
    units = {
        "setup_s": "s",
        "read_p50_ms": "ms",
        "read_p99_ms": "ms",
        "read_qps": "queries/s",
        "index_bytes_per_input_byte": "ratio",
        "driver_peak_rss_mib": "MiB",
    }
    m["driver_peak_rss_mib"] = b.peak_rss_kib / 1024
    return {name: (m[name], unit) for name, unit in units.items()}


def _digest(answer) -> int:
    return answer if isinstance(answer, int) else hash(tuple(answer))


def overhead_ms(traced_s: list[float], untraced_s: list[float]) -> float:
    return (med(traced_s) - med(untraced_s)) * 1e3


# ------------------------------------------------------------ layer steps


def serve_reads(b: Bench, srv: LocalIndexServer, stream: list[str], seconds: float):
    """Distinct queries from one closed-loop client: ``query`` for
    SEQ_SHARE of ``seconds``, then ``query_sharded`` through a forked
    pool of one worker per core for the rest."""
    seq_lat, seq_wall, seq_res = timed_reads(b, srv, stream, seconds * SEQ_SHARE)
    seq_q = stream[: len(seq_lat)]
    rest = stream[len(seq_lat) :]
    with srv:  # stops the shard pool on exit
        b.call("serving.start_workers", srv.start_workers, b.nproc)
        sh_lat, _, sh_res = timed_reads(b, srv, rest, seconds * (1 - SEQ_SHARE), sharded=True)
    return SimpleNamespace(seq_lat=seq_lat, seq_wall=seq_wall, seq_q=seq_q, seq_res=seq_res,
                           sh_lat=sh_lat, sh_q=rest[: len(sh_lat)], sh_res=sh_res)


def load_server(b: Bench, root: str):
    """``LocalIndexServer.load``; returns (server, load_s, resident bytes)."""
    rss0 = _status_kib("VmRSS")
    t = time.perf_counter()
    srv = b.call("serving.load", LocalIndexServer.load, b.spark, root)
    load_s = time.perf_counter() - t
    return srv, load_s, (_status_kib("VmRSS") - rss0) * 1024


def serving_layer(b: Bench, srv, root: str, reads, stream, load_s: float, resident: int) -> dict:
    touched = sum(serving_postings_touched(srv, q) for q in reads.seq_q)
    t_tok = time.perf_counter()
    for q in stream[:1000]:
        tokens(q)
    tok_s = time.perf_counter() - t_tok
    fallback = sum(n_matched(srv, q) < K for q in reads.sh_q)
    return {
        "serving.load_s": (load_s, "s"),
        "serving.resident_mib": (resident / 2**20, "MiB"),
        "serving.estimate_over_resident": (
            LocalIndexServer.resident_estimate(manifest(root)) / resident, "ratio"),
        "serving.postings_touched_per_query": (
            float(np.mean([serving_postings_touched(srv, q) for q in stream[:1000]])), "count"),
        "serving.ns_per_posting_touched": (sum(reads.seq_lat) / touched * 1e9, "ns"),
        "serving.tokenize_us_per_query": (tok_s / 1000 * 1e6, "us"),
        "serving.sharded_p50_ms": (pct(reads.sh_lat, 50) * 1e3, "ms"),
        "serving.sharded_p99_ms": (pct(reads.sh_lat, 99) * 1e3, "ms"),
        "serving.sharded_fallback_ratio": (fallback / len(reads.sh_q), "ratio"),
        "serving.sharded_queries": (float(len(reads.sh_q)), "count"),
    }


def check_reads(b: Bench, srv, reads, ref: RefBM25, doc_ids, what: str) -> None:
    differ = sum(_digest(got) != hash(tuple(srv.query(q, K))) for q, got in zip(reads.sh_q, reads.sh_res))
    b.check(differ == 0, f"{what}: query_sharded differs from query on {differ} queries")
    check_against_reference(b, ref, doc_ids, list(zip(reads.seq_q, reads.seq_res[:REF_SAMPLE])), what)


def wand_batches(b: Bench, fi, first_q: pd.DataFrame, pool: list[pd.DataFrame], seconds: float,
                 min_warm: int = 1):
    """``query_topk`` k=150 batches: the first after load alone, then
    batches from ``pool`` until ``seconds`` have passed and at least
    ``min_warm`` ran.  Returns (first_s, first_rows, warm_s)."""
    first_s, first_rows = wand_batch(b, fi, first_q)
    warm_s = []
    t_end = time.perf_counter() + seconds
    for qdf in pool:
        warm_s.append(wand_batch(b, fi, qdf)[0])
        if time.perf_counter() >= t_end and len(warm_s) >= min_warm:
            break
    return first_s, first_rows, warm_s


def query_batches(base: int, size: int, n: int) -> list[pd.DataFrame]:
    """``n`` batches of ``size`` distinct queries with the same spread of
    query lengths: the pool is ordered by token count and dealt out
    round-robin.  A batch's cost grows with its queries' lengths, so
    equal mixes keep batch times comparable across batches and seeds.
    Query ids name the position in the batch, so every seed spreads its
    batches over the engine's hash partitions the same way."""
    pool = fixtures.make_queries(size * n, base)
    order = pool.assign(n_tok=pool["query_text"].map(lambda q: len(tokens(q)))).sort_values(
        ["n_tok", "query_id"], kind="stable").index
    return [pool.loc[order[i::n]].reset_index(drop=True).assign(
                query_id=[f"b{i:02d}q{k:03d}" for k in range(size)]) for i in range(n)]


def wand_batch(b: Bench, fi, qdf: pd.DataFrame, k=K, mode="wand"):
    # query_scope drops the batch's cached relations on exit, so no
    # batch reuses another's kernel output or query constants
    sdf = b.spark.createDataFrame(qdf)
    with query_scope(b.spark):
        t = time.perf_counter()
        rows = b.call("wand.query_topk", lambda: query_topk(fi, sdf, k, mode=mode).collect())
        return time.perf_counter() - t, rows


def wand_layer(b: Bench, fi, root: str, first_q, warm_q, first_s, warm_s, load_s: float) -> dict:
    """k=10 and exhaustive batches over the first warm batch's queries;
    the prune ratio is exhaustive over WAND time on that batch."""
    k10 = wand_batch(b, fi, warm_q, k=10)[0]
    exh = wand_batch(b, fi, warm_q, mode="exhaustive")[0]
    return {
        "wand.load_s": (load_s, "s"),
        "wand.first_batch_s": (first_s, "s"),
        "wand.batch_k150_s": (med(warm_s), "s"),
        "wand.batch_k10_s": (k10, "s"),
        "wand.exhaustive_batch_s": (exh, "s"),
        "wand.prune_ratio": (exh / warm_s[0], "ratio"),
        "wand.segments_read_per_query": (segments_read_per_query(root, first_q), "count"),
    }


def check_batch(b: Bench, srv, first_q, first_rows, ref: RefBM25, doc_ids) -> None:
    """``query_topk`` must equal ``LocalIndexServer.query`` on the whole
    batch, and a sample must match the reference scorer."""
    got: dict = {}
    for r in sorted(first_rows, key=lambda r: (r.query_id, r.rank)):
        got.setdefault(r.query_id, []).append((int(r.doc_id), float(r.score)))
    pairs = list(zip(first_q["query_id"], first_q["query_text"]))
    differ = sum(got.get(qid, []) != srv.query(q, K) for qid, q in pairs)
    b.check(differ == 0, f"query_topk differs from LocalIndexServer.query on {differ} queries")
    check_against_reference(b, ref, doc_ids, [(q, got.get(qid, [])) for qid, q in pairs[:REF_SAMPLE]],
                            "query_topk")


def segments_read_per_query(root: str, queries: pd.DataFrame) -> float:
    """Posting rows whose term_id is one of the query's terms (idf != 0),
    computed from the dictionary and postings tables."""
    import pyarrow.parquet as pq

    d = pq.read_table(Path(root, "dictionary"), columns=["term", "term_id", "idf"]).to_pandas()
    d = d[d["idf"] != 0]
    rows = pq.read_table(Path(root, "postings"), columns=["term_id"]).to_pandas()["term_id"].value_counts()
    per_term = dict(zip(d["term"], d["term_id"].map(rows).fillna(0).astype(int)))
    return float(np.mean([sum(per_term.get(t, 0) for t in set(tokens(q))) for q in queries["query_text"]]))


def stats_layer(b: Bench, docs) -> dict:
    t = time.perf_counter()
    b.call("stats.term_frequencies_with_dl", lambda: ops_stats.term_frequencies_with_dl(
        docs.select("doc_id", "content")).write.format("noop").mode("overwrite").save())
    return {"stats.termfreq_s": (time.perf_counter() - t, "s")}


def write_cycle(b: Bench, corpus: pd.DataFrame, root: str, hot: list[str],
                n_new: int, n_chg: int, n_del: int, passes: int):
    """One write beside reads.  A delta of ``n_new`` new docs plus
    ``n_chg`` existing doc ids with new content is built; the changed
    docs' old versions and ``n_del`` takedowns are deleted from the
    index at ``root`` in one ``delete_docs`` call; the delta is merged
    in; the server reloads and the hot queries replay ``passes`` times.
    (Delete-then-merge is what ``upsert_index`` does for changed docs;
    one delete for both saves a Spark pass per write.)

    Returns its per-layer metrics; the output checks run after the
    timed part."""
    new = fixtures.make_corpus_fast(n_new, 1_000_000 + b.seed)
    new["doc_id"] += int(corpus.index.max()) + 1
    pick = np.random.default_rng(b.seed).choice(corpus.index.to_numpy(), n_chg + n_del, replace=False)
    chg = corpus.loc[np.sort(pick[:n_chg])].copy()
    chg["content"] = fixtures.make_corpus_fast(n_chg, 2_000_000 + b.seed)["content"].to_numpy()
    delta = pd.concat([new, chg], ignore_index=True)
    d_root, x_root, m_root = (str(b.work / p) for p in ("delta", "deleted", "merged"))

    with b.tracer.span("ingest.cycle"):
        t_arrive = time.perf_counter()
        sdf = b.spark.createDataFrame(delta)
        t = time.perf_counter()
        b.call("builder.build_index", build_index, b.spark, sdf, d_root)
        delta_build_s = time.perf_counter() - t
        t = time.perf_counter()
        b.call("delete.delete_docs", delete_docs, b.spark, root, np.sort(pick).tolist(), x_root)
        delete_s = time.perf_counter() - t
        t = time.perf_counter()
        b.call("merge.merge_indexes", merge_indexes, b.spark, x_root, d_root, m_root)
        merge_s = time.perf_counter() - t
        srv = b.call("serving.load", LocalIndexServer.load, b.spark, m_root)
        b.call("serving.query", srv.query, hot[0], K)
        visible_s = time.perf_counter() - t_arrive
    hot_lat, hot_wall = [], 0.0
    for _ in range(passes):
        lat, wall, _ = timed_reads(b, srv, hot, 1e9)
        hot_lat += lat
        hot_wall += wall
    b.sample_rss()
    write_amp = (dir_bytes(d_root) + dir_bytes(x_root) + dir_bytes(m_root)) / content_bytes(delta["content"])
    layer = {
        "ingest.visible_s": (visible_s, "s"),
        "ingest.delta_docs_per_s": (len(delta) / delta_build_s, "docs/s"),
        "serving.hot_read_p50_ms": (pct(hot_lat, 50) * 1e3, "ms"),
        "serving.hot_read_p99_ms": (pct(hot_lat, 99) * 1e3, "ms"),
        "serving.hot_read_qps": (len(hot_lat) / hot_wall, "queries/s"),
        "merge.merge_s": (merge_s, "s"),
        "merge.bytes_written": (float(dir_bytes(m_root)), "B"),
        "delete.delete_s": (delete_s, "s"),
        "delete.bytes_written": (float(dir_bytes(x_root)), "B"),
        "ingest.write_bytes_per_input_byte": (write_amp, "ratio"),
    }

    # -- checks: takedowns gone, the served ids are the new corpus,
    # reference scores over it, changed docs score with their new content
    cur = pd.concat([corpus.drop(index=pick), delta.set_index("doc_id", drop=False)]).sort_index()
    ids = cur.index.to_numpy()
    b.check(not np.isin(pick[n_chg:], srv.all_doc_ids).any(), "write: a deleted doc is still served")
    b.check(np.array_equal(srv.all_doc_ids, ids), "write: served doc ids differ from the corpus")
    ref = RefBM25([tokens(c) for c in cur["content"]], srv.params)
    check_against_reference(b, ref, ids, [(q, srv.query(q, K)) for q in hot[:REF_SAMPLE]], "write")
    for doc_id, content in zip(chg["doc_id"][:REF_SAMPLE], chg["content"][:REF_SAMPLE]):
        q = " ".join(content.split(" ")[:8])
        expect = ref.get_scores(tokens(q))[np.searchsorted(ids, doc_id)]
        got = dict(srv.query(q, len(ids))).get(int(doc_id), float("nan"))
        b.check(abs(got - expect) <= 1e-9 * abs(expect),
                f"write: changed doc {doc_id} does not score with its new content")
    b.check(b.call("builder.verify_integrity", verify_integrity, b.spark, IndexPaths(m_root),
                   b.spark.createDataFrame(cur.reset_index(drop=True))) == 0,
            "write: verify_integrity reported bad rows")
    b.rearm_rss()
    return layer


# --------------------------------------------------------------- workloads


def set_up(b: Bench, corpus: pd.DataFrame, root: str, wand: bool):
    """Session start, the warm-up and the measured build.
    Returns (session_s, build_s, the corpus DataFrame)."""
    session_s = b.start_session()
    b.warm_up(wand)
    docs = b.spark.createDataFrame(corpus.reset_index(drop=True))
    t = time.perf_counter()
    b.call("builder.build_index", build_index, b.spark, docs, root)
    return session_s, time.perf_counter() - t, docs


def serve(b: Bench):
    """Interactive serving: one client in a closed loop sends distinct
    queries to ``LocalIndexServer.query``, then through the forked shard
    pool.  The traced run adds a full-size ``write_cycle`` (~5% new docs,
    ~1% changed docs, ~1% takedowns, reload, hot-query replay) and a
    small WAND probe."""
    corpus = fixtures.make_corpus_fast(N_DOCS, b.seed).set_index("doc_id", drop=False)
    stream = fixtures.make_queries(STREAM, query_seed(b.seed))["query_text"].tolist()
    root = str(b.work / "index")

    t0 = time.perf_counter()
    session_s, build_s, docs = set_up(b, corpus, root, wand=False)
    srv, load_s, resident = load_server(b, root)
    setup_s = time.perf_counter() - t0
    timed_reads(b, srv, stream[:WARM_QUERIES], 1e9)
    reads = serve_reads(b, srv, stream[WARM_QUERIES:], b.seconds)
    b.sample_rss()

    layer = {"session.start_s": (session_s, "s")}
    if b.traced:
        layer.update(serving_layer(b, srv, root, reads, stream, load_s, resident))
        layer.update(read_overhead(b, srv, reads))
    check_reads(b, srv, reads, RefBM25([tokens(c) for c in corpus["content"]], srv.params),
                corpus.index.to_numpy(), "serve")
    b.check(b.call("builder.verify_integrity", verify_integrity, b.spark, IndexPaths(root), docs) == 0,
            "serve: verify_integrity reported bad rows")

    if b.traced:
        del srv
        b.rearm_rss()
        hot = fixtures.make_queries(HOT_QUERIES, query_seed(b.seed) + 50_000)["query_text"].tolist()
        layer.update(write_cycle(b, corpus, root, hot, N_DOCS // 20, N_DOCS // 100, N_DOCS // 100,
                                 HOT_PASSES))
        layer.update(common_layers(b, root, build_s, docs, corpus))
        # the WAND layer, which this workload does not use, on small batches
        fi, fi_load_s = load_fulltext(b, root)
        small = query_batches(query_seed(b.seed) + 60_000, PROBE_QUERIES, 2)
        first_s, _, warm_s = wand_batches(b, fi, small[0], small[1:], 0)
        layer.update(wand_layer(b, fi, root, small[0], small[1], first_s, warm_s, fi_load_s))

    e2e = end_to_end(
        b,
        setup_s=setup_s,
        read_p50_ms=pct(reads.seq_lat, 50) * 1e3,
        read_p99_ms=windowed_p99(reads.seq_lat) * 1e3,
        read_qps=len(reads.seq_lat) / reads.seq_wall,
        index_bytes_per_input_byte=dir_bytes(root) / content_bytes(corpus["content"]),
    )
    return e2e, finish_layers(b, layer)


def batch_retrieve(b: Bench):
    """Offline retrieval: ``query_topk`` k=150 batches of BATCH_QUERIES
    distinct queries through the distributed WAND path.  Nothing in the
    timed part uses ``index.serving``.  The traced run adds a short
    serving read phase and a small ``write_cycle``."""
    corpus = fixtures.make_corpus_fast(N_DOCS, b.seed).set_index("doc_id", drop=False)
    qbase = query_seed(b.seed)
    first_q, *pool = query_batches(qbase, BATCH_QUERIES, 13)
    root = str(b.work / "index")

    t0 = time.perf_counter()
    session_s, build_s, docs = set_up(b, corpus, root, wand=True)
    fi, load_s = load_fulltext(b, root)
    setup_s = time.perf_counter() - t0
    first_s, first_rows, warm_s = wand_batches(b, fi, first_q, pool, b.seconds, MIN_WARM_BATCHES)
    b.sample_rss()

    layer = {"session.start_s": (session_s, "s")}
    if b.traced:
        layer.update(common_layers(b, root, build_s, docs, corpus))
        layer.update(wand_layer(b, fi, root, first_q, pool[0], first_s, warm_s, load_s))

    srv, srv_load_s, resident = load_server(b, root)
    ref = RefBM25([tokens(c) for c in corpus["content"]], fi.params)
    check_batch(b, srv, first_q, first_rows, ref, corpus.index.to_numpy())
    b.check(b.call("builder.verify_integrity", verify_integrity, b.spark, IndexPaths(root), docs) == 0,
            "batch_retrieve: verify_integrity reported bad rows")

    if b.traced:
        # the layers this workload does not use: a short read phase and
        # a small write
        stream = fixtures.make_queries(PROBE_STREAM, qbase + 60_000)["query_text"].tolist()
        reads = serve_reads(b, srv, stream, PROBE_SECONDS)
        layer.update(serving_layer(b, srv, root, reads, stream, srv_load_s, resident))
        layer.update(read_overhead(b, srv, reads))
        check_reads(b, srv, reads, ref, corpus.index.to_numpy(), "probe reads")
        del srv, ref
        layer.update(write_cycle(b, corpus, root, stream[:HOT_QUERIES], PROBE_DELTA,
                                 PROBE_DELTA // 10, PROBE_DELTA // 10, 1))

    e2e = end_to_end(
        b,
        setup_s=setup_s,
        read_p50_ms=med(warm_s) * 1e3,
        read_p99_ms=pct(np.repeat(warm_s, BATCH_QUERIES), 99) * 1e3,
        read_qps=BATCH_QUERIES * len(warm_s) / sum(warm_s),
        index_bytes_per_input_byte=dir_bytes(root) / content_bytes(corpus["content"]),
    )
    return e2e, finish_layers(b, layer)


def read_overhead(b: Bench, srv, reads) -> dict:
    """Tracing overhead: the first sequential reads again, untraced."""
    with untraced(b):
        again, _, _ = timed_reads(b, srv, reads.seq_q[:1000], 1e9)
    return {"trace.overhead_read_p50_ms": (overhead_ms(reads.seq_lat[: len(again)], again), "ms")}


def load_fulltext(b: Bench, root: str):
    t = time.perf_counter()
    fi = b.call("wand.load", FulltextIndex.load, b.spark, root)
    return fi, time.perf_counter() - t


def common_layers(b: Bench, root: str, build_s: float, docs, corpus) -> dict:
    """Builder, codec and stats metrics, and the index's size on disk."""
    out = builder_metrics(b, root, build_s)
    out["builder.index_bytes_per_input_byte"] = (
        dir_bytes(root) / content_bytes(corpus["content"]), "ratio")
    out.update(codec_metrics(b, root))
    out.update(stats_layer(b, docs))
    return out
