#!/usr/bin/env python
"""Where the time of a warm ``query_topk`` batch goes, from Spark's own
event log.

Builds perfbench's ``batch_retrieve`` corpus for a seed (10k docs, a
500-term Zipf vocabulary, default ``IndexParams``), loads it, runs one
warm-up batch, then N warm k=150 batches of 60 queries, each inside its
own ``session.query_scope``.  Spark writes an uncompressed event log
into a temporary directory, which is removed at the end.  Per batch it
prints:

- wall time and the number of Spark jobs;
- per stage: wall time, task count, max and median task time,
  shuffle read/write bytes and Spark's call-site name;
- the driver's gaps: batch start → first job, between jobs, last job →
  batch end;
- postings decoded, from the batch's own query buckets: the kernel
  decodes each (term, segment) row once per bucket holding the term,
  against once per (query, term) when every query decodes its own rows.

Usage: python scripts/wand_batch_profile.py [n_batches] [seed]
       (default 4 of the workload's 12 timed batches, seed 601; cores
       from get_spark's affinity default)
"""

from __future__ import annotations

import json
import shutil
import statistics
import sys
import tempfile
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(ROOT))
sys.path.insert(0, str(ROOT / "perfbench"))  # the batch_retrieve batch shape

K = 150


def read_events(log_dir: Path) -> list[dict]:
    events = []
    # Spark 4 writes a rolling log: a directory of events_<n>_* files
    for f in sorted(log_dir.rglob("events_*")):
        with open(f) as fh:
            events += [json.loads(line) for line in fh if line.strip()]
    return events


def batch_report(events: list[dict], group: str, t0_ms: float, t1_ms: float) -> dict:
    """Jobs, stages and driver gaps of the jobs tagged with ``group``."""
    jobs, stage_job = {}, {}
    for e in events:
        if e["Event"] == "SparkListenerJobStart":
            if (e.get("Properties") or {}).get("spark.jobGroup.id") == group:
                jobs[e["Job ID"]] = {"start": e["Submission Time"], "stages": e["Stage IDs"]}
                stage_job.update({s: e["Job ID"] for s in e["Stage IDs"]})
    stages, tasks = {}, {}
    for e in events:
        if e["Event"] == "SparkListenerJobEnd" and e["Job ID"] in jobs:
            jobs[e["Job ID"]]["end"] = e["Completion Time"]
        elif e["Event"] == "SparkListenerStageCompleted":
            info = e["Stage Info"]
            if info["Stage ID"] in stage_job:
                stages[info["Stage ID"]] = info
        elif e["Event"] == "SparkListenerTaskEnd" and e["Stage ID"] in stage_job:
            tasks.setdefault(e["Stage ID"], []).append(e)
    stage_rows = []
    for sid, info in sorted(stages.items()):
        ts = tasks.get(sid, [])
        dur = [t["Task Info"]["Finish Time"] - t["Task Info"]["Launch Time"] for t in ts]
        metrics = [t.get("Task Metrics") or {} for t in ts]
        read = sum(
            m.get("Shuffle Read Metrics", {}).get("Remote Bytes Read", 0)
            + m.get("Shuffle Read Metrics", {}).get("Local Bytes Read", 0)
            for m in metrics
        )
        write = sum(m.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0) for m in metrics)
        stage_rows.append({
            "stage": sid,
            "job": stage_job[sid],
            "wall_ms": info["Completion Time"] - info["Submission Time"],
            "tasks": len(ts),
            "task_max_ms": max(dur, default=0),
            "task_median_ms": statistics.median(dur) if dur else 0,
            "shuffle_read_bytes": read,
            "shuffle_write_bytes": write,
            "name": info["Stage Name"],
        })
    spans = sorted((j["start"], j["end"]) for j in jobs.values())
    gaps = [spans[0][0] - t0_ms] if spans else []
    gaps += [b[0] - a[1] for a, b in zip(spans, spans[1:])]
    gaps += [t1_ms - spans[-1][1]] if spans else []
    return {"jobs": len(jobs), "stages": stage_rows, "driver_gaps_ms": gaps}


def decoded_postings(index, queries, n_parts: int) -> tuple[int, int]:
    """(per-bucket, per-query) postings decoded for one batch: Σ df over
    each bucket's distinct scoring terms, against Σ df over every
    (query, scoring term) pair."""
    from legal_text_retrieval_spark.index import wand

    df = {r.term_id: r.df for r in index.dictionary().select("term_id", "df").collect()}
    _, scoring, _ = wand._prepare_batch(index, queries, K, "query_text")
    per_query = sum(df[t] for q in scoring for t, _ in q[3])
    per_bucket = sum(
        df[t]
        for bucket in wand._deal_buckets(scoring, n_parts)
        for t in {t for q in bucket for t, _ in q[3]}
    )
    return per_bucket, per_query


def main(n_batches: int, seed: int) -> None:
    from workloads import BATCH_QUERIES, N_DOCS, query_batches, query_seed

    from legal_text_retrieval_spark import fixtures
    from legal_text_retrieval_spark.config import IndexParams
    from legal_text_retrieval_spark.index.builder import build_index
    from legal_text_retrieval_spark.index.wand import FulltextIndex, query_topk
    from legal_text_retrieval_spark.session import get_spark, query_scope

    tmp = Path(tempfile.mkdtemp(prefix="lts_wand_profile_"))
    log_dir = tmp / "events"
    log_dir.mkdir()
    spark = None
    try:
        spark = get_spark(
            app_name="wand-batch-profile",
            extra_conf={
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": f"file://{log_dir}",
                "spark.eventLog.compress": "false",
            },
        )
        sc = spark.sparkContext
        corpus = fixtures.make_corpus_fast(N_DOCS, seed)
        build_index(spark, spark.createDataFrame(corpus), str(tmp / "index"), IndexParams())
        index = FulltextIndex.load(spark, str(tmp / "index"))
        # batch_retrieve's 13 batches: its first batch warms, the rest are timed
        warm, *batches = query_batches(query_seed(seed), BATCH_QUERIES, 13)
        with query_scope(spark):
            query_topk(index, spark.createDataFrame(warm), K).collect()

        marks = []
        for i, pdf in enumerate(batches[:n_batches]):
            with query_scope(spark):
                queries = spark.createDataFrame(pdf)
                group = f"wand_batch_profile.{i}"
                sc.setJobGroup(group, "one warm query_topk batch")
                t0 = time.time() * 1e3
                query_topk(index, queries, K).collect()
                t1 = time.time() * 1e3
                sc.setLocalProperty("spark.jobGroup.id", None)
                decoded = decoded_postings(index, queries, sc.defaultParallelism)
            marks.append((group, t0, t1, decoded))
        print(f"cores {sc.defaultParallelism}, seed {seed}, {BATCH_QUERIES} queries, k={K}")
        spark.stop()
        spark = None

        events = read_events(log_dir)
        for group, t0, t1, (per_bucket, per_query) in marks:
            rep = batch_report(events, group, t0, t1)
            print(f"\n{group}: wall {t1 - t0:.0f} ms, {rep['jobs']} jobs, postings decoded "
                  f"{per_bucket:,} (once per bucket) vs {per_query:,} (once per query)")
            print("  stage job   wall_ms tasks task_max task_med  shuffle_read shuffle_write  call site")
            for s in rep["stages"]:
                print(f"  {s['stage']:>5} {s['job']:>3} {s['wall_ms']:>9} {s['tasks']:>5} "
                      f"{s['task_max_ms']:>8} {s['task_median_ms']:>8.0f} "
                      f"{s['shuffle_read_bytes']:>13,} {s['shuffle_write_bytes']:>13,}  {s['name']}")
            print("  driver gaps ms:", [round(g) for g in rep["driver_gaps_ms"]])
    finally:
        if spark is not None:
            spark.stop()
        shutil.rmtree(tmp, ignore_errors=True)


if __name__ == "__main__":
    main(int(sys.argv[1]) if len(sys.argv) > 1 else 4, int(sys.argv[2]) if len(sys.argv) > 2 else 601)
