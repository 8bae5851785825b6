"""SparkSession factory with scale-oriented defaults.

Tuned for the target deployment (multi-executor cluster, 100 TB-class
corpus) while remaining correct on local[N] test runs:

- AQE on (runtime shuffle coalescing + skew-join splitting),
- Arrow on (every Python crossing is a vectorized batch),
- shuffle partitions sized for the local harness; on a real cluster
  these are overridden by spark-submit conf.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "legal_text_retrieval_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    # default: the cores this process may run on (its CPU affinity)
    cores = os.environ.get("SPARK_GRAFT_CPUS") or str(len(os.sched_getaffinity(0)))
    master = master or f"local[{cores}]"
    if shuffle_partitions is None:
        # local mode: match core count; cluster: set via spark-submit.
        n = master[master.find("[") + 1 : master.find("]")] if "[" in master else "32"
        shuffle_partitions = max(8, int(cores if n == "*" else n))
    b = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "65536")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
    )
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    return b.getOrCreate()


from contextlib import contextmanager  # noqa: E402

# Session confs the volume-based partition-sizing helpers raise and
# never lower (dedup._ensure_dedup_partitions,
# similarity._ensure_embedding_partitions — raise-only by necessity:
# the returned DataFrames are lazy, so the conf must still hold at the
# caller's action).  query_scope snapshots these on entry and restores
# them on exit so one large sweep doesn't pin every later small query
# in the session to a hundreds-high AQE coalesce floor.
SIZED_SHUFFLE_CONFS = (
    "spark.sql.shuffle.partitions",
    "spark.sql.adaptive.coalescePartitions.minPartitionNum",
)


@contextmanager
def query_scope(
    spark: SparkSession,
    keep: tuple = (),
    restore_conf: tuple = SIZED_SHUFFLE_CONFS,
):
    """Batch-scoped cache lifecycle — the CLAUDE.md cache policy made
    code.  Operator-internal ``.cache()`` calls (bm25 tf/ranked,
    combine matched, WAND kernel output, dedup shingles/signatures) are
    session-lifetime by design: the returned DataFrames consume them
    lazily, so operators cannot unpersist before the caller's action.
    A long-lived session issuing many DISTINCT query batches therefore
    accumulates dead cache entries between Spark's LRU evictions.

    Wrap each batch::

        with query_scope(spark, keep=(corpus, queries)):
            run_batch(...)

    On exit every cached relation is dropped (``catalog.clearCache()``
    — plan-keyed, so tracked per-entry unpersist is not reachable from
    the public API) and the relations in ``keep`` are re-registered
    with ``.cache()``; they re-materialize lazily on first use in the
    next batch.  Long-lived ``FulltextIndex`` handles re-pin their
    dictionary/docstats caches automatically on next access
    (``FulltextIndex._pinned``).

    The confs in ``restore_conf`` (default: the two the sweep
    partition-sizing helpers raise) are snapshotted on entry and
    restored — or unset, if they were unset — on exit, making the
    raise-only sizing batch-scoped instead of session-permanent."""
    snapshot: dict[str, str | None] = {}
    for key in restore_conf or ():
        try:
            snapshot[key] = spark.conf.get(key)
        except Exception:
            snapshot[key] = None  # unset before the batch → unset after
    try:
        yield spark
    finally:
        for key, val in snapshot.items():
            try:
                if val is None:
                    spark.conf.unset(key)
                else:
                    spark.conf.set(key, val)
            except Exception:
                pass
        spark.catalog.clearCache()
        for df in keep:
            df.cache()
