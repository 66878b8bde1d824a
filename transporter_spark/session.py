"""SparkSession factory tuned for both local testing and cluster scale.

The reference engine is single-process (goroutines + channels,
reference pipe/pipe.go:26-30); here a single SparkSession is the engine
runtime. Configuration choices are scale-first:

- AQE on: runtime coalescing of shuffle partitions, skew-join splitting,
  and dynamic join-strategy demotion/promotion — the knobs the reference
  has no analog for.
- shuffle.partitions defaults to 2x cores locally; on a real cluster the
  value is overridden by the submitter (AQE coalescing makes the initial
  number mostly a ceiling).
- Arrow enabled for the few pandas-UDF paths (dedup/multimodal), so the
  Python hop is batch-columnar, never row-at-a-time.
"""

from __future__ import annotations

import os
import threading
from contextlib import contextmanager

from pyspark.sql import SparkSession

_DEFAULTS = {
    # Adaptive execution: coalesce small shuffle partitions, split skewed
    # ones, demote to broadcast join when a side turns out small.
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # (r15 note: a global coalescePartitions.minPartitionSize=64KB was
    # tried for the CPU-dense embedding stages and REVERTED — it made
    # every small-shuffle query wider and cost more in task dispatch
    # than it saved; the codegen'd dot products made it unnecessary.)
    # Keep small-dim joins broadcast (region/nation/customer dims).
    "spark.sql.autoBroadcastJoinThreshold": "64MB",
    # Arrow for pandas UDF / mapInPandas / toPandas hops.
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.execution.arrow.maxRecordsPerBatch": "10000",
    # Read-side split sizing; at 100TB this keeps tasks ~128MB.
    "spark.sql.files.maxPartitionBytes": "128MB",
    # Deterministic session timezone so oracle comparisons are stable.
    "spark.sql.session.timeZone": "UTC",
    "spark.ui.enabled": "false",
    # the LSH/minhash operators generate very large codegen classes;
    # the default 240m code cache causes JIT backlog/disable and
    # intermittent 10-20x slowdowns on subsequent queries
    "spark.driver.extraJavaOptions": "-XX:ReservedCodeCacheSize=512m",
    # NOT maximal: an oversized heap (48g) measured 10-60x slower on
    # cold pages (lazy allocation + GC over an almost-empty old gen);
    # 16g covers local workloads, clusters set executor memory anyway.
    "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"),
}


def get_spark(app_name: str = "transporter-spark", **overrides: str) -> SparkSession:
    """Create (or get) the engine's SparkSession.

    Locally runs ``local[$SPARK_GRAFT_CPUS]``; on a cluster the master is
    whatever spark-submit provides (we only set master when none is set).
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    builder = SparkSession.builder.appName(app_name)
    if "SPARK_MASTER" not in os.environ and not os.environ.get("SPARK_CONNECT_MODE_ENABLED"):
        builder = builder.master(f"local[{cpus}]")
    shuffle_parts = overrides.pop(
        "spark.sql.shuffle.partitions",
        os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS", "32"),
    )
    builder = builder.config("spark.sql.shuffle.partitions", shuffle_parts)
    for k, v in {**_DEFAULTS, **overrides}.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def stop_spark() -> None:
    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()


# ---------------------------------------------------------------------------
# session-scoped conf scoping (the shared set/restore discipline)
# ---------------------------------------------------------------------------

_SCOPE_LOCK = threading.Lock()
#: session UUID -> (owning thread ident, nesting depth)
_SCOPE_HOLDERS: dict = {}


def _session_uuid(spark: SparkSession) -> str:
    return spark._jsparkSession.sessionUUID()


@contextmanager
def scoped_confs(spark: SparkSession, confs: dict):
    """Set several session confs for a synchronous block and restore
    them on exit.

    `spark.conf` is SESSION-scoped but shared across THREADS, so two
    concurrent scopes on one session could restore each other's values
    and permanently change the session's settings. This manager makes
    that loud instead of silent: a second thread scoping the SAME
    session raises RuntimeError (run concurrent drains on
    `spark.newSession()` — shares the context, scopes the conf);
    same-thread nesting (e.g. the connected-components loop inside an
    ingest epoch) is well-formed LIFO set/restore and stays allowed.
    A conf get/set failure (stopped session) releases the holder slot
    instead of leaking it for this session UUID."""
    key = _session_uuid(spark)
    me = threading.get_ident()
    with _SCOPE_LOCK:
        holder, depth = _SCOPE_HOLDERS.get(key, (None, 0))
        if holder is not None and holder != me:
            raise RuntimeError(
                "concurrent conf scopes on one SparkSession: another "
                "thread is mid-drain on this session; run concurrent "
                "drains on spark.newSession() (same SparkContext, "
                "independent conf) instead"
            )
        _SCOPE_HOLDERS[key] = (me, depth + 1)

    def _release() -> None:
        with _SCOPE_LOCK:
            holder, depth = _SCOPE_HOLDERS[key]
            if depth <= 1:
                del _SCOPE_HOLDERS[key]
            else:
                _SCOPE_HOLDERS[key] = (holder, depth - 1)

    before: dict = {}
    try:
        for k, v in confs.items():
            before[k] = spark.conf.get(k)
            spark.conf.set(k, str(v))
    except BaseException:
        try:
            for k, v in before.items():
                spark.conf.set(k, v)
        finally:
            _release()
        raise
    try:
        yield
    finally:
        try:
            for k, v in before.items():
                spark.conf.set(k, v)
        finally:
            _release()


def scoped_shuffle_partitions(spark: SparkSession, n: int):
    """``scoped_confs`` for ``spark.sql.shuffle.partitions`` alone — the
    scoping every drain/loop in the engine uses (foreachBatch plans and
    streaming state stores get no AQE coalescing, so a vanilla
    session's 200 partitions pay ~200 task launches per stage
    regardless of data volume)."""
    return scoped_confs(spark, {"spark.sql.shuffle.partitions": n})
