"""SparkSession factory and the session-scoped state of the engine.

Single place where execution knobs live so every entry point (tests,
bench, driver contract) gets the same tuned session: :func:`get_spark`
builds a session from :data:`_BASE_CONFS`, and :func:`prep` re-applies
its runtime (``spark.sql.*``) entries to a session someone else built.
:func:`session_memo` holds the write-once builds that live as long as
one Spark application.

Scale posture: these configs are written for a real cluster; on
``local[N]`` they degrade gracefully. AQE handles runtime partition
coalescing and skew-join splitting at 100 TB; shuffle partitions are
set from the parallelism actually available rather than the 200
default (too many for local, far too few for a 1000-executor cluster —
on a real deployment AQE's coalescing makes a high initial number
safe).
"""

from __future__ import annotations

import os
from typing import Any, Callable

from pyspark.sql import SparkSession

# Timezone is pinned to UTC so timestamp arithmetic matches the ANSI-SQL
# oracle (DuckDB) byte-for-byte; the reference strips timezones before
# epoch math the same way (flow_analyzer.py:199-204).
#
# The one conf table. Its ``spark.sql.*`` entries are runtime-settable
# and :func:`prep` applies them on every query build, so a value written
# here (e.g. by an A/B arm) is the value in force.
_BASE_CONFS: dict[str, str] = {
    # local[N] = single JVM: driver memory IS executor memory. The 1g
    # Spark default OOMs ~50k-doc dedup joins; but oversizing hurts too
    # (32g measured 2-3x slower than 8g on hash-heavy queries — G1
    # region/young-gen sizing). 8g clears the 10x stress suite with the
    # best GC behavior; override via SPARK_GRAFT_DRIVER_MEM.
    "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"),
    "spark.sql.session.timeZone": "UTC",
    # Compatibility with the legacy TIMESTAMP(NANOS) layout of the
    # ``events`` table, which Spark's vectorized reader otherwise
    # rejects (see plans/common.ts_to_us).
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # Right-sized for local[32] test/bench runs; on a real cluster AQE
    # coalescing makes the initial number non-critical.
    "spark.sql.shuffle.partitions": "32",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # Let AQE coalesce the output partitioning of persisted plans
    # (off by default only because cached partitioning is
    # user-visible). Iterative operators here persist per-round
    # intermediates (BPE merges, LM scores, signature tables); with
    # the default every map stage over a KB-sized cached frame
    # inherits the full shuffle-partition fan-out — measured 26% off
    # bpe_train/bpe_encode/bigram_lm at sf0.1 (32 tasks per ~16 KB
    # cached partition, ~50 sequential jobs). At corpus scale AQE
    # targets advisory-sized partitions, so parallelism is preserved;
    # caches whose downstream compute NEEDS a wider fan-out than
    # their byte size suggests re-spread explicitly
    # (operators/dedup.py:_spread_small_cached).
    "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning": "true",
    # Parquet scans: vectorized reader + pushdown are on by default;
    # keep files from fragmenting into tiny tasks at small SF while
    # still splitting 100 TB inputs into ~128 MB units.
    "spark.sql.files.maxPartitionBytes": "134217728",
    # Let the planner pick shuffled-hash joins where the per-partition
    # build side fits (guide §3.1/§9): hash joins skip both sort
    # passes of sort-merge, AQE's skew splitting still applies, and
    # the interleaved A/B over the SortMergeJoin-bearing keys showed
    # 5-20% off chi2/ks/spam/tpch_gap/cdc with no loser. Sort-merge
    # remains available when size conditions don't hold.
    "spark.sql.join.preferSortMergeJoin": "false",
    "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
    "spark.ui.enabled": "false",
}


def get_spark(app_name: str = "picoprobedataflow_spark",
              master: str | None = None,
              extra_conf: dict[str, str] | None = None) -> SparkSession:
    """Build (or fetch) the tuned SparkSession.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (env, default
    ``*``) so the driver's bench harness controls parallelism.
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
        master = f"local[{cpus}]"
    builder = SparkSession.builder.appName(app_name).master(master)
    conf = dict(_BASE_CONFS)
    if extra_conf:
        conf.update(extra_conf)
    for k, v in conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def prep(spark: SparkSession) -> SparkSession:
    """Apply the runtime (``spark.sql.*``) confs of :data:`_BASE_CONFS`.

    The driver passes its own SparkSession to ``entry()``/``queries()``;
    static confs (memory, master) are already fixed, but SQL confs are
    aligned on every query build so query semantics (timezone!) match
    the oracle."""
    for k, v in _BASE_CONFS.items():
        if k.startswith("spark.sql."):
            spark.conf.set(k, v)
    return spark


#: Write-once builds shared by the queries of one Spark application:
#: key ``(name, applicationId, sf_dir, *params)`` -> built value.
_SESSION_MEMO: dict[tuple, Any] = {}


def session_memo(spark: SparkSession, name: str, sf_dir: str,
                 build: Callable[[], Any], *params: Any) -> Any:
    """``build()`` once per (name, application, sf_dir, params); later
    calls in the same application get the same object back.

    Entries of other (stopped) applications are evicted on the next
    build: they pin localCheckpointed blocks and temp files that are
    unreachable once their app is gone."""
    app = spark.sparkContext.applicationId
    key = (name, app, sf_dir, *params)
    if key not in _SESSION_MEMO:
        for stale in [k for k in _SESSION_MEMO if k[1] != app]:
            del _SESSION_MEMO[stale]
        _SESSION_MEMO[key] = build()
    return _SESSION_MEMO[key]
