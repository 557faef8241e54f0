"""Shared helpers for catalog queries.

Every query fn calls :func:`prep` (defined next to the one conf table
in :mod:`picoprobedataflow_spark.session`) on the session it was handed
(the driver owns the session) so runtime SQL confs critical for oracle
parity are in force:

- ``session.timeZone=UTC`` — DuckDB timestamps are UTC-naive.
- ``legacy.parquet.nanosAsLong=true`` — compatibility with the legacy
  TIMESTAMP(NANOS) layout of the ``events`` table, which Spark's
  vectorized reader otherwise rejects; under that layout ``ts`` reads
  as int64 epoch-ns. The current testdata layout is TIMESTAMP(MICROS),
  which this conf does not touch. :func:`ts_to_us` is the single
  layout-adaptive conversion contract — ALL ``ts`` math (batch and
  stream) goes through it to exact int64 epoch-µs, the unit DuckDB's
  ``epoch_us`` produces.

Streaming catalog queries run through :func:`drain_stream_to_local`,
a drain of the one micro-batch driver (:mod:`..streaming.loop`: its
trigger policy and drain-timeout rule).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from picoprobedataflow_spark.io.tables import load_table
from picoprobedataflow_spark.session import prep
from picoprobedataflow_spark.streaming.loop import drain


def tbl(spark: SparkSession, sf_dir: str, name: str,
        scan_repart: bool = False) -> DataFrame:
    prep(spark)
    return load_table(spark, sf_dir, name, scan_repart=scan_repart)


def ts_to_us(df: DataFrame, col: str = "ts") -> DataFrame:
    """Normalize a timestamp-ish column to exact int64 epoch-µs.

    Two physical layouts exist in the wild for the ``events`` table:

    - TIMESTAMP(NANOS) parquet read as int64 ns (``nanosAsLong``) —
      ``ts div 1000`` (integer division; a double division would lose
      precision at 1.7e18) reproduces DuckDB's truncation to µs.
    - TIMESTAMP(MICROS) / TIMESTAMP_NTZ — ``unix_micros`` after a cast
      to session-tz timestamp (the session is pinned UTC by
      :func:`prep`, so the NTZ→TZ cast is the identity on the wire
      value and matches DuckDB's ``epoch_us`` on the naive timestamp).

    Either way both engines then run identical int64 arithmetic: the
    oracle twin of any ``ts`` math downstream is ``epoch_us(ts)``.

    Works on batch AND streaming DataFrames (pure column expressions).
    The session timezone is pinned to UTC here (not just in callers'
    ``prep``) because the NTZ→TZ cast is only the wire-value identity
    under UTC — without the pin, a non-UTC session would silently skew
    every timestamp."""
    from pyspark.sql.types import LongType

    df.sparkSession.conf.set("spark.sql.session.timeZone", "UTC")
    if isinstance(df.schema[col].dataType, LongType):
        return df.withColumn(col, F.expr(f"{col} div 1000"))
    return df.withColumn(col, F.unix_micros(F.col(col).cast("timestamp")))


def stream_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``events`` as a STREAMING DataFrame. The streaming file source
    requires a user-supplied schema; take it from the batch read of the
    same table so the stream sees exactly the physical layout the batch
    path sees (TIMESTAMP(MICROS) today, int64-ns under the legacy NANOS
    layout + nanosAsLong), then :func:`ts_to_us` applies the one
    layout-adaptive unit conversion — a single source of truth, so a
    future layout change cannot skew a stream while its batch oracle
    stays correct (the round-2 ts-unit lesson)."""
    prep(spark)
    return (spark.readStream
            .schema(tbl(spark, sf_dir, "events").schema)
            .option("pathGlobFilter", "events.parquet")
            .parquet(sf_dir))


def drain_stream_to_local(spark: SparkSession, agg: DataFrame,
                          output_mode: str = "complete",
                          timeout: int = 300) -> DataFrame:
    """Execute a streaming aggregate to completion and return its rows
    as a plain local DataFrame: a drain into a uniquely-named memory
    sink, ephemeral checkpoint (tempdir, removed after the drain), sink
    view dropped once its rows are materialized — so repeated driver
    invocations leak neither disk nor session state."""
    import shutil
    import tempfile
    import uuid

    name = f"stream_sink_{uuid.uuid4().hex[:8]}"
    ckpt = tempfile.mkdtemp(prefix=f"{name}_ckpt_")
    try:
        drain(agg, ckpt, ("memory", name), name, timeout,
              output_mode=output_mode)
        sink = spark.table(name)
        # The memory sink already holds its rows on the driver; lift
        # them into a local DataFrame so the sink view and checkpoint
        # dir can be cleaned up before returning.
        rows, schema = sink.collect(), sink.schema
    finally:
        spark.catalog.dropTempView(name)
        shutil.rmtree(ckpt, ignore_errors=True)
    return spark.createDataFrame(rows, schema)


def events_us(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``events`` with ``ts`` as exact int64 epoch-microseconds
    (see :func:`ts_to_us` for the layout-adaptive conversion)."""
    return ts_to_us(tbl(spark, sf_dir, "events"))


def cents(col="value") -> F.Column:
    """2-decimal double → exact integer hundredths (``655`` for
    ``6.55``). Oracle twin: ``CAST(round(value * 100) AS BIGINT)``.
    Sums/means over the exact integers are bit-identical across
    engines; divide by 100.0 at the end to get back to units."""
    c = F.col(col) if isinstance(col, str) else col
    return F.round(c * 100, 0).cast("long")


#: Oracle-side twin of :func:`cents`.
CENTS_SQL = "CAST(round(value * 100) AS BIGINT)"

#: The five event types in the synthetic events table, pinned so pivots
#: have a deterministic column set (and no discovery pass).
EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
