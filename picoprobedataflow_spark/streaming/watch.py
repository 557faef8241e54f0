"""Streaming ingest — the reference's Watcher→CheckPoint→flow-launch
loop (EP1) as Structured Streaming.

Mapping (SURVEY §2.9):

- ST1 trigger cadence: the 1 s poll loop (``picoprobe/utils.py:97-99``)
  → the micro-batch driver's trigger policy (:mod:`.loop`: 1 s
  processing time, ``availableNow`` for drains), shared by every
  streaming loop; ``maxFilesPerTrigger`` is the simulator's arrival
  pacing.
- ST2 exactly-once per file: ``CheckPoint.seen`` + append-only seen
  file (``utils.py:109-131``) → the file source's checkpointed offset
  log; restart-safe with no custom state.
- ST3 stateless per-file fan-out: each file independently processed in
  ``foreachBatch`` (the analysis DAG of EP2 runs inside the batch).
- ST4 duplicate suppression: unbounded ``dropDuplicates`` on path ≙
  the reference's unbounded seen-set; the scalable variant adds a
  watermark (``dropDuplicatesWithinWatermark``).
- ST6 event-time analytics: tumbling-window rates over the event
  stream via ``window()`` + watermark.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from picoprobedataflow_spark.io.binary_files import file_manifest
from picoprobedataflow_spark.streaming import loop


def file_watch_stream(spark: SparkSession, directory: str,
                      glob: str = "*.emd",
                      max_files_per_trigger: int | None = None) -> DataFrame:
    """S1 streaming: watch a directory for new files. The glob is the
    ``.emd``-suffix source filter (S2) pushed into the source."""
    # Streaming sources require an explicit schema; binaryFile's is fixed.
    schema = ("path string, modificationTime timestamp, "
              "length long, content binary")
    reader = (spark.readStream.format("binaryFile").schema(schema)
              .option("pathGlobFilter", glob)
              .option("recursiveFileLookup", "true"))
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    return reader.load(directory)


def run_ingest_stream(stream: DataFrame, checkpoint_dir: str,
                      sink: Callable[[DataFrame, int], None] | None = None,
                      output_path: str | None = None,
                      available_now: bool = True) -> StreamingQuery:
    """The ingest pipeline: per micro-batch, build the file manifest
    (checksums/mime — the Publish step) and hand it to ``sink`` (or
    append to ``output_path``). Exactly-once comes from the source
    checkpoint + idempotent sink.

    ``available_now=True`` drains everything pending then stops — the
    batch-replay mode used by tests and backfills; ``False`` runs
    continuously (production watch)."""

    def _process(batch: DataFrame, epoch_id: int) -> None:
        manifest = file_manifest(batch).drop("content", "modificationTime")
        if sink is not None:
            sink(manifest, epoch_id)
        if output_path is not None:
            manifest.write.mode("append").parquet(output_path)

    return loop.start(stream, checkpoint_dir, _process, available_now)


def interval_attribution_join(clicks: DataFrame, purchases: DataFrame,
                              max_delay: str = "1 hour",
                              watermark: str = "2 hours") -> DataFrame:
    """ST extension: stream-stream interval join — attribute each
    purchase to a same-user click at most ``max_delay`` earlier.

    Both sides carry a watermark and the join condition bounds
    ``purchase_ts`` inside ``[click_ts, click_ts + max_delay]``, which
    is exactly what lets Spark expire join state: click rows older
    than ``watermark + max_delay`` can never match again and are
    dropped, so state is bounded by the delay window, not the stream
    length. Works identically on batch inputs (the equivalence-test /
    oracle twin — watermarks are simply skipped)."""
    c = clicks.select(F.col("user_id"), F.col("ts").alias("click_ts"))
    p = purchases.select(F.col("user_id").alias("p_user_id"),
                         F.col("ts").alias("purchase_ts"),
                         F.col("value").alias("purchase_value"))
    if c.isStreaming:
        c = c.withWatermark("click_ts", watermark)
    if p.isStreaming:
        p = p.withWatermark("purchase_ts", watermark)
    cond = ((c.user_id == p.p_user_id)
            & (p.purchase_ts >= c.click_ts)
            & (p.purchase_ts <= c.click_ts + F.expr(f"INTERVAL {max_delay}")))
    return (c.join(p, cond, "inner")
             .select("user_id", "click_ts", "purchase_ts",
                     "purchase_value"))


def windowed_event_rates(events: DataFrame, window: str = "1 hour",
                         watermark: str = "2 hours",
                         ts_col: str = "ts") -> DataFrame:
    """ST6 extension: tumbling-window event rates with late-data
    tolerance — works on either a stream or a batch DataFrame (the
    batch form is the oracle twin)."""
    with_ts = events.withColumn("event_time", F.col(ts_col))
    if with_ts.isStreaming:
        with_ts = with_ts.withWatermark("event_time", watermark)
    return (with_ts.groupBy(F.window("event_time", window), "event_type")
                   .agg(F.count("*").alias("n"),
                        F.round(F.sum("value"), 2).alias("sum_value"))
                   .select(F.col("window.start").alias("window_start"),
                           F.col("window.end").alias("window_end"),
                           "event_type", "n", "sum_value"))


def content_dedup_stream(files: DataFrame, watermark: str = "10 minutes",
                         time_col: str = "modificationTime") -> DataFrame:
    """ST4 scalable variant: suppress CONTENT duplicates (md5 of the
    bytes) within a watermark window — the bounded-state replacement
    for the reference's forever-growing seen-set (picoprobe/utils.py
    :114-119). State holds only fingerprints younger than the
    watermark; a duplicate arriving later than the window re-admits,
    which is the explicit trade the reference's unbounded set never
    had to make. Works on both streaming (stateful) and batch
    (plain dropDuplicates semantics) inputs."""
    with_fp = files.withColumn("fingerprint", F.md5(F.col("content")))
    if not with_fp.isStreaming:
        return with_fp.dropDuplicates(["fingerprint"])
    return (with_fp.withWatermark(time_col, watermark)
                   .dropDuplicatesWithinWatermark(["fingerprint"]))


def bucketed_content_dedup(df: DataFrame, fp_col,
                           ts_us_col: str = "ts",
                           id_col: str = "event_id",
                           horizon_us: int = 3_600_000_000) -> DataFrame:
    """ST4's deterministic batch twin: duplicate suppression within a
    bounded time horizon, the oracle-checkable determinization of
    :func:`content_dedup_stream`'s ``dropDuplicatesWithinWatermark``.

    The streaming form's exact keep-set depends on watermark progress
    across microbatch boundaries (arrival order), so it can never be
    hash-compared against a batch oracle. This form fixes the horizon
    as tumbling ``horizon_us`` buckets over event time: within each
    (fingerprint, bucket) all rows collapse to one group whose
    ``canonical_id`` = min id — the same bounded-state guarantee
    (a duplicate arriving more than one horizon later re-admits, the
    explicit trade vs the reference's unbounded seen-set,
    picoprobe/utils.py:114-119), with an engine-portable keep rule.

    One hash-partition shuffle on (fingerprint, bucket); map-side
    combine does the collapsing, so a hot fingerprint never
    concentrates — bucket is in the key. Returns one row per
    (fingerprint, bucket): (fingerprint, n_docs, canonical_id)."""
    bucket = F.expr(f"{ts_us_col} div {horizon_us}").alias("bucket")
    return (df.groupBy(bucket, fp_col.alias("fingerprint"))
              .agg(F.count("*").alias("n_docs"),
                   F.min(id_col).alias("canonical_id"))
              .select("fingerprint", "n_docs", "canonical_id"))
