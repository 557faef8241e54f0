"""The one micro-batch driver: every streaming loop in the package
starts (and every drain waits) through this module, so the trigger
policy and the drain rule are written once.

- ST1 trigger cadence: the reference's 1 s poll loop
  (``picoprobe/utils.py:97-99``) is the processing-time trigger of a
  continuous loop; a drain (backfill, replay, test) runs
  ``availableNow`` — everything pending, then stop.
- ST2 exactly-once: the checkpoint location every loop passes here
  holds the source offsets (and any operator state).
- Drain rule: a drain that does not finish in ``timeout`` seconds is
  stopped and raises :class:`TimeoutError` naming the loop, instead of
  handing back a partial result.

Per-epoch progress (``StreamingQuery.recentProgress``) belongs to the
query this module starts, so a recorder for every loop hooks in here.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame
from pyspark.sql.streaming import StreamingQuery

#: A ``foreachBatch`` body ``(batch, epoch_id)``, or a ``(format,
#: target)`` sink: ``("parquet", path)`` appends files under ``path``;
#: ``("memory", name)`` fills the in-memory table ``name``.
Sink = Callable[[DataFrame, int], None] | tuple[str, str]


def start(stream: DataFrame, checkpoint_dir: str, sink: Sink,
          available_now: bool = True,
          output_mode: str = "append") -> StreamingQuery:
    """Start the micro-batch loop of ``stream`` into ``sink``:
    ``availableNow`` when ``available_now``, else a 1 s processing-time
    trigger that runs until stopped."""
    writer = (stream.writeStream.outputMode(output_mode)
              .option("checkpointLocation", checkpoint_dir))
    if callable(sink):
        writer = writer.foreachBatch(sink)
    else:
        fmt, target = sink
        writer = writer.format(fmt)
        writer = (writer.queryName(target) if fmt == "memory"
                  else writer.option("path", target))
    if available_now:
        writer = writer.trigger(availableNow=True)
    else:
        writer = writer.trigger(processingTime="1 second")
    return writer.start()


def drain(stream: DataFrame, checkpoint_dir: str, sink: Sink,
          name: str, timeout: float,
          output_mode: str = "append") -> None:
    """Run the loop over everything pending and wait for it to finish.
    The query is stopped however the wait ends; past ``timeout``
    seconds a ``TimeoutError`` names ``name``."""
    q = start(stream, checkpoint_dir, sink, output_mode=output_mode)
    try:
        if not q.awaitTermination(timeout):
            raise TimeoutError(
                f"{name} drain did not finish in {timeout}s")
    finally:
        q.stop()
