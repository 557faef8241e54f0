"""Streaming ANN index maintenance: an embedding stream keeps the
cell-partitioned IVF serving layout current, one micro-batch at a
time — the continuous form of
:func:`..operators.similarity.ivf_index_append`.

Shape: ``foreachBatch`` over a FROZEN quantizer (the k-row
``cent_rows`` list). Each epoch assigns only its own batch with
:func:`..operators.similarity.assign_cells` — a map, no shuffle, no
read of the accumulated index — and writes ``partitionBy(epoch, cell)`` with
DYNAMIC partition overwrite, so a replayed epoch (failure recovery)
overwrites its own partitions instead of double-appending: the same
exactly-once rule as the streaming dedup loop's state tables. Serving
reads the whole tree and prunes on ``cell`` exactly as in the batch
layout (``cell`` stays a partition column under the two-level
layout), so a query never scans epochs it doesn't probe into.

Quantizer drift is a REBUILD decision made outside the stream
(re-run :func:`..operators.similarity.kmeans_centroids` on a sample
and re-lay the corpus); the stream itself never mutates centroids —
silently adapting the quantizer inside an epoch would invalidate
every previously written cell assignment.

Equivalence contract (pytest): after draining N batches, the indexed
(id, cell) rows equal a single batch :func:`ivf_index_write` over the
union corpus, and the serving query returns identical top-k.

Reference analog: the watcher's incremental per-file processing loop
(picoprobe/utils.py:80 ``class Watcher``), upgraded from per-file
side effects to durable partitioned index state.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from picoprobedataflow_spark.operators.similarity import assign_cells
from picoprobedataflow_spark.streaming import loop


def run_ivf_index_stream(vec_stream: DataFrame, cent_rows,
                         index_dir: str, checkpoint_dir: str,
                         vec_col: str = "embedding",
                         id_col: str = "vec_id",
                         available_now: bool = True) -> StreamingQuery:
    """Maintain the IVF serving layout from a streaming DataFrame of
    (id, vector). ``cent_rows`` is the driver-side
    [(cell, centroid)] list returned by
    :func:`..operators.similarity.ivf_index_write` (or collected from
    :func:`kmeans_centroids`).

    A digest of the quantizer persists BESIDE the index (round 16,
    the CMS-geometry class — the module docstring already forbids
    in-stream quantizer drift; now resuming with a DIFFERENT frozen
    centroid set is rejected loudly instead of silently mixing two
    assignment spaces in one tree). The params table lives under
    ``<index_dir>_params``, a sibling, because the index dir itself
    is a pure epoch/cell-partitioned parquet tree a serving read
    must be able to scan whole."""
    import hashlib

    from picoprobedataflow_spark.streaming.dedup_stream import (
        _ensure_params, _fs_list)

    # sorted(): the digest must be ORDER-INSENSITIVE (round-16
    # review find) — the docstring sanctions cent_rows collected
    # from kmeans_centroids, and collect() order is not guaranteed
    # across processes, so an order-sensitive digest would reject a
    # legitimate resume of the identical quantizer.
    digest = hashlib.md5(
        repr(sorted((int(c), [float(x) for x in v])
                    for c, v in cent_rows)).encode()).hexdigest()
    spark = vec_stream.sparkSession
    # stale=: the params live in a SIBLING dir precisely so index_dir
    # stays a pure scannable parquet tree — which means deleting the
    # index for a rebuild leaves the pin behind (round-17 ADVICE
    # fix). When index_dir itself is absent there is no state the
    # old quantizer could mix with, so a leftover pin is a ghost and
    # gets overwritten instead of rejecting the fresh build.
    _ensure_params(spark, index_dir.rstrip("/") + "_params",
                   {"centroids_md5": digest,
                    "n_cells": str(len(cent_rows))},
                   stale=_fs_list(spark, index_dir) is None)

    def _process(batch: DataFrame, epoch_id: int) -> None:
        if not batch.head(1):
            return
        assigned = assign_cells(batch, cent_rows, vec_col)
        (assigned.select(id_col, vec_col, "cell")
                 .withColumn("epoch", F.lit(epoch_id))
                 .write.mode("overwrite")
                 .option("partitionOverwriteMode", "dynamic")
                 .partitionBy("epoch", "cell")
                 .parquet(index_dir))

    return loop.start(vec_stream, checkpoint_dir, _process,
                      available_now)


def read_ivf_index(spark, index_dir: str) -> DataFrame:
    """Load the streamed layout for serving: the ``epoch`` partition
    column is dropped (it exists for exactly-once replay, not for
    queries); ``cell`` remains a partition column, so
    :func:`..operators.similarity.ivf_index_search` over this frame
    partition-prunes its probe."""
    # Hadoop-FS existence probe (round-16 ADVICE class): os.path.isdir
    # reads a remote index_dir (hdfs://, s3a://) as absent; _fs_list
    # resolves any Spark-readable URI or fails loudly.
    from picoprobedataflow_spark.streaming.dedup_stream import _fs_list
    if _fs_list(spark, index_dir) is None:
        raise FileNotFoundError(index_dir)
    return spark.read.parquet(index_dir).drop("epoch")
