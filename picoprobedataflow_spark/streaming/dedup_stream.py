"""Streaming incremental near-dup detection: a document stream is
deduplicated per micro-batch against the signature/band state written
by all previous batches — the daily-crawl dedup loop, run continuously.

Shape: ``foreachBatch`` + parquet state tables. Flink-style keyed
operator state would cap at executor memory; the signature store for a
100 TB corpus is itself terabytes, so it lives as a TABLE (partition
by ``band`` at write time and the candidate equi-join co-locates).
Each epoch:

1. read the accumulated ``sigs``/``bands`` state (batch read — the
   stream never holds corpus state in memory);
2. :func:`~..operators.dedup.incremental_minhash_dedup` — work scales
   with the batch, never re-hashes the corpus;
3. write pairs + new state rows, all partitioned by epoch with
   DYNAMIC partition overwrite — a replayed epoch (failure recovery)
   overwrites its own partition instead of appending duplicates, which
   is what makes foreachBatch exactly-once here.

Equivalence contract (pytest): after draining N batches, the union of
per-epoch pair outputs equals a single full-corpus
``minhash_lsh_dedup`` — every near-dup pair is emitted exactly once,
in the epoch its LATER member arrived.

Reference analog: the watcher's seen-set skip semantics
(picoprobe/utils.py:126-131), upgraded from an in-memory set of exact
checksums to durable LSH state with near-dup semantics.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from picoprobedataflow_spark.operators.dedup import (
    HashFn, incremental_minhash_dedup, portable_hash64)
from picoprobedataflow_spark.streaming import loop

SIG_SCHEMA = "doc_id long, salt bigint, minhash bigint"
BAND_SCHEMA = "doc_id long, band bigint, band_sig string"


def _local_path_or_none(path: str) -> str | None:
    """The local filesystem path a URI denotes, or None when it is
    REMOTE (scheme other than ``file``/empty, or a ``file://host/…``
    authority naming another machine). Round-17 ADVICE fix: the
    previous ``'file://'`` prefix-slice + ``'://'`` regex missed the
    single-slash ``file:/tmp/x`` rendering (a common Hadoop Path
    form) and authority URIs — both fell through to
    ``os.path.isdir`` on the RAW string and silently read as absent,
    the exact failure mode the round-16 remote-FS fix closed.
    Parsed with ``urlsplit``; a one-letter 'scheme' is treated as a
    path (drive-letter-style strings, never a real URI scheme). The
    path is NOT percent-decoded: the common Hadoop renderings are
    unencoded strings, and decoding would corrupt a local directory
    whose name contains a literal ``%hh`` sequence (self-review
    find on the first cut of this fix)."""
    from urllib.parse import urlsplit
    parts = urlsplit(path)
    if len(parts.scheme) <= 1:            # no scheme (or drive-ish)
        return path
    if parts.scheme != "file":
        return None
    if parts.netloc not in ("", "localhost"):
        return None                        # authority = remote host
    return parts.path or "/"


def _fs_list(spark: SparkSession, path: str) -> list[str] | None:
    """Child entry NAMES of ``path`` via the Hadoop FileSystem API,
    or ``None`` when the path does not exist. Round-16 ADVICE fix:
    the state helpers previously probed with ``os.path.isdir`` /
    ``os.listdir``, so a ``state_dir`` on a non-local filesystem
    (hdfs://, s3a://) silently read as ABSENT — every epoch-pick
    returned None and state reads degraded to empty, a silent
    correctness/performance degradation. Resolving through the
    JVM-side FileSystem makes remote URIs either work or fail loudly
    (an unknown scheme raises from ``getFileSystem``).

    Spark Connect sessions have no ``_jvm`` (round-16 review find —
    an unconditional ``_jvm`` probe would have regressed Connect
    users with LOCAL state dirs, who worked fine under the old
    os-probe): schemeless and ``file:`` paths fall back to the
    os-level probe, and a REMOTE URI under Connect raises
    NotImplementedError rather than silently reading as absent."""
    try:
        jvm = spark._jvm
        jconf = spark._jsc.hadoopConfiguration()
    except Exception:
        jvm = None
    if jvm is None:
        local = _local_path_or_none(path)
        if local is None:
            raise NotImplementedError(
                f"remote state path {path!r} needs a classic "
                f"(non-Connect) session: Spark Connect exposes no "
                f"Hadoop FileSystem handle to list it")
        if not os.path.isdir(local):
            return None
        return os.listdir(local)
    hpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = hpath.getFileSystem(jconf)
    if not fs.exists(hpath):
        return None
    return [st.getPath().getName() for st in fs.listStatus(hpath)]


def _fn_name(fn) -> str:
    """Stable cross-process identity string for a hash callable —
    the params-pin currency. ``module.qualname`` is stable where a
    bare ``repr`` embeds a memory address (round-16 review find: a
    ``functools.partial`` pinned its address and every legitimate
    resume then failed). Unnamed callables — including LAMBDAS
    (round-17 ADVICE fix: two different lambdas defined at the same
    site share a ``<locals>.<lambda>`` qualname, so a CHANGED lambda
    hash_fn would resume silently under a name that looks specific)
    — pin a generic marker: the guard cannot distinguish two
    anonymous functions, which is documented — give custom hash
    functions a real ``__name__``."""
    mod = getattr(fn, "__module__", None)
    qual = getattr(fn, "__qualname__", None) or getattr(
        fn, "__name__", None)
    if qual is None or "<lambda>" in qual:
        return "custom:unnamed"
    return f"{mod}.{qual}" if mod else qual


PARAMS_SCHEMA = "key string, value string"


def read_params(spark: SparkSession,
                state_dir: str) -> dict[str, str] | None:
    """The hyper-parameters persisted with a stream's state dir, or
    None before the first run. Round 16 — the CMS-geometry ADVICE
    fix generalized: any loop whose STATE ENCODING depends on its
    parameters (minhash signatures on num_hashes/k/band_size/hash
    function, substring fingerprints on the window grain, rank
    vectors on damping, IVF cells on the centroid set) must refuse
    to resume under different values — old and new state rows would
    silently mix two incompatible encodings, each epoch still
    'succeeding'. Policy knobs that only gate FUTURE admissions
    (quality thresholds, quotas) are deliberately not pinned."""
    pdir = os.path.join(state_dir, "params")
    if _fs_list(spark, pdir) is None:
        return None
    got = {r.key: r.value for r in
           spark.read.schema(PARAMS_SCHEMA).parquet(pdir).collect()}
    # A half-written params dir (directory created, rows never
    # landed — a crash mid-first-write) reads as ABSENT, not as an
    # empty parameter set: every caller persists a non-empty dict,
    # so {} can only mean the write never completed and the next
    # run should redo it rather than report a spurious mismatch.
    return got or None


def _ensure_params(spark: SparkSession, state_dir: str,
                   params: dict[str, str],
                   stale: bool = False) -> None:
    """Persist the state-identity parameters on first run; on a
    resumed state dir, reject any change loudly BEFORE the stream
    starts (see :func:`read_params`). ``stale=True`` says the caller
    verified the state the params describe NO LONGER EXISTS (e.g. an
    index dir that keeps its params in a sibling directory was
    deleted for a rebuild — round-17 ADVICE fix): the pin is then
    overwritten instead of checked, since a mismatch against a ghost
    of deleted state would block a legitimate fresh build."""
    existing = None if stale else read_params(spark, state_dir)
    if existing is not None:
        if existing != params:
            raise ValueError(
                f"stream state parameter mismatch under "
                f"{state_dir}: state was built with {existing}, "
                f"caller asked for {params}")
        return
    (spark.createDataFrame(sorted(params.items()), PARAMS_SCHEMA)
     .coalesce(1).write.mode("overwrite")
     .parquet(os.path.join(state_dir, "params")))


def _state(spark: SparkSession, path: str, schema: str,
           before_epoch: int | None = None) -> DataFrame:
    """Accumulated state table; typed-empty before the first epoch.

    ``before_epoch`` restricts the read to partitions written by
    EARLIER epochs (round-14 review fix): a replayed epoch (crash
    after its state write, before the streaming checkpoint commit)
    otherwise reads its OWN partial partitions back as prior state —
    the exact corruption the 'recompute against pre-epoch state'
    contract forbids. Every foreachBatch loop in this package passes
    its epoch_id here."""
    if _fs_list(spark, path) is not None:
        df = spark.read.schema(schema + ", epoch long").parquet(path)
        if before_epoch is not None:
            df = df.filter(F.col("epoch") < before_epoch)
        return df.drop("epoch")
    return spark.createDataFrame([], schema)


def batch_anti_state(batch: DataFrame, state: DataFrame,
                     keys: list[str],
                     batch_keys: DataFrame | None = None
                     ) -> DataFrame:
    """``batch ∖ state`` on ``keys`` WITHOUT shuffling the
    accumulated state (round 17 — the incremental-PageRank epoch
    fix generalized to every loop): a direct
    ``batch.join(state, keys, "left_anti")`` shuffles BOTH sides on
    the keys — O(accumulated state) per epoch where the loops'
    contract is per-epoch-∝-batch. Instead the (small, broadcast)
    batch key set semi-joins against the state MAP-SIDE — the state
    is scanned, never exchanged — producing the ≤-batch-rows set of
    keys already present, and the anti join then runs
    broadcast-small against that. Plan: two BroadcastHashJoins,
    zero state-side Exchanges (pinned in
    tests/test_scale_patterns.py).

    ``batch_keys`` optionally supplies an already-deduplicated
    keys-only frame (e.g. the caller's existing
    ``select(key).distinct()``) to skip the derivation — REQUIRED
    when ``batch`` is wide (doc rows with text): deriving keys from
    it is fine, but passing the wide frame itself through the first
    broadcast would ship the payload columns. The batch side is
    broadcast-size by the streaming contract (micro-batches arrive
    at ingest cadence, not corpus scale) — with ONE caveat worth
    stating: a first-run BACKFILL under ``availableNow`` with no
    source rate limit drains the whole backlog as giant batches.
    Set ``maxFilesPerTrigger``/``maxBytesPerTrigger`` on the source
    (``availableNow`` respects them, splitting the backlog into
    bounded batches — the S1 watch source does); a batch past the
    8 GB broadcast ceiling fails LOUDLY at the BroadcastExchange,
    never silently wrong."""
    if batch_keys is None:
        batch_keys = batch.select(*keys).distinct()
    present = (state.select(*keys)
               .join(F.broadcast(batch_keys), keys, "left_semi"))
    return batch.join(F.broadcast(present), keys, "left_anti")


def _write_epoch(df: DataFrame, path: str, epoch_id: int) -> None:
    (df.withColumn("epoch", F.lit(epoch_id))
       .write.mode("overwrite")
       .option("partitionOverwriteMode", "dynamic")
       .partitionBy("epoch")
       .parquet(path))


def run_incremental_dedup_stream(doc_stream: DataFrame, state_dir: str,
                                 checkpoint_dir: str,
                                 num_hashes: int = 16, k: int = 3,
                                 band_size: int = 4,
                                 hash_fn: HashFn = portable_hash64,
                                 available_now: bool = True
                                 ) -> StreamingQuery:
    """Run the loop over a streaming DataFrame of (doc_id, text).

    Writes under ``state_dir``: ``sigs/`` and ``bands/`` (the growing
    corpus state, append semantics via per-epoch partitions) and
    ``pairs/`` (doc_a, doc_b, est_jaccard per epoch). The signature
    hyper-parameters persist with the state and a resume under
    different values is rejected (round 16 — signatures from two
    (num_hashes, k, band_size, hash_fn) settings are two
    incompatible encodings; mixing them silently stops pairing old
    against new)."""
    spark = doc_stream.sparkSession
    _ensure_params(spark, state_dir, {
        "num_hashes": str(num_hashes), "k": str(k),
        "band_size": str(band_size),
        "hash_fn": _fn_name(hash_fn)})
    sig_dir = os.path.join(state_dir, "sigs")
    band_dir = os.path.join(state_dir, "bands")
    pair_dir = os.path.join(state_dir, "pairs")

    def _process(batch: DataFrame, epoch_id: int) -> None:
        if not batch.head(1):
            return
        corpus_sigs = _state(spark, sig_dir, SIG_SCHEMA,
                             before_epoch=epoch_id)
        corpus_bands = _state(spark, band_dir, BAND_SCHEMA,
                              before_epoch=epoch_id)
        # broadcast_batch (round 17): a micro-batch is
        # broadcast-size by the streaming contract, so the corpus
        # band/sig state streams map-side through the candidate and
        # estimate joins instead of being shuffled every epoch.
        new_sigs, new_bands, pairs = incremental_minhash_dedup(
            batch, corpus_sigs, corpus_bands,
            num_hashes=num_hashes, k=k, band_size=band_size,
            hash_fn=hash_fn, broadcast_batch=True)
        # The op owns no cache (round-12 review find: its old
        # internal persist leaked one cache entry per micro-batch —
        # the unpersist here used to target DERIVED frames and
        # matched nothing). The loop persists the frames it writes
        # twice-or-more and unpersists the SAME references.
        new_sigs = new_sigs.persist()
        new_bands = new_bands.persist()
        try:
            # pairs BEFORE state: if the epoch replays after a
            # partial failure, recomputing against pre-epoch state
            # stays correct (its own partitions are overwritten)
            _write_epoch(pairs, pair_dir, epoch_id)
            _write_epoch(new_sigs, sig_dir, epoch_id)
            _write_epoch(new_bands, band_dir, epoch_id)
        finally:
            new_sigs.unpersist()
            new_bands.unpersist()

    return loop.start(doc_stream, checkpoint_dir, _process,
                      available_now)


PHASH_STATE_SCHEMA = "path string, simhash long"


def run_image_dedup_stream(image_stream: DataFrame, state_dir: str,
                           checkpoint_dir: str, max_hamming: int = 6,
                           n_chunks: int = 8, grid: int = 8,
                           codec: str = "auto",
                           available_now: bool = True
                           ) -> StreamingQuery:
    """The image twin of :func:`run_incremental_dedup_stream`: a
    stream of (path, width, height, image) micro-batches is
    perceptually fingerprinted (:func:`..operators.multimodal.
    image_phash`, one Arrow-batched map per batch) and paired against
    the accumulated signature state with
    :func:`..operators.dedup.incremental_simhash_pairs` — per-epoch
    work scales with the batch; the corpus is never re-paired.

    Writes under ``state_dir``: ``sigs/`` (path, simhash per epoch —
    the growing corpus state) and ``pairs/`` (doc_a, doc_b, hamming
    per epoch). Same exactly-once posture as the text loop: every
    table partitioned by epoch with dynamic overwrite, pairs written
    BEFORE state so a replayed epoch recomputes against pre-epoch
    state and overwrites only its own partitions. Drain equivalence
    (pytest): the union of per-epoch pairs equals one full-corpus
    :func:`..operators.multimodal.image_near_dup_pairs` run."""
    from picoprobedataflow_spark.operators.dedup import \
        incremental_simhash_pairs
    from picoprobedataflow_spark.operators.multimodal import \
        image_phash

    spark = image_stream.sparkSession
    # State-identity params (round-16 review find — this loop was
    # left out of the guard): the stored simhash encodes grid and
    # codec; resuming under either changed silently hamming-compares
    # two incompatible fingerprint spaces. max_hamming / n_chunks
    # are pairing policy, not state encoding, and stay free.
    _ensure_params(spark, state_dir, {"grid": str(grid),
                                      "codec": str(codec)})
    sig_dir = os.path.join(state_dir, "sigs")
    pair_dir = os.path.join(state_dir, "pairs")

    def _process(batch: DataFrame, epoch_id: int) -> None:
        if not batch.head(1):
            return
        state = _state(spark, sig_dir, PHASH_STATE_SCHEMA,
                       before_epoch=epoch_id)
        new_sigs = (image_phash(batch, grid=grid, codec=codec)
                    .select("path", F.col("phash").alias("simhash"))
                    .persist())
        try:
            # broadcast_batch (round 17): the micro-batch's chunk
            # table broadcasts; the accumulated sig state streams
            # map-side instead of shuffling on (j, chunk) per epoch.
            pairs = incremental_simhash_pairs(
                state, new_sigs, max_hamming=max_hamming,
                n_chunks=n_chunks, bits=64, id_col="path",
                broadcast_batch=True)
            _write_epoch(pairs, pair_dir, epoch_id)
            _write_epoch(new_sigs, sig_dir, epoch_id)
        finally:
            new_sigs.unpersist()

    return loop.start(image_stream, checkpoint_dir, _process,
                      available_now)
