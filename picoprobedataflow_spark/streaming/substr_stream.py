"""Streaming suffix-array substring dedup: the deletion half of
ExactSubstr (Lee et al. 2022) run continuously over a document
stream — each micro-batch's verbatim-duplicated passages delete
against the window-fingerprint state written by all previous
batches, the daily-crawl twin of
:func:`..operators.dedup.remove_duplicate_substrings` exactly as
:mod:`.dedup_stream` is the twin of the one-shot near-dup run.

Per epoch:

1. read the accumulated KMR window-fingerprint state (``sigs/`` —
   one md5 per distinct ``min_len``-token window ever seen; batch
   read, never executor memory);
2. :func:`..operators.dedup.remove_duplicate_substrings` with
   ``seen_sigs`` = that state: a window recurring WITHIN the batch
   keeps its batch-first occurrence, a window seen in ANY earlier
   epoch deletes unconditionally (its true first occurrence already
   survived there);
3. write the cleaned docs and the batch's new fingerprints, per
   epoch with DYNAMIC partition overwrite and state reads filtered
   to earlier epochs — the package's shared exactly-once posture.

Equivalence contract (pytest): draining id-ordered batches yields
per-doc cleaned text identical to ONE
``remove_duplicate_substrings`` run over the whole corpus — the
corpus-wide first occurrence of every duplicated passage survives,
in the epoch it arrived.

Scale shape: per-epoch work is the KMR chain over the BATCH
(O(log L) windows on one doc-keyed sort) plus one sig-keyed join
against the state table — the corpus is never re-fingerprinted; the
state grows by the batch's distinct new windows only.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from picoprobedataflow_spark.streaming import loop
from picoprobedataflow_spark.streaming.dedup_stream import (
    _state, _write_epoch, batch_anti_state)

SUBSTR_SIG_SCHEMA = "sig string"


def run_substr_clean_stream(doc_stream: DataFrame, state_dir: str,
                            checkpoint_dir: str,
                            min_len: int = 12,
                            text_col: str = "text",
                            id_col: str = "doc_id",
                            available_now: bool = True
                            ) -> StreamingQuery:
    """Run the loop over a streaming DataFrame of (doc_id, text).

    Writes under ``state_dir``: ``cleaned/`` (doc_id, cleaned,
    n_removed, n_kept per epoch) and ``sigs/`` (the growing window
    fingerprint state). ``min_len`` persists with the state and a
    resume under a different grain is rejected (round 16 —
    fingerprints of two window lengths are incompatible encodings;
    mixed state silently stops matching old corpus text)."""
    from picoprobedataflow_spark.operators.dedup import (
        kmr_fingerprint_positions, remove_duplicate_substrings)
    from picoprobedataflow_spark.streaming.dedup_stream import \
        _ensure_params

    spark = doc_stream.sparkSession
    _ensure_params(spark, state_dir, {"min_len": str(min_len)})
    sig_dir = os.path.join(state_dir, "sigs")
    out_dir = os.path.join(state_dir, "cleaned")

    def _process(batch: DataFrame, epoch_id: int) -> None:
        if not batch.head(1):
            return
        seen = _state(spark, sig_dir, SUBSTR_SIG_SCHEMA,
                      before_epoch=epoch_id)
        # The batch fingerprints ONCE: the loop owns the persisted
        # sigs frame and shares it between the deletion pass and the
        # new-state write (review fix — the op invoked per
        # micro-batch must own no cache, and two independent writes
        # would otherwise each re-run the whole KMR chain).
        sigs = kmr_fingerprint_positions(
            batch, min_len, text_col, id_col).persist()
        try:
            # broadcast_batch (round 17): the accumulated sig state
            # streams map-side against this slice's broadcast sig
            # set instead of being distinct-shuffled every epoch.
            cleaned = remove_duplicate_substrings(
                batch, min_len=min_len, text_col=text_col,
                id_col=id_col, seen_sigs=seen, sigs=sigs,
                broadcast_batch=True)
            # round 17: the broadcast semi/anti helper — the direct
            # anti join shuffled the accumulated sig state per epoch
            batch_sigs = (sigs.filter(F.col("sig").isNotNull())
                          .select("sig").distinct())
            new_sigs = batch_anti_state(batch_sigs, seen, ["sig"],
                                        batch_keys=batch_sigs)
            # cleaned BEFORE state (the dedup_stream replay rule).
            _write_epoch(cleaned, out_dir, epoch_id)
            _write_epoch(new_sigs, sig_dir, epoch_id)
        finally:
            sigs.unpersist()

    return loop.start(doc_stream, checkpoint_dir, _process,
                      available_now)
