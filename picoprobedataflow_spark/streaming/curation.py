"""Streaming curation: the batch funnel's stateless-head stages
(quality → repetition → exact-dedup-vs-state → decontamination →
domain-quota admission) composed into ONE micro-batch pipeline on the
:mod:`.dedup_stream` state pattern — the daily-crawl ingest loop run
continuously, where the batch flow (:func:`..flows.curation.
curate_documents`) is the one-shot re-curation run.

Every stage is the SAME individually-gated operator the batch flow
chains (this module adds no new math); what the stream adds is the
durable cross-batch state the corpus-wide stages need:

- ``fps/`` — fingerprints of every document that ever REACHED the
  exact-dedup stage (post quality/repetition), so a later batch's
  copy of an already-seen text drops exactly as the batch flow's
  keep-min-id mapping would drop it. First arrival survives: over
  id-ordered batches this IS the batch flow's min-id survivor
  (drain-equivalence pytest).
- ``domains/`` — per-epoch (domain, n) ADMITTED counts, so the
  per-domain cap spans epochs: a batch entrant is admitted iff its
  within-batch arrival rank plus the domain's prior admissions fits
  the quota. Admission is first-come (a stream cannot retroactively
  un-admit an earlier epoch's doc); the batch comparator is the flow
  with ``quota_order`` = arrival, and the deliberate divergence from
  quality-ranked batch curation is exactly the bounded-state trade
  the ST4/span_dedup families document.
- ``kept/`` — the admitted documents per epoch (the flow output);
  ``funnel/`` — per-epoch (stage, n) rows, the same accounting the
  batch flow returns in ``CurationResult.funnel``; each stage's count
  is observed on its checkpoint job (no count job per stage).

All writes are per-epoch DYNAMIC partition overwrites — a replayed
epoch overwrites its own partitions instead of appending duplicates
(the dedup_stream exactly-once posture). The decontamination
benchmark universe is localCheckpointed ONCE outside the loop (the
round-13 decontam_stream amortization rule — rebuilding the bench
shingle source per micro-batch is the anti-pattern it fixed).

Scale: per-epoch work is batch-proportional (row-local gates, one
fingerprint anti-join against the state table, one shingle semi-join
against the broadcastable bench, one bounded quota window); state
lives as parquet TABLES, never executor memory.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from picoprobedataflow_spark.checkpoint import materialize
from picoprobedataflow_spark.streaming import loop
from picoprobedataflow_spark.streaming.dedup_stream import (
    _state, _write_epoch, batch_anti_state)

FP_SCHEMA = "fingerprint string"
DOMAIN_SCHEMA = "domain string, n long"
FUNNEL_SCHEMA = "stage string, n long"


def run_curation_stream(doc_stream: DataFrame, state_dir: str,
                        checkpoint_dir: str, *,
                        id_col: str = "doc_id",
                        text_col: str = "text",
                        url_col: str | None = None,
                        min_quality: float | None = 0.3,
                        repetition_filter: bool = True,
                        bench_docs: DataFrame | None = None,
                        contamination_threshold: float = 0.2,
                        domain_quota: int = 2,
                        available_now: bool = True
                        ) -> StreamingQuery:
    """Run the curation loop over a streaming DataFrame of documents.

    Writes under ``state_dir``: ``kept/`` (admitted docs, original
    columns + ``domain`` when ``url_col`` is set), ``funnel/``
    ((stage, n) per epoch, stages in execution order starting at
    ``input``), ``fps/`` and ``domains/`` (the growing state).
    Argument contract mirrors :func:`..flows.curation.
    curate_documents` (same defaults, same >0 contamination
    threshold guard, same integral-id requirement for the
    arrival-rank quota)."""
    from picoprobedataflow_spark.functions.text import (
        fingerprint_md5, quality_score, repetition_metrics)

    if bench_docs is not None and contamination_threshold <= 0.0:
        raise ValueError(
            "contamination_threshold must be > 0: at 0.0 the "
            "overlap table returns every document and the "
            "decontamination anti-join would drop the whole corpus")
    if url_col is not None:
        id_type = dict(doc_stream.dtypes)[id_col]
        if id_type not in ("tinyint", "smallint", "int", "bigint"):
            raise TypeError(
                f"the arrival-rank quota needs an integral "
                f"{id_col!r} (got {id_type}); pre-assign numeric "
                f"ids or disable the quota stage")

    spark = doc_stream.sparkSession
    fp_dir = os.path.join(state_dir, "fps")
    dom_dir = os.path.join(state_dir, "domains")
    kept_dir = os.path.join(state_dir, "kept")
    funnel_dir = os.path.join(state_dir, "funnel")
    bench = (materialize(bench_docs)[0]
             if bench_docs is not None else None)

    def _process(batch: DataFrame, epoch_id: int) -> None:
        n_input = batch.count()
        if n_input == 0:
            return
        funnel: list[tuple[str, int]] = [("input", n_input)]

        def _mark(stage: str, df: DataFrame) -> DataFrame:
            df, m = materialize(df, n=F.count(F.lit(1)))
            funnel.append((stage, m["n"]))
            return df

        cur = batch

        if min_quality is not None:
            cur = _mark("quality", cur.filter(
                F.col(text_col).isNotNull()
                & (quality_score(text_col) >= min_quality)))

        if repetition_filter:
            rep = repetition_metrics(cur, id_col=id_col,
                                     text_col=text_col)
            cur = _mark("repetition", cur.join(
                rep.filter(F.col("keep")).select(id_col), id_col))

        # exact dedup vs state: first arrival survives. Within the
        # batch the min id per fingerprint wins (the batch flow's
        # keep-min-id mapping restricted to one epoch, on the RAW id
        # type — round-14 review fix: an unconditional long cast
        # NULLed string ids and silently emptied the batch); across
        # batches the state anti-join drops every re-arrival.
        # before_epoch keeps a REPLAYED epoch from reading its own
        # partial state back (second review fix, same pass). A
        # NULL-text doc has a NULL fingerprint and passes through
        # untouched — it is nobody's duplicate, matching the batch
        # flow's fingerprint-join semantics when the quality gate
        # (which otherwise drops NULL texts) is disabled.
        seen = _state(spark, fp_dir, FP_SCHEMA,
                      before_epoch=epoch_id)
        withfp = cur.withColumn("_fp", fingerprint_md5(text_col))
        firsts = (withfp.filter(F.col("_fp").isNotNull())
                  .groupBy("_fp")
                  .agg(F.min(F.col(id_col)).alias("_first")))
        # batch-∖-state through the broadcast semi/anti helper
        # (round 17): the direct anti join shuffled the ACCUMULATED
        # fingerprint state on every epoch — O(stream lifetime)
        # where the loop's contract is per-epoch-∝-batch; the
        # keys-only batch fingerprint set rides both broadcasts, so
        # the state is scanned map-side, never exchanged.
        batch_fps, _ = materialize(
            withfp.filter(F.col("_fp").isNotNull())
            .select("_fp").distinct())
        seen_fp = seen.withColumnRenamed("fingerprint", "_fp")
        deduped = batch_anti_state(
            (withfp.filter(F.col("_fp").isNotNull())
             .join(firsts, "_fp")
             .filter(F.col(id_col) == F.col("_first"))
             .drop("_first")),
            seen_fp, ["_fp"], batch_keys=batch_fps)
        cur = _mark("exact", deduped.unionByName(
            withfp.filter(F.col("_fp").isNull())))
        new_fps = (batch_anti_state(batch_fps, seen_fp, ["_fp"],
                                    batch_keys=batch_fps)
                   .withColumnRenamed("_fp", "fingerprint"))

        if bench is not None:
            from picoprobedataflow_spark.operators.dedup import \
                contamination_overlap
            contaminated = contamination_overlap(
                cur, bench, text_col=text_col, id_col=id_col,
                threshold=contamination_threshold)
            cur = _mark("decontam", cur.join(
                contaminated.select(id_col), id_col, "left_anti"))

        if url_col is not None:
            from picoprobedataflow_spark.functions.web import \
                domain_quota_sample
            # Within-batch arrival rank: order_col ranks DESCENDING,
            # so the bit-inverted id ranks ascending-id = arrival
            # order (bitwise NOT, not arithmetic negation — the
            # latter overflows ANSI at Long.MIN_VALUE, reachable
            # with xxhash64-derived ids). Checkpointed (round 17):
            # it now feeds two consumers — the batch-domain key set
            # and the admission filter.
            ranked, _ = materialize(domain_quota_sample(
                cur.withColumn("_neg_id",
                               F.bitwise_not(
                                   F.col(id_col).cast("long"))),
                url_col=url_col, quota=domain_quota, id_col=id_col,
                order_col="_neg_id"))
            # Prior per-domain counts restricted to the BATCH's
            # domains before aggregating (round 17, the
            # batch_anti_state discipline): the accumulated domain
            # state is scanned map-side against the broadcast batch
            # key set — never shuffled whole — and the left join's
            # right side is then batch-domain-bounded, so it
            # broadcasts. Restricting before the LEFT join is an
            # identity (unmatched domains never join).
            batch_doms = ranked.select("domain").distinct()
            prior = (_state(spark, dom_dir, DOMAIN_SCHEMA,
                            before_epoch=epoch_id)
                     .join(F.broadcast(batch_doms), "domain",
                           "left_semi")
                     .groupBy("domain")
                     .agg(F.sum("n").alias("_prior")))
            admitted = (ranked.filter(F.col("kept"))
                        .join(F.broadcast(prior), "domain", "left")
                        .filter(F.col("rank")
                                + F.coalesce("_prior", F.lit(0))
                                <= domain_quota)
                        .select(id_col,
                                F.col("domain").alias("_q_dom")))
            # Join under a private name, then drop any pre-existing
            # 'domain' column before renaming (round-15 ADVICE fix:
            # an input stream already carrying 'domain' made the
            # using-join emit TWO domain columns, and the groupBy /
            # kept/ write below failed with an ambiguous reference
            # at micro-batch time). The quota-derived domain — the
            # registrable domain of url_col — is authoritative for
            # the kept/ contract and the domains/ state.
            cur = _mark("quota", cur.drop("_fp", "domain")
                        .join(admitted, id_col)
                        .withColumnRenamed("_q_dom", "domain"))
            new_doms = (cur.groupBy("domain")
                        .agg(F.count("*").cast("long").alias("n")))
        else:
            cur, _ = materialize(cur.drop("_fp"))
            new_doms = None

        # kept BEFORE state (the dedup_stream replay rule): a
        # replayed epoch recomputes against pre-epoch state and
        # overwrites its own partitions.
        _write_epoch(cur, kept_dir, epoch_id)
        _write_epoch(new_fps, fp_dir, epoch_id)
        if new_doms is not None:
            _write_epoch(new_doms, dom_dir, epoch_id)
        _write_epoch(
            spark.createDataFrame(funnel, FUNNEL_SCHEMA),
            funnel_dir, epoch_id)

    return loop.start(doc_stream, checkpoint_dir, _process,
                      available_now)
