"""Streaming data-quality gate: the ``dq`` declarative constraint
metrics (:func:`..plans.telemetry.dq_metrics`), evaluated PER
MICRO-BATCH over an arriving event stream — the continuous form of
the batch ingest gate. Every batch appends its (batch_id, check, n,
metric, passed) rows to a metrics table; a monitor alerts on any
``passed = 0.0`` row without ever scanning the data stream itself.

Shape: ``foreachBatch`` — the metrics are a 1-row aggregate per
batch (then exploded to one row per check), so the gate's cost is
one pass over each batch and its output is O(checks) rows
regardless of batch size. State: none (each batch is judged alone;
cross-batch trend detection is a batch query over the metrics
table). Replayed batches (failure recovery) re-append their rows —
dedupe on ``batch_id`` at read, the same idempotency contract the
dedup stream documents for its epoch partitions.

Every stream here is a drain through :func:`.loop.drain`
(``availableNow``; past ``timeout`` the query is stopped and a
``TimeoutError`` names the stream), so none returns a partial table.

Reference analog: the watcher validates each arriving file before
acting on it (picoprobe/utils.py:118-140 checks inside the event
handler); here the validation is declarative, batched and emits an
auditable metrics trail instead of log lines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from picoprobedataflow_spark.checkpoint import materialize
from picoprobedataflow_spark.streaming import loop


def dq_gate_stream(spark: SparkSession, src_dir: str, ckpt_dir: str,
                   out_dir: str, schema: StructType | str,
                   timeout: int = 300) -> None:
    """Drain all available files from ``src_dir`` through the
    per-batch quality gate, appending each micro-batch's check rows
    to ``out_dir``. Raises on drain timeout instead of silently
    returning a partial metrics table."""
    from picoprobedataflow_spark.plans.telemetry import dq_metrics

    def _process(batch_df: DataFrame, batch_id: int) -> None:
        (dq_metrics(batch_df)
         .withColumn("batch_id", F.lit(batch_id))
         .write.mode("append").parquet(out_dir))

    loop.drain(spark.readStream.schema(schema).parquet(src_dir),
               ckpt_dir, _process, "dq gate", timeout)


def contam_gate_stream(spark: SparkSession, src_dir: str,
                       ckpt_dir: str, out_dir: str,
                       bench_docs: DataFrame,
                       schema: StructType | str,
                       threshold: float = 0.05, k: int = 3,
                       timeout: int = 300,
                       bloom_bits_count: int | None = None) -> None:
    """Streaming benchmark-decontamination gate: every arriving
    micro-batch of documents is checked against the held-out
    benchmark's shingle universe
    (:func:`..operators.dedup.contamination_overlap`) and
    contaminated docs' (batch_id, doc_id, overlap_frac) rows append
    to ``out_dir`` — the continuous form of the pre-training
    decontamination pass, run at INGEST so eval leakage is caught
    the day it crawls in, not the week before training.

    The benchmark shingle table is built ONCE outside the stream
    and reused per batch (benchmark corpora are small and static —
    the same broadcast-semi-join shape as the batch op). Per-batch
    cost: shingle the batch, one semi join, two doc-keyed
    aggregates.

    ``bloom_bits_count`` (round 8) switches to the Bloom-prefiltered
    gate for benchmark universes too big to broadcast exactly: the
    filter AND the distinct shingle universe are built ONCE outside
    the stream and every micro-batch tests its shingles map-side,
    with only survivors reaching the exact verify join — identical
    rows out (the batch-side equivalence is hash-gate pinned),
    per-batch cost now independent of the benchmark's exact-set size
    and ZERO per-batch cache entries (round-9 fix: the universe is
    persisted here, for the query's life, instead of once per batch
    inside the op). Transport follows the batch op's ``"auto"``
    cutover: word counts over BLOOM_LITERAL_MAX_BITS ride a real
    1-row BroadcastExchange (:func:`..operators.dedup
    .bloom_filter_df`), never a plan literal."""
    from picoprobedataflow_spark.operators.dedup import (
        BLOOM_LITERAL_MAX_BITS, bloom_bits, bloom_filter_df,
        contamination_overlap, contamination_overlap_bloom,
        shingle_table)

    bench_sh, _ = materialize(shingle_table(bench_docs, k=k))
    if bloom_bits_count is not None:
        universe, _ = materialize(bench_sh.select("shingle").distinct())
        if bloom_bits_count <= BLOOM_LITERAL_MAX_BITS:
            bits, bloom_df = bloom_bits(
                universe, num_bits=bloom_bits_count), None
        else:
            bits, bloom_df = None, materialize(bloom_filter_df(
                universe, num_bits=bloom_bits_count))[0]

    def _process(batch_df: DataFrame, batch_id: int) -> None:
        if bloom_bits_count is not None:
            gated = contamination_overlap_bloom(
                train_docs=batch_df, bench_shingles=bench_sh,
                k=k, threshold=threshold,
                num_bits=bloom_bits_count, bits=bits,
                bloom_df=bloom_df, bench_universe=universe)
        else:
            gated = contamination_overlap(
                train_docs=batch_df, bench_shingles=bench_sh,
                k=k, threshold=threshold)
        (gated.withColumn("batch_id", F.lit(batch_id))
         .write.mode("append").parquet(out_dir))

    loop.drain(spark.readStream.schema(schema).parquet(src_dir),
               ckpt_dir, _process, "contamination gate", timeout)


def decontam_stream(spark: SparkSession, src_dir: str,
                    ckpt_dir: str, out_dir: str,
                    bench_docs: DataFrame,
                    schema: StructType | str,
                    k: int = 3, timeout: int = 300,
                    bloom_bits_count: int | None = None) -> None:
    """Streaming SPAN-level decontamination: every arriving
    micro-batch of documents is cleaned against the held-out
    benchmark's shingle universe
    (:func:`..operators.dedup.decontaminate_spans`) and the cleaned
    rows (batch_id, doc_id, cleaned, n_removed, n_kept) append to
    ``out_dir`` — where :func:`contam_gate_stream` FLAGS leaky docs
    at ingest, this twin repairs them, emitting the corpus a
    training run actually consumes.

    Decontamination is per-document (no cross-doc state), so batch
    boundaries cannot change any output row — a 3-batch drain equals
    the single-batch run row-for-row (pytest-pinned), which is also
    the replay/idempotency story: a re-processed batch appends
    byte-identical rows, deduped on ``batch_id`` at read like every
    other gate table. The benchmark universe is built and
    materialized ONCE outside the loop; per-batch cost is the sweep:
    one explode, one semi join against the static universe, one
    doc-keyed window + aggregate over the batch only.

    ``bloom_bits_count`` (round 13, mirrors
    :func:`contam_gate_stream`'s hook) serves benchmark universes
    too big to broadcast: the Bloom words array — literal tier at or
    under ``BLOOM_LITERAL_MAX_BITS``, a 1-row broadcast frame above
    it — is built ONCE outside the loop, exactly as the universe
    itself is, and passed through ``bits``/``bloom_df`` so every
    micro-batch probes its sliding windows map-side and only true
    hits plus the ~1% false-positive residue reach the exact semi
    join. Without the hook, a >1 GiB universe streamed through the
    pinned direct route would pay the full per-token shuffle the
    batch op's ``transport="auto"`` cutover exists to avoid (and
    "auto" itself cannot be used here: the localCheckpointed
    universe has no source statistics, so auto would conservatively
    rebuild the filter every micro-batch). Identical rows out either
    way — the Bloom route is output-invariant by construction
    (exact verify join downstream), drain-equivalence pytest-pinned."""
    from picoprobedataflow_spark.operators.dedup import (
        BLOOM_LITERAL_MAX_BITS, bloom_bits, bloom_filter_df,
        decontaminate_spans, shingle_table)

    universe, _ = materialize(shingle_table(bench_docs, k=k)
                              .select("shingle").distinct())
    bits = bloom_df = None
    if bloom_bits_count is not None:
        if bloom_bits_count <= BLOOM_LITERAL_MAX_BITS:
            bits = bloom_bits(universe, num_bits=bloom_bits_count)
        else:
            bloom_df, _ = materialize(bloom_filter_df(
                universe, num_bits=bloom_bits_count))

    def _process(batch_df: DataFrame, batch_id: int) -> None:
        if bloom_bits_count is not None:
            # Prebuilt hooks resolve the transport (bits -> literal,
            # bloom_df -> broadcast); num_bits must restate the width
            # the words array was built with.
            cleaned = decontaminate_spans(
                batch_df, k=k, bench_universe=universe,
                num_bits=bloom_bits_count, bits=bits,
                bloom_df=bloom_df)
        else:
            # transport pinned: the universe is localCheckpointed
            # once outside the loop and semi-joins per batch (the
            # documented plan); "auto" on a stat-less checkpoint plan
            # would pick the Bloom route and rebuild the filter EVERY
            # micro-batch.
            cleaned = decontaminate_spans(
                batch_df, k=k, bench_universe=universe,
                transport="direct")
        (cleaned.withColumn("batch_id", F.lit(batch_id))
         .write.mode("append").parquet(out_dir))

    loop.drain(spark.readStream.schema(schema).parquet(src_dir),
               ckpt_dir, _process, "decontam stream", timeout)


#: Output schema of :func:`domain_quota_stream` rows (norm_url is
#: dropped — the quota verdict, not the canonical URL, is the
#: stream's product; join it back from the source if needed).
QUOTA_STREAM_OUT_SCHEMA = ("doc_id long, domain string, rank long, "
                           "kept boolean")


def domain_quota_stream(spark: SparkSession, src_dir: str,
                        ckpt_dir: str, out_dir: str,
                        schema: StructType | str,
                        quota: int = 2, salt: str = "quota",
                        url_col: str = "url",
                        max_files_per_trigger: int | None = None,
                        timeout: int = 300) -> None:
    """Streaming CROSS-BATCH domain quota — the ingest-time twin of
    :func:`..functions.web.domain_quota_sample`: each arriving
    document ranks inside its registrable domain against the count
    of docs that domain has ALREADY had kept across every previous
    micro-batch, and at most ``quota`` docs per domain are ever
    marked kept over the stream's lifetime. The batch op re-ranks a
    full corpus; this one enforces the cap as data lands, which is
    what a crawl ingest actually needs (admit-or-reject now, not
    after the corpus exists).

    Semantics (pinned): WITHIN a batch, docs order by the same
    salted-md5 key as the batch op, so a single-batch drain is
    row-identical to ``domain_quota_sample`` (rank and kept) on the
    same corpus. ACROSS batches, earlier arrivals win — first-come
    admission, deliberately NOT the batch op's global salted rank
    (a later "better-keyed" doc must not evict an already-admitted
    one). ``rank`` continues across batches (the domain's 3rd kept
    doc ranks 3 whichever batch it arrived in) and is NULL beyond
    the quota, the same contract as the batch op.

    State & exactly-once: one ``kept`` counter per domain inside
    ``applyInPandasWithState`` — 8 bytes per DISTINCT registrable
    domain, engine-checkpointed with the stream (a replayed batch
    re-reads its pre-batch state, so recovery cannot double-admit).
    No timeout: expiring an idle domain would forget its cap and
    re-admit; the state bound is |domains|, the same key cardinality
    every quota formulation carries, distributed across executors by
    the group key.

    Per-BATCH bound (round-12 review find — distinct from the
    8-byte state bound above): ``_update`` concatenates one
    domain's whole micro-batch into a single pandas frame, so a
    crawl mega-domain (or the '' domain malformed URLs collapse to)
    is bounded by executor memory PER TRIGGER, not per stream. With
    ``trigger(availableNow=True)`` and no ``max_files_per_trigger``
    the whole backlog is one batch — set ``max_files_per_trigger``
    when draining a large backlog so no domain's batch slice
    outgrows a worker; the batch op's hierarchical form is the
    right tool for re-ranking a FINISHED corpus.
    """
    from pyspark.sql.streaming.state import (GroupState,
                                             GroupStateTimeout)

    from ..functions.web import _quota_base

    reader = spark.readStream.schema(schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger",
                               max_files_per_trigger)
    docs = reader.parquet(src_dir)
    base = _quota_base(docs, url_col, "doc_id", salt)

    def _update(key, pdfs, state: GroupState):
        import pandas as pd
        (domain,) = key
        kept = state.get[0] if state.exists else 0
        pdf = pd.concat(list(pdfs), ignore_index=True)
        # mergesort = stable, and (sort_key, doc_id) is a total order
        # anyway — determinism does not depend on pandas tie-breaks.
        pdf = (pdf.sort_values(["sort_key", "doc_id"], kind="mergesort")
               .reset_index(drop=True))
        take = max(0, quota - kept)
        ranks = [kept + i + 1 if i < take else None
                 for i in range(len(pdf))]
        state.update((min(quota, kept + len(pdf)),))
        yield pd.DataFrame({
            "doc_id": pdf["doc_id"],
            "domain": domain,
            "rank": pd.array(ranks, dtype="Int64"),
            "kept": [r is not None for r in ranks]})

    out = (base.groupBy("domain")
           .applyInPandasWithState(
               _update,
               outputStructType=QUOTA_STREAM_OUT_SCHEMA,
               stateStructType="kept long",
               outputMode="append",
               timeoutConf=GroupStateTimeout.NoTimeout))
    loop.drain(out, ckpt_dir, ("parquet", out_dir), "domain quota",
               timeout)


#: Output schema of :func:`boiler_flag_stream` rows — one row per
#: aligned window; ``span_h`` is the window's xxhash64 (grouping on
#: the 8-byte hash instead of the window text keeps the state-store
#: key narrow; collision odds are the standard 64-bit birthday bound).
BOILER_STREAM_OUT_SCHEMA = ("doc_id long, idx long, span_h long, "
                            "df_after long, is_boiler boolean")


def boiler_flag_stream(spark: SparkSession, src_dir: str,
                       ckpt_dir: str, out_dir: str,
                       schema: StructType | str,
                       span_w: int = 4, min_df: int = 2,
                       text_col: str = "text",
                       id_col: str = "doc_id",
                       max_files_per_trigger: int | None = None,
                       timeout: int = 300) -> None:
    """Streaming CROSS-BATCH boilerplate detection — the ingest-time
    twin of :func:`..operators.dedup.remove_frequent_segments`: each
    arriving document's aligned windows are checked against the
    count of DISTINCT documents that window has appeared in across
    every batch so far, and flagged once that document frequency
    reaches ``min_df``. The batch op scans a finished corpus; this
    flags AS DATA LANDS, which is what lets an ingest pipeline route
    boilerplate-heavy docs to review before they hit storage.

    Semantics (pinned): a single-batch drain flags exactly the
    windows the batch op removes (within one batch the per-span
    group sees every occurrence, so df = corpus df). Across batches
    the flag is PREFIX-df — a window is flagged from the batch where
    its cumulative df first reaches ``min_df`` onward; occurrences
    in EARLIER batches keep their unflagged verdict (a stream cannot
    retro-flag emitted rows — the same bounded-horizon trade as
    bounded-state dedup, and the reason a periodic batch re-sweep
    stays in the pipeline). ``df_after`` exposes the cumulative
    count so downstream can re-derive any threshold.

    State & exactly-once: one 8-byte distinct-doc counter per
    DISTINCT window hash inside ``applyInPandasWithState``,
    engine-checkpointed (a replayed batch re-reads its pre-batch
    state — recovery cannot double-count). Distinctness across
    batches needs no doc-set state because a checkpointed source
    delivers each document exactly once, so per-batch
    ``nunique(doc_id)`` increments are already distinct-correct.
    State bound = |distinct windows| × 16 bytes, the same key
    cardinality the batch op's span aggregate shuffles — distributed
    by the hash key, no skew concentration (a hot span is ONE state
    row however often it recurs). No timeout: expiring a span
    forgets its df and under-flags.

    Per-BATCH bound (round-12 review find): as in
    :func:`domain_quota_stream`, one span's micro-batch slice
    concatenates into a single pandas frame — a boilerplate span
    stamped across the whole batch pulls all its (doc_id, idx) rows
    into one worker for that trigger. Bound the batch with
    ``max_files_per_trigger`` on large backlogs; the batch op
    (:func:`..operators.dedup.remove_frequent_segments`) is the
    right tool for a finished corpus."""
    from ..operators.dedup import _aligned_spans

    reader = spark.readStream.schema(schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger",
                               max_files_per_trigger)
    docs = reader.parquet(src_dir)
    keyed = (_aligned_spans(docs, span_w, text_col, id_col)
             .select(F.col(id_col).alias("doc_id"),
                     F.col("idx").cast("long").alias("idx"),
                     F.xxhash64("span").alias("span_h")))
    _prefix_df_stream(keyed, "span_h", BOILER_STREAM_OUT_SCHEMA,
                      "is_boiler", min_df, ckpt_dir, out_dir,
                      timeout, "boiler")


def _prefix_df_stream(keyed: DataFrame, key_col: str,
                      out_schema: str, flag_col: str, min_df: int,
                      ckpt_dir: str, out_dir: str, timeout: int,
                      what: str) -> None:
    """The shared stateful core under :func:`boiler_flag_stream` and
    :func:`line_flag_stream`: one 8-byte cumulative distinct-doc
    counter per DISTINCT key hash inside ``applyInPandasWithState``,
    prefix-df flagging semantics (see boiler_flag_stream's
    docstring — state bound, exactly-once, per-batch bound all
    documented there and shared verbatim by every caller)."""
    from pyspark.sql.streaming.state import (GroupState,
                                             GroupStateTimeout)

    def _update(key, pdfs, state: GroupState):
        import pandas as pd
        (key_h,) = key
        seen = state.get[0] if state.exists else 0
        pdf = pd.concat(list(pdfs), ignore_index=True)
        cum = seen + int(pdf["doc_id"].nunique())
        state.update((cum,))
        yield pd.DataFrame({
            "doc_id": pdf["doc_id"], "idx": pdf["idx"],
            key_col: key_h, "df_after": cum,
            flag_col: cum >= min_df})

    out = (keyed.groupBy(key_col)
           .applyInPandasWithState(
               _update,
               outputStructType=out_schema,
               stateStructType="df long",
               outputMode="append",
               timeoutConf=GroupStateTimeout.NoTimeout))
    loop.drain(out, ckpt_dir, ("parquet", out_dir), f"{what} stream",
               timeout)


LINE_STREAM_OUT_SCHEMA = ("doc_id long, idx long, line_h long, "
                          "df_after long, is_frequent boolean")


def line_flag_stream(spark: SparkSession, src_dir: str,
                     ckpt_dir: str, out_dir: str,
                     schema: StructType | str,
                     min_df: int = 2,
                     text_col: str = "text",
                     id_col: str = "doc_id",
                     max_files_per_trigger: int | None = None,
                     timeout: int = 300) -> None:
    """Streaming CROSS-BATCH frequent-LINE detection (round 15) —
    the ingest-time twin of
    :func:`..operators.dedup.remove_frequent_lines`, exactly as
    :func:`boiler_flag_stream` twins the aligned-window op: each
    arriving document's newline-split lines are checked against the
    cumulative count of DISTINCT documents that line's trimmed text
    has appeared in across every batch so far, and flagged once the
    df reaches ``min_df``. WET/CommonCrawl text has real newlines,
    so this — not the window grain — is the boilerplate signal an
    ingest loop watches.

    Line key = xxhash64 of the space/tab-trimmed line, the batch
    op's matching rule; blank/whitespace-only lines are EXEMPT there
    and never enter the stream here (no state row, no flag — a
    blank line's df is structure, not boilerplate). Prefix-df
    semantics, state bound, exactly-once and the per-batch
    concatenation bound are the shared-core contract
    (:func:`boiler_flag_stream`); a single-batch drain flags exactly
    the lines the batch op removes (pytest-pinned)."""
    reader = spark.readStream.schema(schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger",
                               max_files_per_trigger)
    docs = reader.parquet(src_dir)
    lines = docs.select(
        F.col(id_col).alias("doc_id"),
        F.posexplode(F.split(F.col(text_col), r"\r?\n"))
         .alias("idx", "line"))
    keyed = (lines
             .withColumn("_k", F.expr("trim(BOTH ' \t' FROM line)"))
             .filter(F.col("_k") != "")
             .select(F.col("doc_id"),
                     F.col("idx").cast("long").alias("idx"),
                     F.xxhash64("_k").alias("line_h")))
    _prefix_df_stream(keyed, "line_h", LINE_STREAM_OUT_SCHEMA,
                      "is_frequent", min_df, ckpt_dir, out_dir,
                      timeout, "line")


def robots_gate_stream(spark: SparkSession, src_dir: str,
                       ckpt_dir: str, out_dir: str,
                       rules: DataFrame,
                       schema: StructType | str,
                       url_col: str = "url",
                       timeout: int = 300) -> None:
    """Streaming robots-exclusion gate: every arriving micro-batch of
    crawl records gets its per-URL RFC 9309 verdict
    (:func:`..functions.web.robots_gate`) and the
    (batch_id, doc_id, domain, rule, allowed) rows append to
    ``out_dir`` — the compliance twin of :func:`contam_gate_stream`,
    run at INGEST so disallowed fetches are flagged the day they
    crawl in. The rules frame (a host's resolved Allow/Disallow set —
    KBs per host) is localCheckpointed ONCE outside the loop and
    broadcast-joins per batch; verdicts are per-URL with no
    cross-batch state, so batch boundaries cannot change any row
    (drain ≡ batch, pytest-pinned) and replayed batches re-append
    byte-identical rows, deduped on ``batch_id`` at read like every
    other gate table."""
    from picoprobedataflow_spark.functions.web import robots_gate

    rules_ckpt, _ = materialize(rules)

    def _process(batch_df: DataFrame, batch_id: int) -> None:
        (robots_gate(batch_df, rules_ckpt, url_col=url_col)
         .withColumn("batch_id", F.lit(batch_id))
         .write.mode("append").parquet(out_dir))

    loop.drain(spark.readStream.schema(schema).parquet(src_dir),
               ckpt_dir, _process, "robots gate", timeout)


def psi_drift_stream(spark: SparkSession, src_dir: str,
                     ckpt_dir: str, out_dir: str,
                     ref: DataFrame, value_col: str,
                     schema: StructType | str,
                     n_buckets: int = 10,
                     timeout: int = 300) -> None:
    """Streaming distribution-drift monitor: every arriving
    micro-batch gets its PSI scoreboard against a FIXED reference
    snapshot (:func:`..operators.drift.psi_score`) and the
    (batch_id, bucket, n_ref, n_cur, p_ref, p_cur, psi_term) rows
    append to ``out_dir`` — a dashboard alerts on
    ``sum(psi_term) > 0.25`` per batch without scanning the data
    stream itself (the drift twin of :func:`dq_gate_stream`'s
    point-in-time checks).

    The reference half — quantile edges and full-grid bucket counts,
    both k-bounded — is built and localCheckpointed ONCE outside the
    loop (:func:`..operators.drift.psi_reference`); per-batch cost
    is one map-side bucket
    count over the batch plus n_buckets-row arithmetic. Verdicts are
    per-batch with no cross-batch state, so a replayed batch appends
    byte-identical rows (dedupe on ``batch_id`` at read, the gate
    tables' shared idempotency contract)."""
    from picoprobedataflow_spark.operators.drift import (
        psi_reference, psi_score)

    reference = psi_reference(ref, value_col, n_buckets)

    def _process(batch_df: DataFrame, batch_id: int) -> None:
        (psi_score(batch_df, value_col, reference)
         .withColumn("batch_id", F.lit(batch_id))
         .write.mode("append").parquet(out_dir))

    loop.drain(spark.readStream.schema(schema).parquet(src_dir),
               ckpt_dir, _process, "psi drift", timeout)


def ks_drift_stream(spark: SparkSession, src_dir: str,
                    ckpt_dir: str, out_dir: str,
                    ref: DataFrame, value_col: str,
                    schema: StructType | str,
                    round_to: int | None = None,
                    timeout: int = 300) -> None:
    """Streaming NONPARAMETRIC drift monitor — the KS sibling of
    :func:`psi_drift_stream`: every arriving micro-batch gets its
    exact two-sample KS statistic against a FIXED reference snapshot
    (:func:`..operators.drift.ks_score`) and the (batch_id, n_ref,
    n_cur, ks) row appends to ``out_dir``. PSI reads drift through
    fixed quantile buckets; KS catches ANY CDF shift, so the two
    monitors together cover both bucket-blind and bucket-visible
    drift.

    The reference per-distinct-value counts are built and
    localCheckpointed ONCE outside the loop
    (:func:`..operators.drift.ks_reference`); per-batch cost is
    one map-side value
    count over the batch plus the sharded two-phase ECDF stitch
    (round 17 — parallel shard windows; the old single-partition
    ordered pass is retired). One row per batch, no cross-batch
    state — replayed batches
    re-append byte-identical rows (dedupe on ``batch_id`` at read)."""
    from picoprobedataflow_spark.operators.drift import (
        ks_reference, ks_score)

    reference = ks_reference(ref, value_col, round_to)

    def _process(batch_df: DataFrame, batch_id: int) -> None:
        (ks_score(batch_df, value_col, reference)
         .withColumn("batch_id", F.lit(batch_id))
         .write.mode("append").parquet(out_dir))

    loop.drain(spark.readStream.schema(schema).parquet(src_dir),
               ckpt_dir, _process, "ks drift", timeout)


def quality_score_stream(spark: SparkSession, src_dir: str,
                         ckpt_dir: str, out_dir: str,
                         feature_cols: list[str],
                         weights: list[float],
                         schema: StructType | str,
                         id_col: str = "doc_id",
                         threshold: float = 0.5,
                         timeout: int = 300) -> None:
    """Streaming deployment of a TRAINED quality filter
    (:func:`..operators.mlfit.logreg_predict`): every arriving
    micro-batch of featurized documents is scored under the fixed
    ``weights`` (bias first — train them offline with
    ``logreg_train``, exactly how production filters ship) and the
    (batch_id, id, score, keep) verdicts append to ``out_dir``. The
    keep decision gates on the UNROUNDED sigmoid (the catalog's
    decision-boundary rule); ``score`` is the 6-dp reporting value.

    This is the train→deploy half-loop the mlfit module exists for:
    fit on a corpus snapshot, inline the k+1 weight literals into a
    whole-stage-codegen expression, and score at INGEST with zero
    joins, zero state, zero Python — the cheapest possible streaming
    op (one narrow projection per batch). Verdicts are per-row, so
    drain ≡ batch (pytest-pinned) and replayed batches re-append
    byte-identical rows (dedupe on ``batch_id`` at read)."""
    from picoprobedataflow_spark.operators.mlfit import logreg_predict

    def _process(batch_df: DataFrame, batch_id: int) -> None:
        raw = logreg_predict(batch_df, feature_cols, weights,
                             round_digits=None)
        (batch_df.select(F.col(id_col),
                         F.round(raw, 6).alias("score"),
                         (raw >= threshold).alias("keep"))
         .withColumn("batch_id", F.lit(batch_id))
         .write.mode("append").parquet(out_dir))

    loop.drain(spark.readStream.schema(schema).parquet(src_dir),
               ckpt_dir, _process, "quality score", timeout)


def nb_score_stream(spark: SparkSession, src_dir: str,
                    ckpt_dir: str, out_dir: str, model,
                    tokens_col: str, schema: StructType | str,
                    id_col: str = "doc_id",
                    timeout: int = 300) -> None:
    """Streaming deployment of a TRAINED Naive Bayes filter
    (:func:`..operators.mlfit.nb_predict` under an offline-fit
    :class:`..operators.mlfit.NBModel`) — the token-feature sibling
    of :func:`quality_score_stream`: every arriving micro-batch of
    TOKENIZED documents is scored under the fixed model and the
    (batch_id, id, n_tok, score, keep) verdicts append to
    ``out_dir``. ``keep`` gates on the unrounded log-odds (score > 0,
    the decision-boundary rule); ``score`` is the 6-dp report value.

    Per-batch cost: one explode → ONE broadcast join against the
    vocab-bounded llr table → one per-doc aggregate. The llr frame is
    ``localCheckpoint``-ed ONCE here, outside the micro-batch loop —
    the decontam/robots amortization pattern: without it every batch
    re-evaluates the table's full training lineage. Verdicts are
    per-row and the model is frozen, so drain ≡ batch (pytest-pinned)
    and replayed batches re-append byte-identical rows (dedupe on
    ``batch_id`` at read)."""
    from picoprobedataflow_spark.operators.mlfit import (
        NBModel, nb_predict)

    frozen = NBModel(materialize(model.llr)[0],
                     model.prior_logodds, model.oov_llr, model.alpha)

    def _process(batch_df: DataFrame, batch_id: int) -> None:
        (nb_predict(batch_df, frozen, tokens_col, id_col=id_col,
                    round_digits=None)
         .select(F.col(id_col), "n_tok",
                 F.round("score", 6).alias("score"),
                 F.col("pred").alias("keep"))
         .withColumn("batch_id", F.lit(batch_id))
         .write.mode("append").parquet(out_dir))

    loop.drain(spark.readStream.schema(schema).parquet(src_dir),
               ckpt_dir, _process, "nb score", timeout)


def chi2_drift_stream(spark: SparkSession, src_dir: str,
                      ckpt_dir: str, out_dir: str,
                      ref: DataFrame, cat_col: str,
                      schema: StructType | str,
                      top_k: int | None = None,
                      timeout: int = 300) -> None:
    """Streaming CATEGORICAL drift monitor — the chi-square sibling
    of :func:`psi_drift_stream` / :func:`ks_drift_stream`: every
    arriving micro-batch gets its 2×k homogeneity scoreboard against
    a FIXED reference snapshot
    (:func:`..operators.drift.chi2_score`) and the (batch_id,
    category, n_ref, n_cur, e_cur, chi2_term) rows append to
    ``out_dir`` — a dashboard sums chi2_term per batch against the
    χ²(k-1) critical value. PSI/KS watch numeric columns; this lane
    watches the language/source/domain MIX, the shift a crawl
    refresh causes first.

    The reference category counts — cardinality-bounded, optionally
    ``top_k``-rolled — are built and localCheckpointed ONCE outside
    the loop (:func:`..operators.drift.chi2_reference`); per-batch
    cost is one map-side category
    count plus a category-bounded join. Per-batch verdicts, no
    cross-batch state: replayed batches append byte-identical rows
    (dedupe on ``batch_id`` at read, the gate tables' shared
    idempotency contract)."""
    from picoprobedataflow_spark.operators.drift import (
        chi2_reference, chi2_score)

    reference = chi2_reference(ref, cat_col, top_k)

    def _process(batch_df: DataFrame, batch_id: int) -> None:
        (chi2_score(batch_df, cat_col, reference)
         .withColumn("batch_id", F.lit(batch_id))
         .write.mode("append").parquet(out_dir))

    loop.drain(spark.readStream.schema(schema).parquet(src_dir),
               ckpt_dir, _process, "chi2 drift", timeout)
