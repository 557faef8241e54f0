"""Distribution-drift detection between two corpus snapshots.

A continuously-refreshed training corpus needs more than point-in-time
quality gates (``operators/expectations.py``): the question "did this
month's crawl silently shift the length/quality/score distribution?"
is answered by comparing the CURRENT snapshot against a REFERENCE
snapshot, bucket by bucket. The standard industry metric is the
Population Stability Index::

    PSI = Σ_buckets (p_cur - p_ref) · ln(p_cur / p_ref)

with buckets from the REFERENCE snapshot's quantiles (equal-population
on ref by construction, so drift shows up as unequal population on
cur). Common reading: < 0.1 stable, 0.1–0.25 moderate shift, > 0.25
action needed.

Scale shape: one aggregate over ref for the n-1 quantile edges (a
k-bounded array on ONE row — broadcast to both snapshots via a 1-row
crossJoin, the same pattern as the catalog's scalar-agg broadcasts),
then one n_buckets-cardinality groupBy per snapshot and an n-row
join. Nothing is ever keyed on more than n_buckets rows after the
first pass; both snapshot scans stream map-side into their bucket
counts.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from picoprobedataflow_spark.checkpoint import materialize

#: Zero-proportion clamp for the PSI log ratio: an empty bucket on
#: either side would send ln(p/q) to ±inf; the conventional fix
#: (shared by every production PSI implementation) floors both
#: proportions. 1e-6 keeps a truly-empty bucket's contribution large
#: (it IS drift) without becoming infinite.
PSI_EPS = 1e-6


def _bucket(value: Column, edges: Column) -> Column:
    """0-based bucket index: the count of edges strictly below the
    value — identical in DuckDB as
    ``len(list_filter(edges, e -> value > e))``."""
    return F.size(F.filter(edges, lambda e: value > e))


class PsiReference:
    """The precomputed HALF of a PSI comparison: the reference
    snapshot's quantile edges (a k-bounded 1-row frame) and its
    full-grid bucket counts. Build once with :func:`psi_reference`,
    score any number of current snapshots/micro-batches against it
    with :func:`psi_score` — the amortization the streaming monitor
    needs (re-deriving the reference per micro-batch is exactly the
    per-batch rebuild the decontam stream's round-13 hook fixed)."""

    __slots__ = ("edges_row", "counts", "n_buckets")

    def __init__(self, edges_row: DataFrame, counts: DataFrame,
                 n_buckets: int):
        self.edges_row = edges_row
        self.counts = counts
        self.n_buckets = n_buckets


def _bucket_counts(df: DataFrame, value_col: str,
                   edges_row: DataFrame, alias: str) -> DataFrame:
    return (df.filter(F.col(value_col).isNotNull())
            .crossJoin(F.broadcast(edges_row))
            .select(_bucket(F.col(value_col).cast("double"),
                            F.col("_edges")).alias("bucket"))
            .groupBy("bucket")
            .agg(F.count("*").cast("long").alias(alias)))


def psi_reference(ref: DataFrame, value_col: str,
                  n_buckets: int = 10) -> PsiReference:
    """Build the reference half: exact ``1/n .. (n-1)/n`` quantile
    edges and the always-``n_buckets``-row reference bucket counts,
    both eager-checkpointed. The 1-row edges frame: every caller
    broadcasts it into at least two bucket-count passes (ref + cur),
    so a lazy edges frame re-runs the reference percentile scan per
    consumer — the round-17 plan audit counted the psi scoreboard
    scanning its reference corpus 8x for a 10-row result. The
    ``n_buckets``-row count table: the reference is built once and
    scored many times (the streaming monitor)."""
    if n_buckets < 2:
        raise ValueError("n_buckets must be >= 2")
    v = F.col(value_col).cast("double")
    qs = [i / n_buckets for i in range(1, n_buckets)]
    edges_row, _ = materialize(ref.filter(v.isNotNull()).agg(
        F.percentile(v, F.array(*[F.lit(q) for q in qs]))
         .alias("_edges")))
    spark = ref.sparkSession
    grid = spark.range(n_buckets).select(
        F.col("id").cast("int").alias("bucket"))
    counts, _ = materialize(
        grid.join(_bucket_counts(ref, value_col, edges_row, "n_ref"),
                  "bucket", "left")
        .select("bucket", F.coalesce("n_ref", F.lit(0)).alias("n_ref")))
    return PsiReference(edges_row, counts, n_buckets)


def psi_score(cur: DataFrame, value_col: str,
              reference: PsiReference,
              round_digits: int = 6) -> DataFrame:
    """Score one current snapshot against a prebuilt
    :class:`PsiReference` — the repeated half of the comparison. See
    :func:`psi_report` for the scoreboard contract."""
    # The n_buckets-row scoreboard feeds TWO consumers (the totals
    # agg and the final projection) — materialize it once or the
    # whole ref+cur bucket-count subtree re-evaluates per consumer
    # (guide §5: reused AND expensive to recompute; the frame is
    # k-bounded by contract).
    j, _ = materialize(
        reference.counts
        .join(_bucket_counts(cur, value_col, reference.edges_row,
                             "n_cur"), "bucket", "left")
        .select("bucket", "n_ref",
                F.coalesce("n_cur", F.lit(0)).alias("n_cur")))
    tot = j.agg(F.sum("n_ref").alias("_tr"),
                F.sum("n_cur").alias("_tc"))
    p_ref = F.greatest(F.col("n_ref") / F.greatest(F.col("_tr"),
                                                   F.lit(1)),
                       F.lit(PSI_EPS))
    p_cur = F.greatest(F.col("n_cur") / F.greatest(F.col("_tc"),
                                                   F.lit(1)),
                       F.lit(PSI_EPS))
    return (j.crossJoin(F.broadcast(tot))
            .select("bucket", "n_ref", "n_cur",
                    F.round(p_ref, round_digits).alias("p_ref"),
                    F.round(p_cur, round_digits).alias("p_cur"),
                    F.round((p_cur - p_ref) * F.log(p_cur / p_ref),
                            round_digits).alias("psi_term"))
            .orderBy("bucket"))


def psi_report(ref: DataFrame, cur: DataFrame, value_col: str,
               n_buckets: int = 10,
               round_digits: int = 6) -> DataFrame:
    """(bucket, n_ref, n_cur, p_ref, p_cur, psi_term): the PSI
    scoreboard between two snapshots of a numeric column, one row
    per reference-quantile bucket; ``sum(psi_term)`` is the PSI.
    Bucket edges are the reference snapshot's exact
    ``1/n .. (n-1)/n`` quantiles (linear interpolation — Spark
    ``percentile`` and DuckDB ``quantile_cont`` agree); a value lands
    in the bucket counting the edges strictly below it, so boundary
    values go LEFT in both engines. Buckets empty on both sides
    still emit a row (p floored at :data:`PSI_EPS`, psi_term 0 —
    the scoreboard always has exactly ``n_buckets`` rows, a contract
    a monitoring dashboard can key on). NULL values are excluded on
    both sides (they are a DQ concern, not a drift signal —
    ``check_expectations`` owns null-rate tracking). One-shot form
    of :func:`psi_reference` + :func:`psi_score` (ONE shared
    implementation; the streaming monitor calls the two halves
    directly so the reference builds once, not per micro-batch).

    Cross-engine note: psi_term rounds at ``round_digits`` AFTER the
    ln/product arithmetic; the same FP-associativity tolerance as
    the ``rand_proj`` family applies (documented there)."""
    return psi_score(cur, value_col,
                     psi_reference(ref, value_col, n_buckets),
                     round_digits)


def _value_counts(df: DataFrame, value_col: str,
                  round_to: int | None, alias: str) -> DataFrame:
    """(v, <alias>): per-distinct-value counts of a numeric column —
    the reduction both KS halves run (map-side combinable)."""
    v = F.col(value_col).cast("double")
    if round_to is not None:
        v = F.round(v, round_to)
    return (df.filter(v.isNotNull()).select(v.alias("v"))
            .groupBy("v").agg(F.count("*").alias(alias)))


class KsReference:
    """The build-once half of the KS comparison: the reference
    snapshot's per-distinct-value counts (bounded by distinct
    cardinality) plus the quantization the fit used — score any
    number of current snapshots/micro-batches against it with
    :func:`ks_score` (the psi_reference amortization contract)."""

    __slots__ = ("counts", "round_to")

    def __init__(self, counts: DataFrame, round_to: int | None):
        self.counts = counts
        self.round_to = round_to


def ks_reference(ref: DataFrame, value_col: str,
                 round_to: int | None = None) -> KsReference:
    """Build the KS reference counts, eager-checkpointed for repeated
    scoring (the streaming monitor — without it every micro-batch
    re-scans the reference)."""
    counts, _ = materialize(_value_counts(ref, value_col, round_to, "c_ref"))
    return KsReference(counts, round_to)


#: Shard count for the distributed ECDF cumulative sum. The shard
#: map is a deterministic monotone bucketization of the value range
#: (exact min/max linear binning), so shard order ≡ value order and
#: the two-phase cumsum is bit-identical to the global window form
#: (pytest-pinned) — the :mod:`..operators.packing` discipline
#: applied to a double ordering key.
KS_SHARDS = 64

#: ``formulation="auto"`` cutover for :func:`ks_score` (the
#: ``simhash_signatures`` / key_skew statistics-driven-formulation
#: convention): when the Catalyst-estimated size of BOTH inputs is
#: at or under this, the distinct-value count table is small and the
#: single-window form wins (the sharded stitch pays a bounds
#: broadcast, a shard-offset pass and a checkpoint — ~0.2 s of fixed
#: stage overhead that dominates at fixture scale); larger or
#: STAT-LESS inputs take the sharded two-phase form, the only shape
#: with no single-reducer stage at corpus scale. Both formulations
#: are bit-identical (exact int64 cumulants; equality-pinned).
KS_SINGLE_WINDOW_MAX_BYTES = 64 << 20


def _joined_counts(cur: DataFrame, value_col: str,
                   reference: KsReference) -> DataFrame:
    """(v, c_ref, c_cur): the full-outer merge of the two sides'
    per-distinct-value count tables — the frame both KS
    formulations cumulate over."""
    return (reference.counts
            .join(_value_counts(cur, value_col, reference.round_to,
                                "c_cur"), "v", "full_outer")
            .select("v", F.coalesce("c_ref", F.lit(0)).alias("c_ref"),
                    F.coalesce("c_cur", F.lit(0)).alias("c_cur")))


def _ks_of_d(c: DataFrame, d: DataFrame) -> DataFrame:
    """Fold the per-value |ΔECDF| column ``_d`` into the one-row
    (n_ref, n_cur, ks) contract. Always-one-row even on empty
    inputs (d is then empty and a groupBy would emit nothing):
    totals and the max fold independently, then cross-join (both
    1-row)."""
    tot = c.agg(F.sum("c_ref").cast("long").alias("n_ref"),
                F.sum("c_cur").cast("long").alias("n_cur"))
    mx = d.agg(F.round(F.max("_d"), 6).alias("ks"))
    return (tot.select(F.coalesce("n_ref", F.lit(0)).alias("n_ref"),
                       F.coalesce("n_cur", F.lit(0)).alias("n_cur"))
            .crossJoin(F.broadcast(mx)))


def ks_score(cur: DataFrame, value_col: str,
             reference: KsReference,
             n_shards: int = KS_SHARDS,
             formulation: str = "auto") -> DataFrame:
    """Score one current snapshot against a prebuilt
    :class:`KsReference` — the repeated half. See :func:`ks_report`
    for the one-row contract.

    ``formulation``: ``"sharded"`` (the scale path),
    ``"single_window"`` (:func:`ks_score_single_window`), or
    ``"auto"`` (default) — the statistics-driven cutover of
    :data:`KS_SINGLE_WINDOW_MAX_BYTES`: small estimated inputs take
    the single-window form (its fixed costs are lower), anything
    larger or stat-less takes the sharded form (the scale-safe
    side). Bit-identical either way (equality-pinned).

    Sharded formulation (round 17): the ECDF cumulative sums run as
    a TWO-PHASE sharded scan, not one global ordered window — the
    previous always-``Window.orderBy(v)`` form funneled the whole
    distinct-value table through a single task, which approaches the
    row count on a continuous column with the default
    ``round_to=None`` (the one scale-unsafe default VERDICT r16
    flagged). Phase layout:

    1. shard = deterministic monotone linear binning of ``v`` over
       the exact [min, max] range (a 1-row agg, broadcast — the
       scalar-agg convention; exact min/max keeps the map
       deterministic where an approx-quantile edge set could drift
       between plan branches);
    2. within-shard cumsum — windows partitioned by shard, parallel;
    3. shard offsets — per-shard count totals prefix-summed by ONE
       window over the ``n_shards``-bounded totals table (the
       zipf/top-N bounded-window convention), broadcast back.

    All cumulated quantities are exact int64, so the result is
    bit-identical to :func:`ks_score_single_window` (pytest-pinned)
    and the DuckDB oracle's global ``SUM ... OVER (ORDER BY v)``
    replay. Value ties across shard boundaries cannot exist (the
    count table is distinct on ``v``). Pathologically-skewed ranges
    (one outlier stretching [min, max]) degrade parallelism — most
    values land in one shard — but never correctness; a drift
    monitor's value columns (lengths, scores) are range-bounded in
    practice."""
    if formulation not in ("auto", "sharded", "single_window"):
        raise ValueError(
            f"formulation must be auto|sharded|single_window, got "
            f"{formulation!r}")
    if n_shards < 1:
        raise ValueError("n_shards must be >= 1")
    if formulation == "auto":
        from picoprobedataflow_spark.operators.dedup import \
            _plan_size_bytes
        small = (_plan_size_bytes(cur)
                 <= KS_SINGLE_WINDOW_MAX_BYTES
                 and _plan_size_bytes(reference.counts)
                 <= KS_SINGLE_WINDOW_MAX_BYTES)
        formulation = "single_window" if small else "sharded"
    if formulation == "single_window":
        return ks_score_single_window(cur, value_col, reference)
    # The merged count table feeds FOUR consumers (range bounds,
    # totals, shard offsets, the stitched cumsum) — materialize it
    # once (round-17 plan audit: un-checkpointed, each branch
    # re-derived the corpus scans + full-outer join; AQE exchange
    # reuse recovered only part of it). Storage is the
    # distinct-value table the op shuffles anyway.
    c, _ = materialize(_joined_counts(cur, value_col, reference))
    bounds = c.agg(F.min("v").alias("_lo"), F.max("v").alias("_hi"))
    span = F.col("_hi") - F.col("_lo")
    shard = F.when(
        span > 0,
        F.least(F.lit(n_shards - 1),
                F.floor((F.col("v") - F.col("_lo")) / span
                        * n_shards))).otherwise(F.lit(0)).cast("long")
    assigned = (c.crossJoin(F.broadcast(bounds))
                .select("v", "c_ref", "c_cur", shard.alias("_shard")))
    w_sh = (Window.orderBy("_shard")
            .rowsBetween(Window.unboundedPreceding, -1))
    offs = (assigned.groupBy("_shard")
            .agg(F.sum("c_ref").cast("long").alias("_sr"),
                 F.sum("c_cur").cast("long").alias("_sc"))
            .select("_shard",
                    F.coalesce(F.sum("_sr").over(w_sh), F.lit(0))
                     .cast("long").alias("_or"),
                    F.coalesce(F.sum("_sc").over(w_sh), F.lit(0))
                     .cast("long").alias("_oc")))
    tot = c.agg(F.sum("c_ref").cast("long").alias("n_ref"),
                F.sum("c_cur").cast("long").alias("n_cur"))
    w_in = (Window.partitionBy("_shard").orderBy("v")
            .rowsBetween(Window.unboundedPreceding, 0))
    cum_r = F.col("_or") + F.sum("c_ref").over(w_in)
    cum_c = F.col("_oc") + F.sum("c_cur").over(w_in)
    d = (assigned.join(F.broadcast(offs), "_shard")
         .crossJoin(F.broadcast(tot))
         .select(F.when((F.col("n_ref") > 0) & (F.col("n_cur") > 0),
                        F.abs(cum_r / F.col("n_ref")
                              - cum_c / F.col("n_cur")))
                 .alias("_d")))
    return _ks_of_d(c, d)


def ks_score_single_window(cur: DataFrame, value_col: str,
                           reference: KsReference) -> DataFrame:
    """Single-window formulation: the ECDFs through ONE global
    ordered window over the distinct-value table (the
    single-reducer plan). The SMALL side of :func:`ks_score`'s
    ``auto`` cutover (its fixed costs beat the sharded stitch when
    the count table is tiny — the grouped-simhash convention) and
    the equality baseline the sharded form is pinned against; the
    sharded form is the only deployed shape past
    :data:`KS_SINGLE_WINDOW_MAX_BYTES` or on stat-less inputs.

    The merged count table is materialized here for the same reason
    the sharded form checkpoints it: THREE consumers (the window
    pass, the totals, the final n-rows) — the round-17 plan audit
    caught the un-checkpointed small form re-deriving the two
    snapshot scans + the full-outer merge per consumer (6 parquet
    scans, 21 exchanges for a 1-row result)."""
    c, _ = materialize(_joined_counts(cur, value_col, reference))
    tot = c.agg(F.sum("c_ref").cast("long").alias("n_ref"),
                F.sum("c_cur").cast("long").alias("n_cur"))
    w = Window.orderBy("v").rowsBetween(
        Window.unboundedPreceding, 0)
    d = (c.crossJoin(F.broadcast(tot))
         .select(F.when((F.col("n_ref") > 0) & (F.col("n_cur") > 0),
                        F.abs(F.sum("c_ref").over(w) / F.col("n_ref")
                              - F.sum("c_cur").over(w)
                              / F.col("n_cur")))
                 .alias("_d")))
    return _ks_of_d(c, d)


def ks_report(ref: DataFrame, cur: DataFrame, value_col: str,
              round_to: int | None = None) -> DataFrame:
    """Exact two-sample Kolmogorov–Smirnov statistic between a
    reference and a current snapshot of any numeric column — the
    nonparametric sibling of :func:`psi_report`: PSI reads drift
    through fixed quantile buckets (cheap, streaming-friendly,
    bucket-blind inside a bucket); KS is the sup-norm CDF distance,
    sensitive to ANY distributional shift, at the cost of an ordered
    pass. Returns ONE row ``(n_ref, n_cur, ks)``; ``ks`` is NULL when
    either side is empty (the statistic is undefined — a monitor
    treats that as "no data", not "no drift") and rounds at 6 dp.

    Scale shape: each side pre-aggregates to per-DISTINCT-VALUE
    counts (map-side combinable), the two count tables full-outer
    join on value, and the cumulative CDFs run as a SHARDED
    two-phase scan (:func:`ks_score` — windows partitioned by a
    deterministic monotone value-range shard; the only partition-less
    window runs over the ``n_shards``-bounded shard-totals table).
    Round 17 retired the previous global ``Window.orderBy(v)``
    formulation, whose single task held the whole distinct-value
    table — near row count on a continuous column under the default
    ``round_to=None``; the exact statistic is now scale-safe BY
    DEFAULT. ``round_to`` remains available to shrink the count
    tables themselves (the KS error introduced is at most the CDF
    mass inside one quantum). One-shot form of
    :func:`ks_reference` + :func:`ks_score` (ONE shared
    implementation; the streaming monitor calls the halves directly
    so the reference counts build once, not per micro-batch)."""
    return ks_score(cur, value_col,
                    ks_reference(ref, value_col, round_to))


class Chi2Reference:
    """The build-once half of the chi-square comparison: the
    reference snapshot's per-category counts (bounded by category
    cardinality, optionally top-k rolled), scored repeatedly with
    :func:`chi2_score` — the psi_reference amortization contract."""

    __slots__ = ("counts", "top_k", "other_label")

    def __init__(self, counts: DataFrame, top_k: int | None,
                 other_label: str):
        self.counts = counts
        self.top_k = top_k
        self.other_label = other_label


def _cat_counts(df: DataFrame, cat_col: str,
                alias: str) -> DataFrame:
    """(cat, <alias>): per-category counts of a categorical column —
    map-side combinable, cardinality-bounded. NULL categories are
    excluded on both sides (the psi/ks convention: null-rate
    tracking belongs to check_expectations, not drift)."""
    c = F.col(cat_col).cast("string")
    return (df.filter(c.isNotNull()).select(c.alias("cat"))
            .groupBy("cat").agg(F.count("*").alias(alias)))


def chi2_reference(ref: DataFrame, cat_col: str,
                   top_k: int | None = None,
                   other_label: str = "__other__") -> Chi2Reference:
    """Build the chi-square reference counts. ``top_k`` keeps the k
    most frequent reference categories (ties broken by category
    value — deterministic) and rolls the rest into ``other_label``;
    scoring rolls the current side against the SAME kept set, so a
    category that was rare at reference time lands in the other
    bucket on both sides and never inflates the table. The rank
    window is global but runs over the category-cardinality-bounded
    count table (the zipf/top-N convention), not the corpus. The
    counts are eager-checkpointed for repeated scoring (the streaming
    monitor)."""
    counts = _cat_counts(ref, cat_col, "c_ref")
    if top_k is not None:
        if top_k < 1:
            raise ValueError("top_k must be >= 1")
        w = Window.orderBy(F.desc("c_ref"), F.asc("cat"))
        counts = (counts
                  .withColumn("_rk", F.row_number().over(w))
                  .select(F.when(F.col("_rk") <= top_k, F.col("cat"))
                          .otherwise(F.lit(other_label)).alias("cat"),
                          "c_ref")
                  .groupBy("cat")
                  .agg(F.sum("c_ref").alias("c_ref")))
    counts, _ = materialize(counts)
    return Chi2Reference(counts, top_k, other_label)


def chi2_score(cur: DataFrame, cat_col: str,
               reference: Chi2Reference,
               round_digits: int = 6) -> DataFrame:
    """Score one current snapshot against a prebuilt
    :class:`Chi2Reference` — the repeated half. See
    :func:`chi2_report` for the scoreboard contract."""
    cc = _cat_counts(cur, cat_col, "c_cur")
    if reference.top_k is not None:
        kept = reference.counts.select("cat") \
            .filter(F.col("cat") != reference.other_label)
        cc = (cc.join(F.broadcast(kept.withColumn("_k", F.lit(True))),
                      "cat", "left")
              .select(F.when(F.col("_k"), F.col("cat"))
                      .otherwise(F.lit(reference.other_label))
                      .alias("cat"), "c_cur")
              .groupBy("cat").agg(F.sum("c_cur").alias("c_cur")))
    # Category-cardinality-bounded scoreboard, two consumers (totals
    # + final) — materialize once (guide §5; the round-17 plan audit
    # counted the un-checkpointed form scanning each snapshot twice).
    j, _ = materialize(
        reference.counts.join(cc, "cat", "full_outer")
        .select(F.col("cat").alias("category"),
                F.coalesce("c_ref", F.lit(0)).cast("long")
                 .alias("n_ref"),
                F.coalesce("c_cur", F.lit(0)).cast("long")
                 .alias("n_cur")))
    tot = j.agg(F.sum("n_ref").cast("long").alias("_tr"),
                F.sum("n_cur").cast("long").alias("_tc"))
    col_tot = F.col("n_ref") + F.col("n_cur")
    grand = F.col("_tr") + F.col("_tc")
    # Exact long products before the one double division (the q14
    # cents convention); at corpus scales where tr·col would
    # overflow int64 cast both to double first — the statistic is a
    # ratio, the last-ulp loss is irrelevant there.
    e_ref = (F.col("_tr") * col_tot).cast("double") / grand
    e_cur = (F.col("_tc") * col_tot).cast("double") / grand
    defined = (F.col("_tr") > 0) & (F.col("_tc") > 0)
    term = (F.pow(F.col("n_ref") - e_ref, F.lit(2.0)) / e_ref
            + F.pow(F.col("n_cur") - e_cur, F.lit(2.0)) / e_cur)
    return (j.crossJoin(F.broadcast(tot))
            .select("category", "n_ref", "n_cur",
                    F.round(F.when(defined, e_cur), round_digits)
                     .alias("e_cur"),
                    F.round(F.when(defined, term), round_digits)
                     .alias("chi2_term"))
            .orderBy("category"))


def chi2_report(ref: DataFrame, cur: DataFrame, cat_col: str,
                top_k: int | None = None,
                round_digits: int = 6) -> DataFrame:
    """(category, n_ref, n_cur, e_cur, chi2_term): the two-sample
    chi-square homogeneity scoreboard between two snapshots of a
    CATEGORICAL column — the sibling PSI/KS can't cover: a corpus
    refresh also shifts language / source / domain MIXES, where
    quantile buckets are meaningless. One row per category observed
    on either side (union; a category absent from one side counts 0
    there — new-at-cur categories are exactly the drift worth
    flagging); ``sum(chi2_term)`` is the 2×k contingency statistic
    (each term sums the ref and cur cells of its column) and
    ``count(*) - 1`` its degrees of freedom — the scipy
    ``chi2_contingency``-style monitor test, per-category
    attributable. ``e_cur`` is the expected current count under
    homogeneity (``tc·(n_ref+n_cur)/(tr+tc)``). When either side is
    empty the statistic is undefined: e_cur/chi2_term are NULL (the
    KS "no data ≠ no drift" contract). Expected counts are always
    positive on defined rows (a category appears on some side, so
    its column total > 0) — no epsilon clamp needed, unlike PSI's
    log ratio.

    Scale shape: two map-side category counts (cardinality-bounded),
    one full-outer join on category, a 1-row totals broadcast —
    nothing after the first pass exceeds category cardinality. For
    unbounded-cardinality columns (raw domains), ``top_k`` rolls the
    tail into one bucket against the REFERENCE's top set, keeping
    the table k-bounded without letting the current side re-pick the
    buckets. One-shot form of :func:`chi2_reference` +
    :func:`chi2_score` (ONE shared implementation; the streaming
    monitor calls the halves directly)."""
    return chi2_score(cur, cat_col,
                      chi2_reference(ref, cat_col, top_k),
                      round_digits)
