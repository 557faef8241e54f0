"""Extended window/aggregate surface — SURVEY §2.5's "no reference
instance, engine exposes natively" rows: ranking (rank/dense_rank/
ntile), lead/lag, ROWS and RANGE frames, exact percentiles, and the
approximate sketches needed at 100 TB (approx_count_distinct /
percentile_approx — hash-gated since round 9: estimates stay out of
the hash, per-bound boolean flags ride the deterministic frame).

Single-feature queries are folded into suites (COVERAGE.md maps
SURVEY rows → queries); the salted-skew aggregate lives in
``telemetry.event_stats_suite``; GROUPING SETS in
``relational.grouping_sets_cube``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from picoprobedataflow_spark.checkpoint import materialize
from picoprobedataflow_spark.plans.catalog import query
from picoprobedataflow_spark.plans.common import cents, events_us, tbl

_CENTS = "CAST(round(l_extendedprice * 100) AS BIGINT)"


@query(
    "window_frames_suite",
    oracle=f"""
SELECT 'running' AS family, l_suppkey, l_orderkey, l_linenumber,
       sum({_CENTS}) OVER
         (PARTITION BY l_suppkey ORDER BY l_shipdate, l_orderkey, l_linenumber
          ROWS UNBOUNDED PRECEDING) AS v1,
       CAST(NULL AS BIGINT) AS v2
FROM lineitem WHERE l_suppkey < 5
UNION ALL
SELECT 'trailing30d', l_suppkey, l_orderkey, l_linenumber,
       CAST(sum({_CENTS}) OVER
         (PARTITION BY l_suppkey
          ORDER BY datediff('day', TIMESTAMP '1995-01-01 00:00:00', l_shipdate)
          RANGE BETWEEN 30 PRECEDING AND CURRENT ROW) AS BIGINT),
       NULL
FROM lineitem WHERE l_suppkey < 5
UNION ALL
SELECT 'lead_lag', l_suppkey, l_orderkey, l_linenumber,
       {_CENTS} - lag({_CENTS}) OVER w,
       lead({_CENTS}) OVER w - {_CENTS}
FROM lineitem WHERE l_suppkey < 5
WINDOW w AS (PARTITION BY l_suppkey
             ORDER BY l_shipdate, l_orderkey, l_linenumber)
""",
    tags=("W5", "running-sum", "range-frame", "lead", "lag"),
)
def window_frames_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The three frame specifications over one per-supplier total
    order, exact integer cents throughout: ``running`` = cumulative
    ROWS UNBOUNDED PRECEDING revenue; ``trailing30d`` = value-based
    RANGE frame over a day-number order column (30-day trailing
    revenue — the rolling-rate frame the reference's telemetry
    analysis would need); ``lead_lag`` = neighbor deltas (null-safe
    integer arithmetic). All three window columns are computed on ONE
    projection and unpivoted with ``stack`` — the physical plan has a
    single scan and a single l_suppkey Exchange feeding three
    in-partition sorts (a UNION of three branches re-scanned and
    re-shuffled 3×; plan-asserted in test_scale_patterns)."""
    li = tbl(spark, sf_dir, "lineitem").filter(F.col("l_suppkey") < 5)
    c = cents("l_extendedprice")
    day = F.datediff(F.col("l_shipdate"),
                     F.lit("1995-01-01 00:00:00").cast("timestamp"))
    base = li.select("l_suppkey", "l_orderkey", "l_linenumber",
                     "l_shipdate", c.alias("cents_v"),
                     day.cast("long").alias("day_n"))

    wrow = (W.partitionBy("l_suppkey")
             .orderBy("l_shipdate", "l_orderkey", "l_linenumber")
             .rowsBetween(W.unboundedPreceding, W.currentRow))
    wrange = (W.partitionBy("l_suppkey").orderBy("day_n")
               .rangeBetween(-30, 0))
    wlag = W.partitionBy("l_suppkey").orderBy("l_shipdate", "l_orderkey",
                                              "l_linenumber")
    cv = F.col("cents_v")
    wide = base.select(
        "l_suppkey", "l_orderkey", "l_linenumber",
        F.sum("cents_v").over(wrow).alias("run_c"),
        F.sum("cents_v").over(wrange).cast("long").alias("tr_c"),
        (cv - F.lag("cents_v").over(wlag)).alias("dprev"),
        (F.lead("cents_v").over(wlag) - cv).alias("dnext"))
    return wide.selectExpr(
        "l_suppkey", "l_orderkey", "l_linenumber",
        "stack(3, 'running', run_c, CAST(NULL AS BIGINT), "
        "'trailing30d', tr_c, CAST(NULL AS BIGINT), "
        "'lead_lag', dprev, dnext) AS (family, v1, v2)"
    ).select("family", "l_suppkey", "l_orderkey", "l_linenumber",
             "v1", "v2")


@query(
    "balance_rank_percentiles",
    oracle="""
SELECT 'rank' AS family, c_mktsegment AS k, CAST(c_custkey AS BIGINT) AS id,
       CAST(floor(c_acctbal / 1000) AS BIGINT) * 1.0 AS v1,
       CAST(rank() OVER w AS DOUBLE)        AS v2,
       CAST(dense_rank() OVER w AS DOUBLE)  AS v3,
       CAST(ntile(4) OVER (PARTITION BY c_mktsegment
             ORDER BY floor(c_acctbal / 1000) DESC, c_custkey) AS DOUBLE)
           AS v4
FROM customer
WHERE c_custkey < 300
WINDOW w AS (PARTITION BY c_mktsegment ORDER BY floor(c_acctbal / 1000) DESC)
UNION ALL
SELECT 'percentiles', event_type, NULL,
       CAST(quantile_cont(CAST(round(value * 100) AS BIGINT), 0.25) AS DOUBLE)
         / 100.0,
       CAST(quantile_cont(CAST(round(value * 100) AS BIGINT), 0.5) AS DOUBLE)
         / 100.0,
       CAST(quantile_cont(CAST(round(value * 100) AS BIGINT), 0.75) AS DOUBLE)
         / 100.0,
       CAST(quantile_cont(CAST(round(value * 100) AS BIGINT), 0.9) AS DOUBLE)
         / 100.0
FROM events GROUP BY event_type
""",
    tags=("rank", "ntile", "percentile"),
)
def balance_rank_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ranking + exact distribution in one union: ``rank`` =
    rank/dense_rank over a coarse key (real ties → gap semantics
    differ) and ntile over a total order (ties would make tile
    assignment engine-dependent); ``percentiles`` = exact interpolated
    quartiles/p90 over integer cents — both engines interpolate the
    same two integers, bit-identical (the approximate sketch variant
    is ``approx_sketches``, rows-only)."""
    nuld = F.lit(None).cast("double")
    cu = tbl(spark, sf_dir, "customer").filter(F.col("c_custkey") < 300)
    bucket = F.floor(F.col("c_acctbal") / 1000)
    w = W.partitionBy("c_mktsegment").orderBy(F.desc(bucket))
    wt = W.partitionBy("c_mktsegment").orderBy(F.desc(bucket), "c_custkey")
    rank = cu.select(
        F.lit("rank").alias("family"),
        F.col("c_mktsegment").alias("k"),
        F.col("c_custkey").cast("long").alias("id"),
        (bucket.cast("long") * 1.0).alias("v1"),
        F.rank().over(w).cast("double").alias("v2"),
        F.dense_rank().over(w).cast("double").alias("v3"),
        F.ntile(4).over(wt).cast("double").alias("v4"))

    ev = events_us(spark, sf_dir)
    c = cents()
    pct = ev.groupBy(F.col("event_type").alias("k")).agg(
        (F.percentile(c, F.lit(0.25)) / 100.0).alias("v1"),
        (F.percentile(c, F.lit(0.5)) / 100.0).alias("v2"),
        (F.percentile(c, F.lit(0.75)) / 100.0).alias("v3"),
        (F.percentile(c, F.lit(0.9)) / 100.0).alias("v4"),
    ).select(F.lit("percentiles").alias("family"), "k",
             F.lit(None).cast("long").alias("id"), "v1", "v2", "v3", "v4")

    return rank.unionByName(pct)


@query(
    "approx_sketches",
    oracle="""
SELECT event_type,
       COUNT(*) AS n,
       COUNT(DISTINCT user_id) AS exact_users,
       (SELECT COUNT(DISTINCT user_id) FROM events) AS merged_exact,
       TRUE AS users_ok, TRUE AS median_ok, TRUE AS merged_ok
FROM events GROUP BY event_type
""",
    tags=("approx", "sketch"))
def approx_sketches(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 100 TB monitoring aggregates: HyperLogLog distinct counts
    and quantile sketches. Sketch ESTIMATES are engine-specific by
    design (Spark HLL++/QuantileSummaries vs DuckDB HLL), so the
    estimates stay OUT of the hashed output (round 9 — previously
    this was the catalog's one rows-only entry); what hashes is the
    deterministic frame both engines can replay exactly — per-type
    counts, exact distincts, the global exact distinct — plus one
    boolean per error bound, computed Spark-side from the sketches
    and pinned literally TRUE by the oracle. A sketch drifting past
    its published bound flips its flag and fails the value hash: the
    driver gate IS the accuracy gate. The exact twins remain the
    ``event_types`` family of ``event_stats_suite`` and the
    ``percentiles`` family of ``balance_rank_percentiles``. Bounds:

    - HLL++ at rsd=0.05: |approx − exact| ≤ max(4·rsd·exact, 3) —
      four standard errors plus small-cardinality slack (tiny groups
      use the exact sparse path anyway).
    - approx_percentile at accuracy=100 guarantees a RANK error ≤
      1/accuracy (not a value distance), so the check joins the
      sketch median back to the events and measures its true rank:
      frac(value ≤ m) ≥ 0.5 − ε and frac(value < m) ≤ 0.5 + ε with
      ε = 1/accuracy + 1/n (discretization slack). The join is a
      broadcast of the k-row sketch table; the extra pass is the
      price of validation, both passes scale-safe hash aggs.
    - Datasketches HLL MERGEABILITY (round 5): per-type
      ``hll_sketch_agg`` sketches are ``hll_union_agg``-merged and
      the merged estimate must land within 4 standard errors
      (lgConfigK=12 → rsd ≈ 1.6%) of the exact GLOBAL distinct —
      the property that matters at 100 TB, where per-partition/
      per-day partial sketches union into corpus totals without
      ever re-scanning; ``merged_est``/``merged_exact`` ride along
      on every row; its flag is ``merged_ok``.

    :func:`approx_sketches_detail` keeps the full sketch frame
    (estimates, rank fractions, merged estimate) for monitoring
    consumers and the bound-recomputation test."""
    return approx_sketches_detail(spark, sf_dir).select(
        "event_type", "n", "exact_users", "merged_exact",
        "users_ok", "median_ok", "merged_ok")


def approx_sketches_detail(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full sketch frame behind :func:`approx_sketches`: estimates,
    exact twins, measured rank fractions, merged HLL estimate, and
    the per-bound boolean flags."""
    rsd, accuracy = 0.05, 100
    ev = events_us(spark, sf_dir)
    # localCheckpoint: `sk` feeds BOTH the rank-check join and the
    # final output. Without materialization each consumer re-evaluates
    # the sketch aggregate, and QuantileSummaries merging is
    # shuffle-arrival-order-dependent — the median validated in `out`
    # could differ from the median `rankchk` measured, flipping
    # median_ok spuriously. One evaluation, one median.
    sk, _ = materialize(ev.groupBy("event_type").agg(
        F.approx_count_distinct("user_id", rsd).alias("approx_users"),
        F.percentile_approx("value", F.lit(0.5),
                            F.lit(accuracy)).alias("approx_median"),
        F.count("*").alias("n"),
        F.countDistinct("user_id").alias("exact_users"),
        F.hll_sketch_agg("user_id").alias("_hll")
    ))
    merged = sk.agg(
        F.hll_sketch_estimate(F.hll_union_agg("_hll"))
         .alias("merged_est"))
    mexact = ev.agg(F.countDistinct("user_id").alias("merged_exact"))
    mrow = (merged.crossJoin(F.broadcast(mexact))
            .withColumn(
                "merged_ok",
                F.abs(F.col("merged_est") - F.col("merged_exact"))
                <= F.greatest(0.064 * F.col("merged_exact"),
                              F.lit(3.0))))
    rankchk = (ev.join(F.broadcast(
                   sk.select("event_type", "approx_median")),
                   "event_type")
               .groupBy("event_type")
               .agg(F.avg((F.col("value") <= F.col("approx_median"))
                          .cast("double")).alias("frac_le"),
                    F.avg((F.col("value") < F.col("approx_median"))
                          .cast("double")).alias("frac_lt")))
    eps = F.lit(1.0 / accuracy) + 1.0 / F.col("n")
    out = (sk.drop("_hll").join(rankchk, "event_type")
           .crossJoin(F.broadcast(mrow))
           .withColumn(
               "users_ok",
               F.abs(F.col("approx_users") - F.col("exact_users"))
               <= F.greatest(F.lit(4 * rsd) * F.col("exact_users"),
                             F.lit(3.0)))
           .withColumn(
               "median_ok",
               (F.col("frac_le") >= 0.5 - eps)
               & (F.col("frac_lt") <= 0.5 + eps)))
    return out
