"""Scale-pattern evidence tests: bucketed co-located joins (no
exchange in the plan), partitioned-write pruning, and
hypothesis-driven invariants for the normalization/dedup/overhead
operators (SURVEY §5: property-based tests)."""

from __future__ import annotations

import os

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from picoprobedataflow_spark.plans import pipeline as PL


def test_bucketed_join_skips_shuffle(spark, tmp_path):
    """Writing both sides bucketed by the join key lets the sort-merge
    join run with ZERO Exchange operators — the co-located-join knob
    from SCALE.md, proven from the physical plan."""
    # (warehouse dir is a static conf — the shared session's default
    # spark-warehouse/ is used; tables are dropped on the way out and
    # the dir is gitignored.)
    orders = spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
    lineitem = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
    spark.sql("DROP TABLE IF EXISTS b_orders")
    spark.sql("DROP TABLE IF EXISTS b_lineitem")
    (orders.write.bucketBy(8, "o_orderkey").sortBy("o_orderkey")
           .mode("overwrite").saveAsTable("b_orders"))
    (lineitem.write.bucketBy(8, "l_orderkey").sortBy("l_orderkey")
             .mode("overwrite").saveAsTable("b_lineitem"))
    try:
        # hint("merge") forces sort-merge (at sf0.001 AQE would
        # broadcast instead — at real scale SMJ is what bucketing buys).
        joined = (spark.table("b_lineitem")
                  .hint("merge")
                  .join(spark.table("b_orders"),
                        F.col("l_orderkey") == F.col("o_orderkey"))
                  .groupBy("o_orderstatus")
                  .agg(F.count("*").alias("n")))
        plan = joined._jdf.queryExecution().executedPlan().toString()
        join_section = plan.split("HashAggregate")[-1]
        assert "SortMergeJoin" in plan
        assert "Exchange" not in join_section, (
            "bucketed join should not shuffle either side:\n" + plan)
        # and it still computes the right thing
        got = {r.o_orderstatus: r.n for r in joined.collect()}
        want = {r.o_orderstatus: r.n for r in
                lineitem.join(orders,
                              F.col("l_orderkey") == F.col("o_orderkey"))
                        .groupBy("o_orderstatus")
                        .agg(F.count("*").alias("n")).collect()}
        assert got == want
    finally:
        spark.sql("DROP TABLE IF EXISTS b_orders")
        spark.sql("DROP TABLE IF EXISTS b_lineitem")


def test_partitioned_write_prunes(spark, tmp_path):
    """Partition-by-key writes let a key predicate skip files entirely
    (PartitionFilters in the scan, no rows read from other keys)."""
    out = str(tmp_path / "by_type")
    from picoprobedataflow_spark.plans.common import events_us

    ev = events_us(spark, "/root/testdata/sf0.001")
    ev.write.partitionBy("event_type").parquet(out)
    scan = spark.read.parquet(out).filter(F.col("event_type") == "click")
    plan = scan._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "event_type" in plan
    assert scan.count() == ev.filter(F.col("event_type") == "click").count()
    clicked_dirs = [d for d in os.listdir(out) if d.startswith("event_type=")]
    assert "event_type=click" in clicked_dirs


# ---------------------------------------------------------------------------
# Property-based invariants (hypothesis)
# ---------------------------------------------------------------------------

_finite = st.floats(min_value=-1e6, max_value=1e6,
                    allow_nan=False, allow_infinity=False)


@settings(max_examples=10, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(vals=st.lists(_finite, min_size=2, max_size=30))
def test_normalize_bounds_property(spark, vals):
    """Normalized pixels always land in [0, 255], min→0 and max→255
    whenever the frame has spread (temporal.py:25-34 invariant)."""
    from picoprobedataflow_spark.functions.scalar import normalize_to_uint8

    df = spark.createDataFrame([(0, i, v) for i, v in enumerate(vals)],
                               "t int, i int, v double")
    bounds = df.groupBy("t").agg(F.min("v").alias("lo"), F.max("v").alias("hi"))
    px = (df.join(bounds, "t")
            .filter(F.col("hi") > F.col("lo"))
            .select(normalize_to_uint8(F.col("v"), F.col("lo"),
                                       F.col("hi")).alias("px")))
    rows = [r.px for r in px.collect()]
    if rows:
        assert min(rows) == 0 and max(rows) == 255
        assert all(0 <= p <= 255 for p in rows)


@settings(max_examples=10, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(texts=st.lists(
    st.text(alphabet="abcd ", min_size=1, max_size=40), min_size=1,
    max_size=12))
def test_exact_dedup_partition_property(spark, texts):
    """Dedup groups partition the corpus: Σ n_docs = N, canonical ids
    are members, duplicates map to a smaller id."""
    from picoprobedataflow_spark.operators.dedup import (
        exact_dedup_groups,
        exact_dup_mapping,
    )

    docs = spark.createDataFrame(list(enumerate(texts)),
                                 "doc_id long, text string")
    groups = exact_dedup_groups(docs).collect()
    assert sum(g.n_docs for g in groups) == len(texts)
    assert len(groups) == len(set(texts))
    for m in exact_dup_mapping(docs).collect():
        assert m.canonical_id < m.doc_id
        assert texts[m.canonical_id] == texts[m.doc_id]


@settings(max_examples=8, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(spans=st.lists(
    st.tuples(st.integers(0, 1000), st.integers(0, 1000)),
    min_size=1, max_size=8))
def test_overhead_nonnegative_property(spark, spans):
    """overhead = total − Σ active ≥ 0 when steps nest inside the run
    (performance.ipynb cell 4 invariant): build nested intervals and
    check the FlowAnalyzer algebra."""
    from picoprobedataflow_spark.flows.analyzer import FlowAnalyzer

    rows, t = [], 0.0
    for i, (d1, gap) in enumerate(spans):
        start = t + gap / 10.0
        end = start + d1 / 10.0
        rows += [("r", 2 * i, "ActionStarted", f"s{i}", start),
                 ("r", 2 * i + 1, "ActionCompleted", f"s{i}", end)]
        t = end
    ev = spark.createDataFrame(rows, "run_id string, entry_index int, "
                                     "code string, state_name string, "
                                     "time double")
    runs = spark.createDataFrame(
        [("r", "SUCCEEDED", rows[0][4] - 1.0, t + 1.0)],
        "run_id string, status string, start_time double, "
        "completion_time double")
    fa = FlowAnalyzer(runs, ev)
    ov = fa.overhead().collect()[0]
    assert ov.overhead >= -1e-9
    assert abs(ov.flow_runtime - (ov.active_time + ov.overhead)) < 1e-9


def test_subqueries_decorrelate_no_nested_loop(spark):
    """EXISTS/NOT EXISTS/IN/correlated-scalar subqueries must compile
    to semi/anti/hash joins (Catalyst decorrelation) — a nested-loop
    or per-row subquery re-execution would be quadratic at scale."""
    from picoprobedataflow_spark.plans import subqueries as SQ

    sf = "/root/testdata/sf0.001"
    plans = {
        "membership": SQ.semi_anti_membership(spark, sf),
        "scalar": SQ.q17_small_quantity_revenue(spark, sf),
        "in_having": SQ.q18_large_volume_orders(spark, sf),
        "double_corr": SQ.q21_last_shipper_per_order(spark, sf),
        "scalar_anti": SQ.q22_rich_dormant_customers(spark, sf),
    }
    texts = {k: df._jdf.queryExecution().executedPlan().toString()
             for k, df in plans.items()}
    # the membership suite carries EXISTS (semi) and NOT EXISTS (anti)
    # branches through both the SQL and DataFrame APIs
    assert "LeftSemi" in texts["membership"]
    assert "LeftAnti" in texts["membership"]
    assert "LeftSemi" in texts["in_having"]
    # Q21: both subqueries in one query, inequality riding the equi key
    assert "LeftSemi" in texts["double_corr"]
    assert "LeftAnti" in texts["double_corr"]
    assert "LeftAnti" in texts["scalar_anti"]
    for k, t in texts.items():
        assert "NestedLoop" not in t, f"{k} fell back to a nested loop"


def test_headline_plans_have_scale_shapes(spark):
    """Lock in the physical-plan properties SCALE.md claims: predicate
    pushdown into the parquet scan, broadcast joins for dims, and
    per-partition top-k (TakeOrderedAndProject) for ordered limits."""
    from picoprobedataflow_spark.plans import catalog

    sf = "/root/testdata/sf0.001"
    specs = catalog.specs()

    def plan(name):
        return (specs[name].fn(spark, sf)
                ._jdf.queryExecution().executedPlan().toString())

    q1 = plan("q1_pricing_summary")
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate" in q1
    # column pruning: the 11-col table reads only what Q1 needs
    assert "l_orderkey" not in q1.split("ReadSchema")[1][:400]

    q5 = plan("q5_region_nation_revenue")
    assert q5.count("BroadcastHashJoin") >= 4
    assert "SortMergeJoin" not in q5

    # the recent50 family of event_order_suite is an ordered limit —
    # asserted standalone so the union's window sorts don't mask it
    from picoprobedataflow_spark.plans.common import events_us
    from pyspark.sql import functions as F

    topk_df = (events_us(spark, sf)
               .orderBy(F.desc("ts"), F.desc("event_id")).limit(50))
    topk = topk_df._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in topk
    assert "Sort " not in topk  # no global sort for an ordered limit
    suite = plan("event_order_suite")
    assert "TakeOrderedAndProject" in suite


def test_srp_bucket_partition_pruning_at_write(spark, tmp_path):
    """The ANN scale story made concrete: write embeddings partitioned
    by their SRP bucket, query one bucket, and assert the scan prunes
    to that partition (PartitionFilters on the parquet relation, only
    the matching directory read) — at 100 TB this is the difference
    between touching 1/2^planes of the data and all of it."""
    from picoprobedataflow_spark.operators import similarity as SIM

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    bucketed = emb.withColumn(
        "bucket", SIM.srp_bucket(F.col("embedding"), n_planes=4, dim=64))
    out = str(tmp_path / "emb_by_bucket")
    bucketed.write.partitionBy("bucket").parquet(out)

    back = spark.read.parquet(out).filter(F.col("bucket") == 3)
    plan = back._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [isnotnull(bucket" in plan \
        or "PartitionFilters: [(bucket" in plan, plan
    rows = back.collect()
    assert all(r.bucket == 3 for r in rows)
    # and the same filter on the unpartitioned table returns the same
    # vec_ids — partition layout changes I/O, never results
    want = sorted(r.vec_id for r in bucketed
                  .filter(F.col("bucket") == 3).collect())
    assert sorted(r.vec_id for r in rows) == want


def test_kmeans_cell_partition_pruning_at_write(spark, tmp_path):
    """Same story for the learned IVF quantizer: assign cells with
    k-means, write partitioned by cell, probe one cell — partition
    pruning, identical results to the unpartitioned filter."""
    from picoprobedataflow_spark.operators import similarity as SIM

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    vecs = emb.select(
        F.col("vec_id").alias("_id"),
        F.transform("embedding", lambda x: x.cast("double")).alias("_v")
    ).localCheckpoint(eager=True)
    cents = SIM.kmeans_centroids(emb, n_clusters=4, n_iter=1, vecs=vecs)
    assigned = (SIM.kmeans_assign(vecs, cents, vec_col="_v", id_col="_id")
                .withColumnRenamed("_id", "vec_id"))
    out = str(tmp_path / "emb_by_cell")
    (emb.join(assigned, "vec_id")
        .write.partitionBy("cell").parquet(out))

    back = spark.read.parquet(out).filter(F.col("cell") == 1)
    plan = back._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "cell" in plan.split(
        "PartitionFilters")[1][:80], plan
    assert all(r.cell == 1 for r in back.collect())


def test_window_frames_suite_single_exchange(spark):
    """The three frame specs in window_frames_suite must share one
    l_suppkey Exchange (stack-unpivot formulation) — not re-scan and
    re-shuffle per family."""
    from picoprobedataflow_spark.plans import windows_extra as WX

    plan = (WX.window_frames_suite(spark, "/root/testdata/sf0.001")
            ._jdf.queryExecution().executedPlan().toString())
    n_scan = plan.count("Scan parquet")
    n_exchange = plan.count("Exchange") - plan.count("ReusedExchange")
    assert n_scan == 1, plan
    assert n_exchange == 1, plan


def test_tpch_extra_suite_scale_shapes(spark):
    """The nine-family TPC-H suite keeps its scale posture: at test SF
    every dimension join broadcasts (no sort-merge), the top-20 family
    is a per-partition top-k, and nothing degenerates to a Cartesian
    product — the only nested-loop joins are the two single-row scalar
    broadcasts (q11 threshold, q15 max). Explicit broadcast HINTS are
    reserved for the fixed-size sides (nation/region, filtered part
    subsets, 1-row scalars); customer/supplier scale with SF and must
    reach the planner hint-free, so their broadcasts below are
    autoBroadcastJoinThreshold decisions that flip to shuffle joins at
    production scale instead of forcing an OOM."""
    from pyspark.sql import functions as F

    from picoprobedataflow_spark.plans import catalog

    df = catalog.specs()["tpch_extra_suite"].fn(spark, "/root/testdata/sf0.001")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject(limit=20" in plan
    assert "CartesianProduct" not in plan
    assert plan.count("BroadcastNestedLoopJoin") <= 2
    assert plan.count("BroadcastHashJoin") >= 15
    # No hint on the SF-scaling tables: the analyzed plan's ResolvedHint
    # nodes must all sit over fixed-size sides, never customer/supplier.
    analyzed = df._jdf.queryExecution().analyzed().toString()
    for chunk in analyzed.split("ResolvedHint")[1:]:
        head = chunk[:400]
        assert "c_mktsegment" not in head and "s_address" not in head, head


def test_tfidf_top_terms_scale_shapes(spark):
    """TF-IDF: the idf vocabulary and the corpus-count scalar join as
    broadcasts; the ranking window partitions by doc_id (never a
    whole-frame window)."""
    from picoprobedataflow_spark.plans import catalog

    plan = (PL.tfidf_top_terms(spark, "/root/testdata/sf0.001")
            ._jdf.queryExecution().executedPlan().toString())
    assert plan.count("BroadcastHashJoin") >= 1
    assert "SortMergeJoin" not in plan
    assert "partitionBy=[doc_id" in plan.replace(" ", "") \
        or "Window" in plan


def test_similarity_no_single_partition_window(spark):
    """The similarity module must never rank through a no-partition
    Window (a single-partition sort of the full embeddings corpus —
    the 100 TB trap test_pack_no_single_reducer_window pins for
    packing). The k-means seeding is a distributed top-k
    (TakeOrderedAndProject), and none of the ANN catalog entries may
    carry a partition-less windowspecdefinition."""
    import re

    from picoprobedataflow_spark.operators import similarity as SIM
    from picoprobedataflow_spark.plans import catalog

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    vecs = emb.select(
        F.col("vec_id").alias("_id"),
        F.transform("embedding", lambda x: x.cast("double")).alias("_v"))
    seed_plan = (SIM.kmeans_seed_query(vecs, 4)
                 ._jdf.queryExecution().executedPlan().toString())
    assert "TakeOrderedAndProject" in seed_plan, seed_plan
    assert "Window" not in seed_plan, seed_plan

    specs = catalog.specs()
    sf = "/root/testdata/sf0.001"
    fns = {"ann_cosine_topk": specs["ann_cosine_topk"].fn,
           "ann_srp_matrix_topk": specs["ann_srp_matrix_topk"].fn,
           "ann_ivf_kmeans_topk": specs["ann_ivf_kmeans_topk"].fn,
           "ann_pq_adc_topk": PL.ann_pq_adc_topk,
           "ann_ivfpq_topk": PL.ann_ivfpq_topk,
           "ann_ivfpq_residual_topk": PL.ann_ivfpq_residual_topk,
           "semdedup_embedding_prune": PL.semdedup_embedding_prune}
    for name, fn in fns.items():
        plan = (fn(spark, sf)
                ._jdf.queryExecution().executedPlan().toString())
        for spec in re.findall(r"windowspecdefinition\(([^)]*)\)", plan):
            # a partitioned spec lists partition columns before the
            # first "col ASC/DESC" ordering expression; a global spec
            # starts with the ordering directly
            first = spec.split(",")[0]
            assert " ASC" not in first and " DESC" not in first, (
                f"{name} has a partition-less window: {spec}")


def test_kmeans_assign_mapside_equals_shuffle_and_plans_narrow(spark):
    """Nearest-centroid assignment under the inlined centroid-literal
    expression must (a) produce exactly the shuffle formulation's
    (id, cell) pairs — same sqdist fold, same (distance, cell)
    tie-break — and (b) plan as a narrow projection: no Exchange, no
    join anywhere. At 100 TB this is assignment as a map over the
    scan instead of k rows per vector through a shuffle."""
    from picoprobedataflow_spark.operators import similarity as SIM

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    vecs = emb.select(
        F.col("vec_id").alias("_id"),
        F.transform("embedding", lambda x: x.cast("double")).alias("_v")
    ).localCheckpoint(eager=True)
    cents = SIM.kmeans_centroids(emb, n_clusters=5, n_iter=1, vecs=vecs)

    mapside = SIM.kmeans_assign(vecs, cents, vec_col="_v", id_col="_id")
    shuffled = SIM.kmeans_assign_shuffle(vecs, cents,
                                         vec_col="_v", id_col="_id")
    got = sorted((r._id, r.cell) for r in mapside.collect())
    want = sorted((r._id, r.cell) for r in shuffled.collect())
    assert got == want and len(got) > 0
    assert len({c for _, c in got}) > 1  # non-degenerate clustering

    plan = mapside._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan, plan
    assert "Join" not in plan, plan


def test_kmeans_assign_packed_equals_expr_and_shuffle(spark):
    """The packed-broadcast assignment (centroids as ONE broadcast
    data row, argmin via transform/array_min) must agree row-for-row
    with BOTH the literal-expression and the crossJoin/min_by
    formulations at a k past EXPR_ASSIGN_MAX_K — same sqdist fold,
    same (distance, cell) tie-break — and its plan must be
    shuffle-free: the only join is the 1-row broadcast nested loop,
    never an Exchange of the corpus. This is the formulation auto-k
    SemDeDup rides once cell count grows with the corpus."""
    from picoprobedataflow_spark.operators import similarity as SIM

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    vecs = emb.select(
        F.col("vec_id").alias("_id"),
        F.transform("embedding", lambda x: x.cast("double")).alias("_v")
    ).localCheckpoint(eager=True)
    k = SIM.EXPR_ASSIGN_MAX_K + 9
    cents = SIM.kmeans_centroids(emb, n_clusters=k, n_iter=1, vecs=vecs)
    cent_rows = sorted((r.cell, list(r.centroid))
                       for r in cents.collect())

    packed = SIM.with_cell_packed(vecs, cents, vec_col="_v")
    expr = vecs.withColumn("cell",
                           SIM.kmeans_assign_expr(cent_rows, "_v"))
    shuffled = SIM.kmeans_assign_shuffle(vecs, cents,
                                         vec_col="_v", id_col="_id")
    got = sorted((r._id, r.cell) for r in packed.collect())
    assert got == sorted((r._id, r.cell) for r in expr.collect())
    assert got == sorted((r._id, r.cell) for r in shuffled.collect())
    assert len({c for _, c in got}) > 2

    plan = packed._jdf.queryExecution().executedPlan().toString()
    assert "Exchange hashpartitioning" not in plan, plan
    assert "BroadcastNestedLoopJoin" in plan, plan


def test_kmeans_assign_arrow_equals_packed(spark):
    """The Arrow/NumPy assignment kernel (round 17) must agree
    row-for-row with the packed HOF broadcast at a k past the
    cutover, INCLUDING the degenerate-row rules the HOF fold
    implies: NULL vector / NULL element / wrong length all yield an
    all-NULL distance column whose struct ordering resolves to the
    smallest cell, and NaN components order greater than every
    finite distance. The auto dispatch must pick the kernel at
    k >= ARROW_ASSIGN_MIN_K and the packed form below it."""
    from picoprobedataflow_spark.operators import similarity as SIM

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    vecs = emb.select(
        F.col("vec_id").alias("_id"),
        F.transform("embedding", lambda x: x.cast("double")).alias("_v"))
    dim = len(vecs.select("_v").head()[0])
    hostile = spark.createDataFrame(
        [(100001, None),                       # NULL vector
         (100002, [1.0] * (dim - 1)),         # short vector
         (100003, [1.0] * (dim + 1)),         # long vector
         (100004, [None] + [1.0] * (dim - 1)),  # NULL element
         (100005, [float("nan")] * dim)],     # all-NaN vector
        f"_id long, _v array<double>")
    vecs = vecs.unionByName(hostile).localCheckpoint(eager=True)
    k = max(SIM.ARROW_ASSIGN_MIN_K, SIM.EXPR_ASSIGN_MAX_K + 1) + 3
    cents = SIM.kmeans_centroids(
        emb, n_clusters=k, n_iter=1,
        vecs=vecs.filter(F.col("_id") < 100000))
    cent_rows = sorted((r.cell, list(r.centroid))
                       for r in cents.collect())

    arrow = SIM.with_cell_arrow_rows(vecs, cent_rows, vec_col="_v")
    packed = SIM.with_cell_packed_rows(vecs, cent_rows, vec_col="_v")
    got = sorted((r._id, r.cell) for r in arrow.collect())
    want = sorted((r._id, r.cell) for r in packed.collect())
    assert got == want
    assert len({c for _, c in got}) > 2
    # A batch holding ONLY a (dim-1)-row and a (dim+1)-row sums to
    # exactly 2*dim flattened elements — a total-length-only fast-path
    # guard would misreshape it; the per-row length check must route
    # it to the slow path (both rows resolve to the smallest cell).
    tricky = spark.createDataFrame(
        [(1, [1.0] * (dim - 1)), (2, [1.0] * (dim + 1))],
        "_id long, _v array<double>").coalesce(1)
    got_tricky = sorted(
        (r._id, r.cell) for r in
        SIM.with_cell_arrow_rows(tricky, cent_rows,
                                 vec_col="_v").collect())
    want_tricky = sorted(
        (r._id, r.cell) for r in
        SIM.with_cell_packed_rows(tricky, cent_rows,
                                  vec_col="_v").collect())
    assert got_tricky == want_tricky
    # the auto dispatch picks the kernel exactly at the cutover
    auto_hi = SIM.with_cell_rows_auto(vecs, cent_rows, vec_col="_v")
    assert "MapInArrow" in (auto_hi._jdf.queryExecution()
                            .executedPlan().toString())
    auto_lo = SIM.with_cell_rows_auto(
        vecs, cent_rows[:SIM.ARROW_ASSIGN_MIN_K - 1], vec_col="_v")
    assert "MapInArrow" not in (auto_lo._jdf.queryExecution()
                                .executedPlan().toString())


def test_semdedup_auto_k_rule():
    """auto-k pins expected cell population: k = max(8, ceil(N/pop)).
    At the driver's correctness SF (N=499) auto-k lands exactly on
    the historical fixed default (8), so the oracle-gated result is
    the same query; past that it grows linearly with the corpus."""
    from picoprobedataflow_spark.operators.similarity import (
        SEMDEDUP_TARGET_CELL_POP, semdedup_auto_k)

    assert SEMDEDUP_TARGET_CELL_POP == 64
    assert semdedup_auto_k(1) == 8
    assert semdedup_auto_k(499) == 8        # sf0.001 / sf0.01 corpus
    assert semdedup_auto_k(512) == 8
    assert semdedup_auto_k(513) == 9
    assert semdedup_auto_k(1999) == 32      # sf0.1 corpus
    assert semdedup_auto_k(10**9) == 15_625_000
    assert semdedup_auto_k(1999, target_cell_pop=128) == 16


def test_connected_components_converges_on_long_chain(spark):
    """A chain graph longer than max_iter one-hop rounds must still
    reach the true fixpoint (everything labeled with the chain's min
    id): the pointer-jumping shortcut doubles label reach per round,
    so rounds are O(log diameter). Without it, a 70-edge chain under
    max_iter=25 exits early with a WRONG partial labeling — exactly
    the silent divergence observed on a 122-node mutual-kNN
    component at sf0.1."""
    from picoprobedataflow_spark.operators.dedup import \
        connected_components

    n = 70
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(n)], "doc_a long, doc_b long")
    out = {r.node: r.comp
           for r in connected_components(edges, max_iter=25).collect()}
    assert len(out) == n + 1
    assert set(out.values()) == {0}, sorted(set(out.values()))[:5]


def test_dedup_serving_path_equals_from_scratch(spark):
    """The write-once serving split: simhash/jaccard pair queries
    planned over the persisted signature/shingle parquet must return
    EXACTLY the from-scratch results (same hash, same df cap, same
    thresholds) — the serving keys measure where the cost moved, not
    a different computation. Also pins that the second call reuses
    the session cache (same DataFrame objects) instead of rewriting
    the parquet."""
    from picoprobedataflow_spark.functions import scalar as SC
    from picoprobedataflow_spark.operators import dedup as DD
    from picoprobedataflow_spark.plans import pipeline as PL
    from picoprobedataflow_spark.plans.common import tbl

    sf = "/root/testdata/sf0.001"
    docs = tbl(spark, sf, "documents")

    served = sorted(map(tuple,
                        PL.simhash_served_pairs(spark, sf).collect()))
    scratch = sorted(map(tuple, DD.simhash_dedup(
        docs, max_hamming=6, hash_fn=SC.fast_hash64).collect()))
    assert served == scratch and len(served) > 0

    jserved = sorted(map(tuple,
                         PL.jaccard_served_pairs(spark, sf).collect()))
    jscratch = sorted(map(tuple, DD.jaccard_pairs(
        docs, k=3, threshold=0.5, max_df=50,
        shingle_hash=SC.fast_hash64).collect()))
    assert jserved == jscratch

    t1 = PL._served_dedup_tables(spark, sf)
    t2 = PL._served_dedup_tables(spark, sf)
    assert t1[0] is t2[0] and t1[1] is t2[1]

    # Round 13: containment rides the same persisted shingle table
    # (only the final filter differs from Jaccard) — served ==
    # from-scratch at the production config.
    cserved = sorted(map(tuple,
                         PL.containment_served_pairs(spark, sf)
                         .collect()))
    cscratch = sorted(map(tuple, DD.containment_pairs(
        docs, k=3, threshold=0.9, max_df=50,
        shingle_hash=SC.fast_hash64).collect()))
    assert cserved == cscratch


def test_semdedup_served_equals_cold(spark):
    """SemDeDup verdicts from the cached-centroid serving path must
    equal the cold build exactly (same auto-k, same seeds — the
    cached rows ARE a kmeans_centroids build's rows), and the second
    call must reuse the driver-side centroid cache."""
    from picoprobedataflow_spark import session as S
    from picoprobedataflow_spark.plans import pipeline as PL

    sf = "/root/testdata/sf0.001"
    cold = sorted(map(tuple,
                      PL.semdedup_embedding_prune(spark, sf)
                      .collect()))
    S._SESSION_MEMO.clear()
    served = sorted(map(tuple,
                        PL.semdedup_served_prune(spark, sf)
                        .collect()))
    assert served == cold and len(served) > 0
    key = ("semdedup_centroids", spark.sparkContext.applicationId, sf)
    rows_before = S._SESSION_MEMO[key]
    PL.semdedup_served_prune(spark, sf)
    assert S._SESSION_MEMO[key] is rows_before


def test_runtime_bloom_filter_injects_on_selective_dim_join(spark):
    """Spark's runtime bloom-filter injection — the engine-level semi-
    join pushdown that matters at 100 TB: a selective filter on the
    creation side (orders) plants a bloom_filter_agg subquery whose
    might_contain() prunes fact rows (lineitem) BEFORE the join
    shuffle. At production scale the default size thresholds trigger
    this automatically; at test SF we lower them to prove the plan
    shape, then restore the session confs."""
    from pyspark.sql import functions as F

    confs = {
        "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
        "spark.sql.optimizer.runtime.bloomFilter"
        ".applicationSideScanSizeThreshold": "1KB",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    saved = {}
    for k, v in confs.items():
        saved[k] = spark.conf.get(k, None)
        spark.conf.set(k, v)
    try:
        li = spark.read.parquet("/root/testdata/sf0.01/lineitem.parquet")
        od = (spark.read.parquet("/root/testdata/sf0.01/orders.parquet")
              .filter(F.col("o_orderpriority") == "1-URGENT"))
        j = (li.join(od, li.l_orderkey == od.o_orderkey)
               .groupBy("o_orderpriority").count())
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "might_contain" in plan
        assert "bloom_filter_agg" in plan
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_tpch_gap_suite_scale_shapes(spark):
    """Q2/Q12/Q20 keep their decorrelated shapes: the correlated
    scalar min (q2) and both nested INs (q20) become aggregate-built
    hash joins — no per-row re-execution, no Cartesian product — and
    the only window-free global structure is hash aggregation."""
    from picoprobedataflow_spark.plans import catalog

    from picoprobedataflow_spark.plans.subqueries import tpch_gap_suite
    df = tpch_gap_suite(spark, "/root/testdata/sf0.001")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    # q20's membership INs decorrelate to left-semi hash joins.
    assert "LeftSemi" in plan
    # the correlated scalar subquery is gone from the physical plan:
    # no nested-loop join anywhere (the scalar min became a grouped
    # aggregate joined back on partkey).
    assert "BroadcastNestedLoopJoin" not in plan
    assert "Window" not in plan


def test_round5_entries_prune_scans(spark):
    """Column pruning reaches the parquet scans of the round-5
    families: BM25 and span-dedup read only (doc_id, text) from the
    5-column documents table; SemDeDup and PQ read only
    (vec_id, embedding) from embeddings — the label column never
    enters an unsupervised plan."""
    sf = "/root/testdata/sf0.001"

    def scan_schemas(fn):
        plan = (fn(spark, sf)
                ._jdf.queryExecution().executedPlan().toString())
        return [seg[:400] for seg in plan.split("ReadSchema")[1:]]

    for fn in (PL.bm25_retrieval, PL.span_dedup_stats,
               PL.token_budget_curriculum):
        for schema in scan_schemas(fn):
            assert "lang" not in schema and "source" not in schema, (
                fn.__name__, schema)
    for fn in (PL.semdedup_embedding_prune, PL.ann_pq_adc_topk):
        for schema in scan_schemas(fn):
            assert "label" not in schema, (fn.__name__, schema)


@settings(max_examples=8, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(texts=st.lists(
    st.text(alphabet="ab ", min_size=4, max_size=30), min_size=1,
    max_size=10))
def test_span_dedup_accounting_property(spark, texts):
    """Span-dedup invariants on arbitrary corpora: every span row is
    flagged OR is the first occurrence of its text; per span text,
    exactly one row is unflagged; Σ is_dup = n_rows − n_distinct
    span texts."""
    from picoprobedataflow_spark.operators.dedup import \
        cross_doc_span_dedup

    docs = spark.createDataFrame(list(enumerate(texts)),
                                 "doc_id long, text string")
    rows = cross_doc_span_dedup(docs, span_w=2).collect()
    by_span: dict[str, list] = {}
    for r in rows:
        by_span.setdefault(r.span, []).append(r)
    for span, grp in by_span.items():
        keys = sorted((r.doc_id, r.idx) for r in grp)
        unflagged = [r for r in grp if not r.is_dup]
        assert len(unflagged) == 1
        assert ((unflagged[0].doc_id, unflagged[0].idx)
                == keys[0]
                == (grp[0].first_id, grp[0].first_pos))
    assert sum(r.is_dup for r in rows) == len(rows) - len(by_span)


@settings(max_examples=8, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(n=st.integers(1, 60), epoch=st.integers(0, 3),
       shards=st.integers(1, 9))
def test_epoch_shuffle_bijection_property(spark, n, epoch, shards):
    """Epoch shuffle is a bijection onto dense per-shard positions
    for any corpus size, epoch and shard count; shards stay in
    [0, n_shards)."""
    from picoprobedataflow_spark.io.layout import epoch_shuffle

    docs = spark.createDataFrame([(i,) for i in range(n)],
                                 "doc_id long")
    rows = epoch_shuffle(docs, epoch, shards).collect()
    assert len(rows) == n and len({r.doc_id for r in rows}) == n
    by_shard: dict[int, list[int]] = {}
    for r in rows:
        assert 0 <= r.shard < shards
        by_shard.setdefault(r.shard, []).append(r.pos)
    for poss in by_shard.values():
        assert sorted(poss) == list(range(len(poss)))


@settings(max_examples=8, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(rows=st.lists(st.tuples(st.integers(0, 20),      # qb (dups!)
                               st.integers(1, 50)),      # n_tokens
                     min_size=1, max_size=40),
       budget=st.integers(1, 600))
def test_token_budget_greedy_property(spark, rows, budget):
    """Greedy-prefix property on arbitrary corpora: the kept set is
    exactly the docs that start under budget when walking
    (qb DESC, doc_id ASC), for any duplicate-heavy qb distribution
    and any budget (incl. budgets beyond the corpus)."""
    from picoprobedataflow_spark.operators.packing import \
        select_token_budget

    data = [(i, qb, t) for i, (qb, t) in enumerate(rows)]
    df = spark.createDataFrame(data, "doc_id long, qb long, n_tokens long")
    got = sorted(map(tuple, select_token_budget(
        df, budget, shard_span=5).collect()))
    cum, want = 0, []
    for i, qb, t in sorted(data, key=lambda r: (-r[1], r[0])):
        if cum < budget:
            want.append((i, qb, t, cum))
        cum += t
    assert got == sorted(want)


def test_bpe_train_scale_shapes(spark):
    """BPE training plans as the vocabulary-bounded design: NO window
    anywhere (the argmax is orderBy+limit → TakeOrderedAndProject),
    every per-iteration merge applies through a 1-row broadcast —
    the ONLY join kind in the plan is BroadcastNestedLoopJoin
    (never a Cartesian product, never a shuffle join), and the
    corpus-facing stage is hash aggregation."""
    df = PL.bpe_train_merges(spark, "/root/testdata/sf0.001")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in plan
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan
    assert "ShuffledHashJoin" not in plan
    assert "TakeOrderedAndProject" in plan
    assert "BroadcastNestedLoopJoin" in plan
    assert "HashAggregate" in plan


def test_knn_graph_window_partitions_by_source(spark):
    """The k-NN graph ranking window must partition by the source id
    (per-vector cardinality) — never a partition-less spec — and the
    block self-join must be an equi-join (no Cartesian product)."""
    import re

    df = PL._embedding_knn_graph(spark, "/root/testdata/sf0.001")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    specs = re.findall(r"windowspecdefinition\(([^)]*)\)", plan)
    assert specs
    for spec in specs:
        first = spec.split(",")[0]
        assert " ASC" not in first and " DESC" not in first, spec


def test_new_round5_families_scale_shapes(spark):
    """Plan shapes of the second-continuation families: winnow /
    ppl_bucket / centroid outliers / leakage split.

    - winnow: no Window (all row-local array ops), scan prunes to
      (doc_id, text);
    - ppl_bucket / outliers: no Window, no Sort of the corpus, and
      the outliers scan never reads the label column;
    - leakage split: its cluster-size window partitions by
      canonical_id (corpus cardinality) — never partition-less."""
    import re

    sf = "/root/testdata/sf0.001"

    def plan_of(df):
        return df._jdf.queryExecution().executedPlan().toString()

    from picoprobedataflow_spark.operators import dedup as DD

    p = plan_of(DD.winnow_fingerprints(
        spark.read.parquet(f"{sf}/documents.parquet")))
    assert "Window" not in p
    for schema in p.split("ReadSchema")[1:]:
        assert "lang" not in schema[:400] and "source" not in schema[:400]

    p = plan_of(PL.ppl_bucket_assignments(spark, sf))
    assert "Window" not in p

    p = plan_of(PL._embedding_centroid_outliers(spark, sf))
    assert "Window" not in p and "SortMergeJoin" not in p
    for schema in p.split("ReadSchema")[1:]:
        assert "label" not in schema[:400]

    docs = spark.createDataFrame([(i,) for i in range(20)],
                                 "doc_id long")
    edges = spark.createDataFrame([(0, 1), (2, 3)],
                                  "doc_a long, doc_b long")
    p = plan_of(DD.leakage_safe_split(DD.near_dup_survivors(docs, edges)))
    specs = re.findall(r"windowspecdefinition\(([^)]*)\)", p)
    assert specs
    for spec in specs:
        first = spec.split(",")[0]
        assert " ASC" not in first and " DESC" not in first, spec


def test_exact_integer_second_rounding_halfway_stability(spark):
    """The µs→seconds half-up helpers must make the SAME half-way
    decision both engines make in exact integer arithmetic — the
    round-7 sf0.1 audit caught run_overhead emitting …9298 on Spark
    and …9297 on DuckDB for an overhead of …929750 µs because each
    engine rounded its own double approximation. Pin the crafted
    boundary cases (±…50 µs, half-integer medians, half-way means)
    against exact decimal.Decimal HALF_UP."""
    import decimal

    import duckdb

    from picoprobedataflow_spark.plans import telemetry as T

    def dec4(us):  # exact half-up (away from zero) reference
        return float((decimal.Decimal(us) / decimal.Decimal(1_000_000))
                     .quantize(decimal.Decimal("0.0001"),
                               rounding=decimal.ROUND_HALF_UP))

    cases = [-8394866929750, 929750, 50, -50, 149, 150, 151, 0,
             123456789, 1_000_000_000_050]
    df = spark.createDataFrame([(c,) for c in cases], "us long")
    got = {r.us: r.sec for r in
           df.select("us", T._us_to_sec4(F.col("us")).alias("sec"))
           .collect()}
    for c in cases:
        assert got[c] == dec4(c), (c, got[c], dec4(c))
        # and the oracle twin agrees bit-for-bit
        [(osec,)] = duckdb.sql(
            "SELECT " + T._SEC4_SQL.format(us=str(c))).fetchall()
        assert osec == got[c], (c, osec, got[c])

    # mean: sum=1, n=2 → 0.5 µs → 0.0000005 s... half-way at 4dp
    # needs sum/(100·n) half-integer: sum=150, n=1 → 1.5 → 2 (up).
    [(m,)] = (spark.createDataFrame([(150, 1)], "s long, n long")
              .select(T._mean_us_to_sec4("s", "n").alias("m"))
              .collect())
    assert m == 0.0002
    [(om,)] = duckdb.sql(
        "SELECT " + T._MEAN_SEC4_SQL.format(s="150", n="1")).fetchall()
    assert om == m

    # median: half-integer 2·med — 250.5 µs → 0.0003 (2.505 → 3 up)
    [(md,)] = (spark.range(1)
               .select(T._median_us_to_sec4("250.5").alias("md"))
               .collect())
    assert md == 0.0003
    [(omd,)] = duckdb.sql(
        "SELECT " + T._MEDIAN_SEC4_SQL.format(m="250.5")).fetchall()
    assert omd == md


def test_connected_components_star_long_chain_and_agreement(spark):
    """The star formulation must also reach the true fixpoint on a
    chain longer than its round budget would allow one-hop (star
    rounds contract in O(log² n)), and must agree node-for-node with
    the pointer-jumping label propagation on the same graph."""
    from picoprobedataflow_spark.operators.dedup import (
        connected_components,
        connected_components_star,
    )

    n = 70
    rows = [(i, i + 1) for i in range(n)] + [(200, 201), (300, 300)]
    edges = spark.createDataFrame(rows, "doc_a long, doc_b long")
    star = {r.node: r.comp
            for r in connected_components_star(edges).collect()}
    prop = {r.node: r.comp
            for r in connected_components(edges).collect()}
    assert star == prop
    assert all(star[i] == 0 for i in range(n + 1))
    assert star[200] == 200 and star[201] == 200


def test_ivfpq_rerank_plan_is_broadcast_refine(spark):
    """The refine stage's vector fetch must be a BROADCAST of the
    R-row shortlist into the corpus scan — never a shuffle of the
    corpus (at 100 TB the shortlist lookup is the bounded side, the
    vector store the big side)."""
    from picoprobedataflow_spark.operators import similarity as SIM

    emb = (spark.read
           .parquet("/root/testdata/sf0.001/embeddings.parquet"))
    qv = [float(x) for x in emb.filter("vec_id = 0").first().embedding]
    corpus = emb.filter("vec_id > 0")
    df = SIM.ivfpq_search(corpus, qv, k=5, rerank=20)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan, plan
    refine = plan.split("Join")[0]
    assert "Exchange hashpartitioning" not in refine, plan
    rows = df.collect()
    assert len(rows) == 5
    cosines = [r.cosine for r in rows]
    assert cosines == sorted(cosines, reverse=True)


def test_ivfpq_residual_rerank_matches_raw_refine_topk(spark):
    """The residual search's refine stage: same broadcast-refine
    contract as the raw-PQ path — returns (id, cosine) top-k in
    descending-cosine order, and with a shortlist deep enough to
    cover the corpus it must EQUAL brute-force top-k exactly (refine
    re-scores with exact cosine, so only shortlist membership can
    lose a neighbor)."""
    from picoprobedataflow_spark.operators import similarity as SIM

    emb = (spark.read
           .parquet("/root/testdata/sf0.001/embeddings.parquet"))
    qv = [float(x) for x in emb.filter("vec_id = 0").first().embedding]
    corpus = emb.filter("vec_id > 0").localCheckpoint(eager=True)
    n = corpus.count()
    brute = [(r.vec_id, r.cosine) for r in
             SIM.topk_cosine(corpus, qv, k=10).collect()]
    got = [(r.vec_id, r.cosine) for r in
           SIM.ivfpq_residual_search(corpus, qv, k=10, n_probe=8,
                                     rerank=n).collect()]
    assert got == brute


def test_synthetic_corpora_deterministic_under_repartition(spark):
    """The oracle-replayable synthetic corpora must be pure functions
    of the id column — identical bytes regardless of partitioning
    (the property the SQL replay depends on), with internally
    consistent shape metadata (byte lengths match the declared
    width/height/frames/samples)."""
    from picoprobedataflow_spark.operators import audio as AU
    from picoprobedataflow_spark.operators import multimodal as MM

    ids = spark.range(0, 40).selectExpr("id AS doc_id")
    for build, col in ((MM.synthetic_image_corpus, "image"),
                       (AU.synthetic_audio_corpus, "audio")):
        a = sorted((r.path, bytes(r[col]))
                   for r in build(ids).collect())
        b = sorted((r.path, bytes(r[col]))
                   for r in build(ids.repartition(7)).collect())
        assert a == b and len(a) == 40
    for r in MM.synthetic_image_corpus(ids).collect():
        assert len(bytes(r.image)) == r.width * r.height
    for r in AU.synthetic_audio_corpus(ids).collect():
        assert len(bytes(r.audio)) == 2 * r.n_samples
    for r in MM.synthetic_video_corpus(ids).collect():
        assert len(bytes(r.video)) == r.width * r.height * r.n_frames
        assert 4 <= r.n_frames <= 6


@settings(max_examples=30, deadline=None)
@given(us=st.integers(min_value=-(10 ** 13), max_value=10 ** 13),
       n=st.integers(min_value=1, max_value=10 ** 6))
def test_sec4_helpers_match_decimal_half_up_property(us, n):
    """Property form of the half-way pin: for arbitrary integer µs
    the SQL twins of the exact-rounding helpers agree with
    decimal HALF_UP — no Spark session needed, DuckDB evaluates the
    same expressions the oracle embeds."""
    import decimal

    import duckdb

    from picoprobedataflow_spark.plans import telemetry as T

    def ref(val, scale):
        return float((decimal.Decimal(val) / decimal.Decimal(scale))
                     .quantize(decimal.Decimal("0.0001"),
                               rounding=decimal.ROUND_HALF_UP))

    [(got,)] = duckdb.sql(
        "SELECT " + T._SEC4_SQL.format(us=str(us))).fetchall()
    assert got == ref(us, 1_000_000), (us, got)
    if us >= 0:
        [(gm,)] = duckdb.sql(
            "SELECT " + T._MEAN_SEC4_SQL.format(s=str(us), n=str(n))
        ).fetchall()
        assert gm == ref(us, n * 1_000_000), (us, n, gm)


def test_round12_curation_plan_shapes(spark):
    """Plan-shape pins for the round-12 curation ops: the chunker is
    a pure narrow explode (ZERO Exchange — chunk rows inherit the
    corpus partitioning), the NFC kernel is Arrow-batched with no
    shuffle, and boilerplate removal carries exactly the shuffles
    its aggregate chain needs (span df-aggregate, join-back reusing
    that partitioning, per-doc reassembly, tail join) with the text
    column pruned out of every scan but the tokenizer's."""
    from pyspark.sql import functions as F

    from picoprobedataflow_spark.functions.text import nfc_normalize
    from picoprobedataflow_spark.operators.dedup import \
        remove_frequent_segments
    from picoprobedataflow_spark.operators.packing import \
        chunk_documents

    sf = "/root/testdata/sf0.001"
    docs = spark.read.parquet(f"{sf}/documents.parquet")

    chunks = chunk_documents(docs, window=8, stride=4)
    cplan = chunks._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in cplan, cplan
    # column pruning: only doc_id + text leave the scan
    assert "lang" not in cplan.split("ReadSchema")[1][:300]

    nfc = docs.select("doc_id", nfc_normalize("text").alias("n"))
    nplan = nfc._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in nplan, nplan
    assert "ArrowEvalPython" in nplan and "BatchEvalPython" not in nplan
    # the nfc FAMILY projects the kernel ONCE and derives len_norm
    # from the projected alias (round 13 — structural, no longer
    # resting on Catalyst deduplicating two identical UDF
    # expressions); pin that the plan carries ONE invocation so the
    # Python pass never silently doubles
    from picoprobedataflow_spark.plans.pipeline import \
        nfc_normalized_texts
    fplan = (nfc_normalized_texts(spark, sf)
             ._jdf.queryExecution().executedPlan().toString())
    assert fplan.count("_nfc(") == 1, fplan

    boiler = remove_frequent_segments(docs, span_w=4, min_df=2)
    bplan = boiler._jdf.queryExecution().executedPlan().toString()
    real = bplan.count("Exchange") - bplan.count("ReusedExchange") \
        - bplan.count("BroadcastExchange")
    # span df-agg + join-back + doc reassembly + tail join; AQE may
    # reuse the span partitioning for the join side, never more
    assert real <= 5, bplan
    assert "SortMergeJoin" in bplan or "ShuffledHashJoin" in bplan \
        or "BroadcastHashJoin" in bplan


def test_logreg_gradient_pass_plan_shape(spark):
    """Each logreg GD iteration must be ONE global aggregate: the
    gradient frame's plan carries exactly one real Exchange (the
    1-row final aggregation) and no join — the corpus never
    shuffles, partial sums combine map-side."""
    from pyspark.sql import functions as F

    from picoprobedataflow_spark.operators.mlfit import \
        _gradient_frame

    sf = "/root/testdata/sf0.001"
    docs = spark.read.parquet(f"{sf}/documents.parquet")
    d = docs.select(
        ((F.length("text") - 300) / 100.0).alias("f1"),
        (F.length("text") > 300).cast("double").alias("y"))
    # the OPERATOR's own per-pass frame (review find: the first cut
    # pinned a hand-built replica, which a refactor could outrun)
    g = _gradient_frame(d, [F.lit(1.0), F.col("f1")], F.col("y"),
                        [0.0, 0.25])
    plan = g._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange") - plan.count("ReusedExchange") == 1
    assert "Join" not in plan
    assert "HashAggregate" in plan  # partial+final, map-side combine


def test_nb_predict_plan_broadcasts_llr(spark):
    """NB scoring must join the corpus against the vocab-bounded llr
    table as a BROADCAST hash join (the corpus side never shuffles
    for the lookup) — never a SortMergeJoin."""
    from pyspark.sql import functions as F

    from picoprobedataflow_spark.functions.text import words
    from picoprobedataflow_spark.operators.mlfit import (
        nb_predict, nb_train)

    sf = "/root/testdata/sf0.001"
    docs = spark.read.parquet(f"{sf}/documents.parquet")
    d = docs.select("doc_id", words("text").alias("toks"),
                    (F.length("text") > 300).cast("double").alias("y"))
    m = nb_train(d, "toks", "y")
    plan = (nb_predict(d, m, "toks")._jdf.queryExecution()
            .executedPlan().toString())
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_pmi_plan_rowlocal_pairs_and_broadcast_joins(spark):
    """PMI's pair generation must be row-local (the first join in
    the plan comes AFTER the pair-count aggregate — no doc self-join
    builds the pairs) and the unigram/total joins must broadcast,
    never sort-merge."""
    from picoprobedataflow_spark.functions.text import \
        pmi_cooccurrence

    docs = spark.read.parquet(
        "/root/testdata/sf0.001/documents.parquet")
    plan = (pmi_cooccurrence(docs, window=3, min_count=2)
            ._jdf.queryExecution().executedPlan().toString())
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan
    assert plan.count("BroadcastHashJoin") == 2  # unigram a / b
    assert "BroadcastNestedLoopJoin" in plan     # the two 1-row totals
    # pair explode feeds an aggregate, not a join: the deepest
    # Generate (explode) node has no Join below it
    gen_idx = plan.rindex("Generate")
    assert "Join" not in plan[gen_idx:]


def test_cms_heavy_hitters_topk_is_distributed(spark):
    """The cms family's top-k must be a TakeOrderedAndProject
    (distributed per-partition top-N + merge), never a partition-less
    row_number window — the round-15 form total-ordered the FULL
    per-term estimate table (the entire corpus vocabulary at 100×,
    10⁸-10⁹ rows on a web corpus) through ONE partition, exactly the
    single-partition trap test_similarity_no_single_partition_window
    pins for the ANN entries (VERDICT r15 What's-wrong #1)."""
    import re

    from picoprobedataflow_spark.plans import pipeline as PL

    plan = (PL.cms_heavy_hitters(spark, "/root/testdata/sf0.001")
            ._jdf.queryExecution().executedPlan().toString())
    assert "TakeOrderedAndProject" in plan, plan
    for spec in re.findall(r"windowspecdefinition\(([^)]*)\)", plan):
        first = spec.split(",")[0]
        assert " ASC" not in first and " DESC" not in first, (
            f"cms_heavy_hitters has a partition-less window: {spec}")


def test_graph_family_plans_no_cartesian(spark):
    """The three oracle-gated link-analysis families (pagerank, hits,
    spam — round 16) must plan every 1-row scalar broadcast
    (dangling mass, normalization totals, node counts) as a
    BroadcastNestedLoopJoin over a 1-row side, never a
    CartesianProduct, and must not rank through any partition-less
    window — the per-iteration shape is join + aggregate + scalar
    broadcast, nothing global."""
    import re

    from picoprobedataflow_spark.plans import pipeline as PL

    sf = "/root/testdata/sf0.001"
    for name, fn in (("pagerank", PL.pagerank_scores),
                     ("hits", PL.hits_scores),
                     ("spam", PL.spam_mass_scores)):
        plan = (fn(spark, sf)
                ._jdf.queryExecution().executedPlan().toString())
        assert "CartesianProduct" not in plan, name
        for spec in re.findall(r"windowspecdefinition\(([^)]*)\)",
                               plan):
            first = spec.split(",")[0]
            assert " ASC" not in first and " DESC" not in first, (
                f"{name} has a partition-less window: {spec}")


def test_pagerank_epoch_graph_plan_batch_scale(spark):
    """Round 17 (VERDICT r16 #2), the shuffle ledger pinned in the
    plan: epoch_graph's new-edges derivation must run as two
    BroadcastHashJoins (delta broadcast into a map-side semi against
    prior, then the small-small anti) with NO shuffle of the
    accumulated graph on (src, dst) — no SortMergeJoin, no
    ShuffledHashJoin — and the union must carry NO re-distinct (no
    aggregate keyed on src+dst); the only graph-scale exchange is
    the repartition(src) the iterations need. Values: union ≡ the
    retired distinct form, exactly."""
    from picoprobedataflow_spark.streaming.graph_stream import \
        epoch_graph

    prior = spark.createDataFrame(
        [(i % 7, (i * 3) % 7) for i in range(30)],
        "src long, dst long").distinct().localCheckpoint(eager=True)
    delta = (spark.createDataFrame(
        [(1, 3), (2, 6), (9, 1), (1, 3)], "src long, dst long")
        .distinct().localCheckpoint(eager=True))

    graph, new_edges = epoch_graph(prior, delta, materialize=False)
    ne_plan = (new_edges._jdf.queryExecution().executedPlan()
               .toString())
    assert ne_plan.count("BroadcastHashJoin") == 2, ne_plan
    assert "SortMergeJoin" not in ne_plan, ne_plan
    assert "ShuffledHashJoin" not in ne_plan, ne_plan
    g_plan = graph._jdf.queryExecution().executedPlan().toString()
    assert "SortMergeJoin" not in g_plan
    # the distinct signature would be a HashAggregate keyed on both
    # edge columns; the union must not re-distinct
    import re
    for m in re.findall(r"HashAggregate\(keys=\[([^\]]*)\]", g_plan):
        assert not ("src" in m and "dst" in m), g_plan

    got = {(r.src, r.dst) for r in graph.collect()}
    want = {(r.src, r.dst)
            for r in prior.unionByName(delta).distinct().collect()}
    assert got == want
    new = {(r.src, r.dst) for r in new_edges.collect()}
    assert new == want - {(r.src, r.dst) for r in prior.collect()}


def test_batch_anti_state_plan_and_values(spark):
    """Round 17: the shared batch-∖-state helper must (a) equal the
    naive anti join exactly (incl. duplicate batch rows — anti is a
    filter, never a dedup — and NULL-free keys), and (b) plan as
    two BroadcastHashJoins with ZERO exchanges on the state side —
    the state is scanned map-side, never shuffled (the per-epoch-
    ∝-batch contract every streaming loop claims)."""
    from picoprobedataflow_spark.streaming.dedup_stream import \
        batch_anti_state

    state = (spark.range(0, 1000)
             .select((F.col("id") % 97).alias("k"),
                     (F.col("id") % 7).alias("j"))
             .distinct().localCheckpoint(eager=True))
    batch = spark.createDataFrame(
        [(1, 1), (1, 1), (96, 5), (200, 0), (200, 0), (300, 1)],
        "k long, j long")

    got = sorted(map(tuple,
                     batch_anti_state(batch, state,
                                      ["k", "j"]).collect()))
    want = sorted(map(tuple,
                      batch.join(state, ["k", "j"],
                                 "left_anti").collect()))
    assert got == want
    assert (200, 0) in {t for t in got}          # dup rows survive

    plan = (batch_anti_state(batch, state, ["k", "j"])
            ._jdf.queryExecution().executedPlan().toString())
    assert plan.count("BroadcastHashJoin") == 2, plan
    assert "SortMergeJoin" not in plan, plan
    assert "ShuffledHashJoin" not in plan, plan


def test_incremental_minhash_broadcast_batch_plan_and_values(spark):
    """Round 17: incremental_minhash_dedup(broadcast_batch=True) —
    the streaming loop's setting — must keep values exactly equal to
    the default shuffle formulation AND plan every corpus-side join
    as a broadcast (no SortMergeJoin / ShuffledHashJoin anywhere in
    the candidate or estimate plans: the accumulated band/sig state
    is scanned map-side, never exchanged)."""
    from picoprobedataflow_spark.operators.dedup import (
        band_signatures, incremental_minhash_dedup,
        minhash_signatures)

    base = ["the quick brown fox jumps over the lazy dog today",
            "a completely different document about spark shuffles",
            "rows columns partitions and the shuffle boundary story"]
    corpus = spark.createDataFrame(
        list(enumerate(base * 2)), "doc_id long, text string") \
        .select("doc_id", "text")
    new = spark.createDataFrame(
        [(100, base[0]),
         (101, "the quick brown fox jumps over the lazy dog tonight"),
         (102, "an entirely unrelated new record with fresh words")],
        "doc_id long, text string")
    corpus_sigs = minhash_signatures(corpus).localCheckpoint(True)
    corpus_bands = band_signatures(corpus_sigs).localCheckpoint(True)

    _s, _b, p0 = incremental_minhash_dedup(new, corpus_sigs,
                                           corpus_bands)
    _s, _b, p1 = incremental_minhash_dedup(new, corpus_sigs,
                                           corpus_bands,
                                           broadcast_batch=True)
    a = sorted((r.doc_a, r.doc_b, r.est_jaccard)
               for r in p0.collect())
    b = sorted((r.doc_a, r.doc_b, r.est_jaccard)
               for r in p1.collect())
    assert a == b and a                       # same, and non-empty

    plan = p1._jdf.queryExecution().executedPlan().toString()
    assert "SortMergeJoin" not in plan, plan
    assert "ShuffledHashJoin" not in plan, plan
    assert "BroadcastHashJoin" in plan, plan


def test_incremental_simhash_broadcast_batch_plan_and_values(spark):
    """Round 17: incremental_simhash_pairs(broadcast_batch=True) —
    the image/text hamming loops' setting — values exactly equal to
    the default formulation, and the chunk join plans as a
    BroadcastHashJoin (the accumulated state chunk table streams
    map-side; no SortMergeJoin / ShuffledHashJoin)."""
    from picoprobedataflow_spark.operators.dedup import \
        incremental_simhash_pairs

    state = spark.createDataFrame(
        [(i, (i * 2654435761) % (1 << 32)) for i in range(40)],
        "doc_id long, simhash long").localCheckpoint(True)
    new = spark.createDataFrame(
        [(100, 0), (101, 3), (102, (7 * 2654435761) % (1 << 32))],
        "doc_id long, simhash long").localCheckpoint(True)

    kw = dict(max_hamming=8, n_chunks=4, bits=32)
    p0 = incremental_simhash_pairs(state, new, **kw)
    p1 = incremental_simhash_pairs(state, new, broadcast_batch=True,
                                   **kw)
    a = sorted(map(tuple, p0.collect()))
    b = sorted(map(tuple, p1.collect()))
    assert a == b and a

    plan = p1._jdf.queryExecution().executedPlan().toString()
    assert "SortMergeJoin" not in plan, plan
    assert "ShuffledHashJoin" not in plan, plan
    assert "BroadcastHashJoin" in plan, plan


def test_substr_seen_sigs_broadcast_batch_equals_default(spark):
    """Round 17: remove_duplicate_substrings(broadcast_batch=True) —
    the substring loop's setting — is value-identical to the default
    seen_sigs formulation (restricting the state to the slice's sig
    set before the left join is an identity), and the slice-side
    state join plans broadcast."""
    from picoprobedataflow_spark.operators.dedup import (
        kmr_fingerprint_positions, remove_duplicate_substrings)

    docs = spark.createDataFrame(
        [(1, "w0 w1 w2 w3 w4 w5 w6 w7 w8 w9 wa wb wc wd we wf"),
         (2, "x0 w1 w2 w3 w4 w5 w6 w7 w8 w9 wa wb wc yy zz")],
        "doc_id long, text string")
    seen = (kmr_fingerprint_positions(
        spark.createDataFrame(
            [(0, "w1 w2 w3 w4 w5 w6 w7 w8 w9 wa wb wc wd we")],
            "doc_id long, text string"), 12)
        .select("sig").distinct().localCheckpoint(True))

    a = sorted(map(tuple, remove_duplicate_substrings(
        docs, min_len=12, seen_sigs=seen).collect()))
    out = remove_duplicate_substrings(docs, min_len=12,
                                      seen_sigs=seen,
                                      broadcast_batch=True)
    b = sorted(map(tuple, out.collect()))
    assert a == b
    assert any(r[2] > 0 for r in b)        # something was removed


def test_decontam_transports_agree_in_shared_query(spark):
    """Round-18 regression guard for a Spark exchange-reuse
    wrong-results trigger. When the decontam direct branch and the
    Bloom-transport branch share ONE query (the hosting curation
    suite's exact shape) and BOTH carry the canonically-identical
    repartition(n, doc_id) scan subtree, exchange reuse
    mis-substitutes an exchange feeding the Bloom branch's
    BroadcastNestedLoopJoin probe and the prefilter drops every
    window (n_removed = 0 corpus-wide; correct standalone, correct
    with either branch plain, correct with
    spark.sql.exchange.reuse=false, AQE irrelevant). The shipped
    shape keeps the Bloom branch's load PLAIN; this test unions both
    branches at sf0.1 — the sf0.01 fixture sits under the
    repartition gate's 256 KB floor and cannot see the bug — and
    pins transport invariance inside the shared query."""
    from picoprobedataflow_spark.plans.pipeline import (
        decontam_span_texts, decontam_span_texts_bloom)

    sf = "/root/testdata/sf0.1"
    u = (decontam_span_texts(spark, sf)
         .withColumn("fam", F.lit("direct"))
         .unionByName(decontam_span_texts_bloom(spark, sf)
                      .withColumn("fam", F.lit("bloom"))))
    rows = (u.groupBy("fam")
            .agg(F.sum("n_removed").alias("rm"),
                 F.sum("n_kept").alias("kp"),
                 F.count("*").alias("n"))
            .collect())
    got = {r.fam: (r.rm, r.kp, r.n) for r in rows}
    assert got["direct"] == got["bloom"], got
    # the Bloom branch must actually remove something — the failure
    # mode is exactly "nothing removed anywhere"
    assert got["bloom"][0] > 0, got
