"""Physical-layout tests: data-derived file sizing and z-order
clustering, with the pruning claim MEASURED from parquet footers (per
file min/max bounding boxes), not asserted by fiat."""

from __future__ import annotations

import glob
import os

import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from picoprobedataflow_spark.io.layout import (
    compute_bounds, estimate_row_bytes, write_sized, write_zordered,
    zorder_key)


def _parquet_files(path):
    return sorted(glob.glob(os.path.join(path, "**", "*.parquet"),
                            recursive=True))


def test_estimate_row_bytes_tracks_schema(spark):
    df = spark.range(1000).select(
        F.col("id"),
        F.lpad(F.lit("x"), 100, "x").alias("s"))
    est = estimate_row_bytes(df)
    # 8 (long) + 100 (string) + 4 (len prefix) = 112
    assert 100 <= est <= 130


def test_write_sized_hits_target(spark, tmp_path):
    lineitem = spark.read.parquet("/root/testdata/sf0.01/lineitem.parquet")
    out = str(tmp_path / "sized")
    n_files = write_sized(lineitem, out, target_mb=1)
    files = _parquet_files(out)
    assert len(files) == n_files > 1
    sizes_mb = [os.path.getsize(f) / 2**20 for f in files]
    # uncompressed estimate vs snappy on disk: accept a wide band, but
    # every file must be in the same order of magnitude as the target
    assert all(0.1 <= s <= 3 for s in sizes_mb), sizes_mb


def test_write_sized_partitioned_no_small_file_explosion(spark, tmp_path):
    orders = spark.read.parquet("/root/testdata/sf0.01/orders.parquet")
    out = str(tmp_path / "byprio")
    write_sized(orders, out, target_mb=1,
                partition_by=("o_orderpriority",))
    # pre-shuffling by the partition column keeps it to ~1 file per key
    by_dir: dict[str, int] = {}
    for f in _parquet_files(out):
        by_dir.setdefault(os.path.dirname(f), 0)
        by_dir[os.path.dirname(f)] += 1
    assert len(by_dir) == 5  # 5 priorities
    assert all(n <= 2 for n in by_dir.values()), by_dir


def _file_boxes(path, xcol, ycol):
    """Per-file normalized (x, y) bounding boxes from parquet stats."""
    boxes = []
    for f in _parquet_files(path):
        md = pq.ParquetFile(f).metadata
        idx = {md.row_group(0).column(i).path_in_schema: i
               for i in range(md.num_columns)}
        lo = [float("inf")] * 2
        hi = [float("-inf")] * 2
        for rg in range(md.num_row_groups):
            for j, c in enumerate((xcol, ycol)):
                st = md.row_group(rg).column(idx[c]).statistics
                lo[j] = min(lo[j], st.min)
                hi[j] = max(hi[j], st.max)
        boxes.append((lo, hi))
    return boxes


def test_zorder_prunes_on_every_dimension(spark, tmp_path):
    """The point of z-order: a 1-D range layout prunes files only on
    its sort column — a predicate on any OTHER dimension touches every
    file. The z-ordered layout keeps per-file bounding boxes tight in
    BOTH dims, so both predicates skip files. Measured from real
    parquet footer min/max stats, the same stats Spark's scan uses."""
    n = 40_000
    grid = spark.range(n).select(
        (F.col("id") % 200).cast("long").alias("x"),
        (F.col("id") / 200).cast("long").alias("y"),
        F.col("id").alias("payload"))

    z_out = str(tmp_path / "zorder")
    write_zordered(grid, z_out, zorder_by=("x", "y"), n_files=16)
    x_out = str(tmp_path / "xrange")
    (grid.repartitionByRange(16, "x").sortWithinPartitions("x")
         .write.parquet(x_out))

    def hits(path, lo_p, hi_p, dim):
        h = 0
        for lo, hi in _file_boxes(path, "x", "y"):
            if not (hi[dim] < lo_p or lo[dim] > hi_p):
                h += 1
        return h

    n_z = len(_file_boxes(z_out, "x", "y"))
    n_x = len(_file_boxes(x_out, "x", "y"))
    # predicate on y (the non-sort dim): x-layout reads EVERYTHING,
    # z-layout skips at least half the files
    assert hits(x_out, 50, 99, dim=1) == n_x
    assert hits(z_out, 50, 99, dim=1) <= n_z // 2
    # predicate on x: both layouts prune
    assert hits(x_out, 50, 99, dim=0) <= n_x // 2
    assert hits(z_out, 50, 99, dim=0) <= n_z // 2
    # and per-file coverage of the plane is bounded (quadrant slop
    # from cutting the curve at arbitrary key ranges stays < 4x the
    # ideal 1/16 area)
    areas = [((hi[0] - lo[0]) / 200) * ((hi[1] - lo[1]) / 200)
             for lo, hi in _file_boxes(z_out, "x", "y")]
    assert sum(areas) / len(areas) < 4 / 16, sum(areas) / len(areas)


def test_zorder_measured_bounds_match_fixed(spark):
    """compute_bounds-derived keys (the default path — one scalar
    aggregate, pure row-local key) must equal keys built from
    caller-supplied true min/max, and zorder_key without bounds must
    refuse rather than fall back to a whole-frame window."""
    df = spark.range(5_000).select(
        (F.col("id") % 71).alias("x"),
        ((F.col("id") * 13) % 97).alias("y"))
    measured = compute_bounds(df, ("x", "y"))
    assert measured == {"x": (0.0, 70.0), "y": (0.0, 96.0)}
    got = df.select(zorder_key(("x", "y"), bounds=measured)
                    .alias("z")).collect()
    fix = df.select(zorder_key(("x", "y"),
                               bounds={"x": (0, 70), "y": (0, 96)})
                    .alias("z")).collect()
    assert [r.z for r in got] == [r.z for r in fix]
    with pytest.raises(ValueError, match="bounds"):
        zorder_key(("x", "y"))


def test_zorder_key_single_dim_is_rank_order(spark):
    """Degenerate 1-D z-order must preserve value order (bit
    interleaving of one dim is the identity on buckets)."""
    df = spark.range(256).select(F.col("id").alias("x"))
    out = df.select("x", zorder_key(("x",), bits_per_dim=8,
                                    bounds=compute_bounds(df, ("x",)))
                    .alias("z"))
    rows = out.orderBy("x").collect()
    zs = [r.z for r in rows]
    assert zs == sorted(zs)
    assert zs[0] == 0 and zs[-1] == 255


def test_epoch_shuffle_deterministic_decorrelated_complete(spark):
    """Epoch shuffle: (a) two invocations of the same epoch are
    identical under any input partitioning; (b) every (shard, pos)
    coordinate is unique and dense per shard; (c) different epochs
    produce different orders; (d) concatenating shards in shard
    order reproduces the global md5 order (hash-prefix contiguity)."""
    from picoprobedataflow_spark.io.layout import epoch_shuffle

    docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    a = sorted(map(tuple, epoch_shuffle(docs, 1, 8).collect()))
    b = sorted(map(tuple,
                   epoch_shuffle(docs.repartition(13), 1, 8).collect()))
    assert a == b
    assert len(a) == docs.count()
    by_shard: dict[int, list[int]] = {}
    for _id, shard, pos in a:
        by_shard.setdefault(shard, []).append(pos)
    for shard, poss in by_shard.items():
        assert sorted(poss) == list(range(len(poss))), shard
    c = sorted(map(tuple, epoch_shuffle(docs, 2, 8).collect()))
    assert [r[0] for r in a] == [r[0] for r in c]   # same ids
    order1 = [r[0] for r in sorted(a, key=lambda r: (r[1], r[2]))]
    order2 = [r[0] for r in sorted(c, key=lambda r: (r[1], r[2]))]
    assert order1 != order2                          # epochs decorrelate
    # global-order contiguity: shard-major order == full-hash order
    import hashlib
    want = sorted(order1,
                  key=lambda i: (hashlib.md5(f"ep1:{i}".encode())
                                 .hexdigest(), i))
    assert order1 == want


def test_bucketed_tables_join_without_exchange(spark, tmp_path):
    """The write-once-shuffle-never lever: two tables bucketed on the
    join key with equal bucket counts sort-merge-join with NO
    Exchange on either side (the planner proves co-partitioning from
    the catalog), while the same join over plain parquet shuffles
    both sides. Within-bucket sortBy also removes the read-side Sort
    when each bucket is one file."""
    from picoprobedataflow_spark.io.layout import write_bucketed

    orders = (spark.read
              .parquet("/root/testdata/sf0.001/orders.parquet")
              .select("o_orderkey", "o_custkey", "o_totalprice"))
    li = (spark.read
          .parquet("/root/testdata/sf0.001/lineitem.parquet")
          .select("l_orderkey", "l_quantity"))
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        write_bucketed(orders.coalesce(1), "bkt_orders",
                       ("o_orderkey",), 4,
                       path=str(tmp_path / "bkt_orders"))
        write_bucketed(li.coalesce(1), "bkt_lineitem",
                       ("l_orderkey",), 4,
                       path=str(tmp_path / "bkt_lineitem"))
        bo, bl = spark.table("bkt_orders"), spark.table("bkt_lineitem")
        j = bo.join(bl, bo.o_orderkey == bl.l_orderkey)
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan, plan
        assert "SortMergeJoin" in plan
        # correctness: same result as the plain-parquet join
        plain = orders.join(li, orders.o_orderkey == li.l_orderkey)
        assert j.count() == plain.count()
        pj = plain._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" in pj     # the cost bucketing removes
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        spark.sql("DROP TABLE IF EXISTS bkt_orders")
        spark.sql("DROP TABLE IF EXISTS bkt_lineitem")


def test_partitioned_write_prunes_partitions(spark, tmp_path):
    """Hive-style partitionBy at write time turns a source filter
    into partition PRUNING at read: the scan's PartitionFilters
    carry the predicate and only the matching directory is read —
    at 100 TB this is the difference between scanning one source
    and scanning the lake. Row counts must match the unpartitioned
    filter."""
    import pyspark.sql.functions as F

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    out = str(tmp_path / "by_source")
    docs.write.partitionBy("source").parquet(out)
    part = spark.read.parquet(out).filter(F.col("source") == "src1")
    plan = part._jdf.queryExecution().executedPlan().toString()
    seg = plan.split("PartitionFilters")[1][:200]
    assert "src1" in seg, plan
    assert part.count() == docs.filter(F.col("source") == "src1").count()


def test_ivf_cells_partition_prune_the_probe(spark, tmp_path):
    """The IVF serving layout claim, proven: vectors written
    partitionBy(cell) under the learned quantizer turn the probe's
    cell restriction into partition PRUNING — the scan's
    PartitionFilters carry the cell predicate, and the probed rows
    equal the in-memory assignment's."""
    import pyspark.sql.functions as F

    from picoprobedataflow_spark.operators import similarity as SIM

    emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    cents = SIM.kmeans_centroids(emb, n_clusters=8, n_iter=2)
    cent_rows = sorted((r.cell, list(r.centroid))
                       for r in cents.collect())
    assigned = SIM.assign_cells(emb, cent_rows, "embedding")
    out = str(tmp_path / "ivf_cells")
    assigned.write.partitionBy("cell").parquet(out)
    probe = spark.read.parquet(out).filter(F.col("cell").isin([1, 3]))
    plan = probe._jdf.queryExecution().executedPlan().toString()
    seg = plan.split("PartitionFilters")[1][:200]
    assert "cell" in seg, plan
    want = assigned.filter(F.col("cell").isin([1, 3])).count()
    assert probe.count() == want


def test_scan_fill_repartition_gate_and_opt_in(spark):
    """The unsplittable-scan remedy (round 17): documents/embeddings
    get a deterministic id-hash repartition when the file cannot fill
    the cluster — but only for call sites that opt IN with
    ``scan_repart=True`` (the round-17 session-2 60-key A/B showed
    the exchange pays only on compute-dense consumers; the default is
    off). Tables under the 256 KB floor stay single-task even when
    opted in; relational facts are never repartitioned. Plan-shape
    assertions on the executed plan."""
    from picoprobedataflow_spark.io.tables import load_table

    sf01 = "/root/testdata/sf0.1"

    def n_exchange(df):
        plan = df._jdf.queryExecution().executedPlan().toString()
        return plan.count("Exchange hashpartitioning")

    # sf0.1 documents sits inside the gate window; opted in -> one
    # hash exchange
    assert n_exchange(load_table(spark, sf01, "documents",
                                 scan_repart=True)) == 1
    # default (opt-out) -> plain scan, no exchange
    assert n_exchange(load_table(spark, sf01, "documents")) == 0
    # relational facts are excluded even when a caller asks
    assert n_exchange(load_table(spark, sf01, "lineitem",
                                 scan_repart=True)) == 0
    # tiny fixtures stay single-task (below the 256 KB floor)
    assert n_exchange(
        load_table(spark, "/root/testdata/sf0.001", "documents",
                   scan_repart=True)) == 0
    # the bench's exact-dedup key keeps exactly ONE exchange: the
    # group-by aggregate, nothing upstream of it
    import bench as B
    _, fns = B.__dict__["_uncapped_pipeline_queries"]()
    df = fns["dedup_exact_full"](spark, sf01)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange hashpartitioning") == 1
    # a bench winner keeps the opted-in exchange below its chain
    df = fns["dedup_jaccard_full"](spark, sf01)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Exchange hashpartitioning(doc_id" in plan


def test_parse_byte_size_java_suffixes():
    """The ONE break-even gate (round 18, VERDICT r17 #6) must read
    maxPartitionBytes however Spark accepts it — a suffixed value
    ('128m') previously raised inside the gates' try blocks and
    silently disabled both repartition remedies (ADVICE r17)."""
    from picoprobedataflow_spark.io.tables import parse_byte_size

    assert parse_byte_size("134217728") == 128 * 1024 * 1024
    assert parse_byte_size("128m") == 128 * 1024 * 1024
    assert parse_byte_size("128MB") == 128 * 1024 * 1024
    assert parse_byte_size(" 1g ") == 1 << 30
    assert parse_byte_size("512k") == 512 * 1024
    assert parse_byte_size("2t") == 2 << 40
    assert parse_byte_size(134217728) == 134217728
    assert parse_byte_size("77b") == 77
    for bad in ("", "m", "-1", "1.5g", "128x"):
        with pytest.raises(ValueError):
            parse_byte_size(bad)


def test_repart_gates_survive_suffixed_conf(spark):
    """Both gates share fill_wave_bytes; with the conf set in suffix
    form the scan remedy and the cached-frame re-spread must still
    fire (they were silently disabled before the shared parse)."""
    from picoprobedataflow_spark.io.tables import (fill_wave_bytes,
                                                   load_table)
    from picoprobedataflow_spark.operators.dedup import \
        _spread_small_cached

    old = spark.conf.get("spark.sql.files.maxPartitionBytes")
    try:
        spark.conf.set("spark.sql.files.maxPartitionBytes", "128m")
        cores = spark.sparkContext.defaultParallelism
        assert fill_wave_bytes(spark) == cores * 128 * 1024 * 1024
        df = load_table(spark, "/root/testdata/sf0.1", "documents",
                        scan_repart=True)
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert plan.count("Exchange hashpartitioning") == 1
        small = spark.range(100).select(
            F.col("id").alias("doc_id"))
        plan2 = (_spread_small_cached(small, "doc_id")
                 ._jdf.queryExecution().executedPlan().toString())
        assert "Exchange hashpartitioning(doc_id" in plan2
    finally:
        spark.conf.set("spark.sql.files.maxPartitionBytes", old)
