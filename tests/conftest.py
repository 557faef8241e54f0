"""Shared fixtures: one SparkSession per test session + a DuckDB oracle
harness mirroring the driver's correctness gate (row count, column
names, order-insensitive value comparison)."""

from __future__ import annotations

import math
import os
import sys
from contextlib import contextmanager

import duckdb
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from picoprobedataflow_spark.session import get_spark  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")
SF_DIR_ORACLE = os.environ.get("SPARK_GRAFT_ORACLE_SF_DIR", "/root/testdata/sf0.01")

TABLES = ("region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings")


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="picoprobedataflow-tests", master="local[4]",
                  extra_conf={"spark.sql.shuffle.partitions": "4"})
    yield s
    s.stop()


def make_duck(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM "
                f"read_parquet('{sf_dir}/{t}.parquet')")
    return con


@contextmanager
def job_group(spark, name):
    """Count the block's Spark jobs; yields a callable returning how
    many it has run so far (read from ``statusTracker``). The jobs run
    under job group ``name``, or under the caller's group when one is
    set, so an outer per-test grouping (``scripts/job_counts.py``)
    still counts them. Job counts do not swing with the machine the
    way wall time does, so they pin a call's fixed cost."""
    sc = spark.sparkContext
    outer = sc.getLocalProperty("spark.jobGroup.id")
    group = outer or name
    if outer is None:
        sc.setJobGroup(name, name)
    tracker = sc.statusTracker()
    before = len(tracker.getJobIdsForGroup(group))
    try:
        yield lambda: len(tracker.getJobIdsForGroup(group)) - before
    finally:
        if outer is None:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)


@pytest.fixture(scope="session")
def duck():
    return make_duck(SF_DIR)


def _norm_cell(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return round(v, 9)
    if isinstance(v, bytes):
        return v.hex()
    return v


def normalize_rows(cols, rows):
    """Sort columns by name, then rows — the driver's order-insensitive
    compare."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = [tuple(_norm_cell(r[i]) for i in order) for r in rows]
    return sorted(cols), sorted(out, key=repr)


def assert_matches_oracle(spark_df, con, sql, check_types: bool = True):
    """Mirror of the driver's check: row count + column names +
    order-insensitive values."""
    s_cols = spark_df.columns
    s_rows = [tuple(r) for r in spark_df.collect()]
    rel = con.sql(sql)
    o_cols = list(rel.columns)
    o_rows = [tuple(r) for r in rel.fetchall()]
    assert sorted(s_cols) == sorted(o_cols), (
        f"column mismatch: spark={sorted(s_cols)} oracle={sorted(o_cols)}")
    assert len(s_rows) == len(o_rows), (
        f"row count mismatch: spark={len(s_rows)} oracle={len(o_rows)}")
    sc, sr = normalize_rows(s_cols, s_rows)
    oc, orows = normalize_rows(o_cols, o_rows)
    for i, (a, b) in enumerate(zip(sr, orows)):
        assert a == b, f"row {i} mismatch:\n  spark : {a}\n  oracle: {b}"
