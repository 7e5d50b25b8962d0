"""Shared fixtures: one SparkSession per test run + the DuckDB oracle
comparison harness (replicates the driver's t2 gate: row count, column
names, order-insensitive value equality)."""

from __future__ import annotations

import contextlib
import math
import os
import sys
import types
import uuid

import duckdb
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from website_traffic_etl_gcp_spark.catalog import TABLES, table_path
from website_traffic_etl_gcp_spark.session import get_spark

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")
SF_DIR_ORACLE = os.environ.get("SPARK_GRAFT_ORACLE_SF_DIR", "/root/testdata/sf0.01")


@pytest.fixture(scope="session")
def spark():
    os.environ.setdefault("SPARK_GRAFT_CPUS", "4")
    os.environ.setdefault("SPARK_GRAFT_SHUFFLE_PARTITIONS", "4")
    s = get_spark("tests")
    yield s


@contextlib.contextmanager
def spark_jobs(spark):
    """Count the Spark jobs launched inside the block. They run under a
    fresh job group, and ``statusTracker()`` lists that group's jobs on
    exit; the yielded namespace's ``n`` holds the count afterwards."""
    sc = spark.sparkContext
    group = f"spark-jobs-{uuid.uuid4().hex}"
    out = types.SimpleNamespace(n=None)
    sc.setJobGroup(group, group)
    try:
        yield out
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        out.n = len(sc.statusTracker().getJobIdsForGroup(group))


@pytest.fixture(scope="session")
def duck():
    con = duckdb.connect()
    yield con
    con.close()


def register_views(con: duckdb.DuckDBPyConnection, sf_dir: str) -> None:
    for t in TABLES:
        con.execute(
            f"CREATE OR REPLACE VIEW {t} AS "
            f"SELECT * FROM read_parquet('{table_path(sf_dir, t)}')"
        )


def _canon(v):
    """Canonicalize a cell for comparison (mirrors a value-hash check:
    exact for ints/strings/decimals, repr-stable for floats)."""
    if v is None:
        return "∅"
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        # floats in outputs are pre-rounded on both sides; guard vs -0.0
        return repr(v + 0.0)
    return str(v)


def assert_frames_match(spark_df, duck_rel, name: str = "query"):
    """Order-insensitive exact comparison of a Spark DataFrame vs a
    DuckDB relation: column names (sorted), row count, multiset of
    canonicalized rows."""
    s_cols = sorted(spark_df.columns)
    d_cols = sorted(duck_rel.columns)
    assert s_cols == d_cols, f"{name}: columns {s_cols} != {d_cols}"

    s_rows = [tuple(_canon(row[c]) for c in s_cols) for row in spark_df.collect()]
    d_df = duck_rel.fetchdf()
    # DuckDB fetchdf gives pandas; convert NaT/NaN → None uniformly
    d_df = d_df.astype(object).where(d_df.notna(), None)
    d_rows = [tuple(_canon(row[c]) for c in d_cols) for _, row in d_df.iterrows()]

    assert len(s_rows) == len(d_rows), (
        f"{name}: row count {len(s_rows)} != {len(d_rows)}"
    )
    s_sorted, d_sorted = sorted(s_rows), sorted(d_rows)
    for i, (a, b) in enumerate(zip(s_sorted, d_sorted)):
        assert a == b, f"{name}: first row mismatch at #{i}:\n spark={a}\n duck ={b}"
