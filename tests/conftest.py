"""Shared fixtures: one SparkSession per test session, a DuckDB oracle
connection with TESTDATA views, and the differential comparator — a
generalization of the reference's Spark-vs-kernel harness
(`/root/reference/tests/greatest_test.py:29-90`) with DuckDB as oracle.
"""

from __future__ import annotations

import math
import os

import duckdb
import pytest

from rust_query_engine_greatest_spark.session import get_spark
from rust_query_engine_greatest_spark.sources.catalog import TABLES

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="pytest")
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


@pytest.fixture(scope="session")
def oracle():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_DIR}/{t}.parquet')"
        )
    yield con
    con.close()


def _norm(v):
    """Normalize a cell for comparison (NaN-aware, Decimal→float,
    timestamp→naive datetime), mirroring greatest_test.py:49-53."""
    import datetime
    import decimal

    if isinstance(v, decimal.Decimal):
        return float(v)
    if isinstance(v, float) and math.isnan(v):
        return "NaN"
    if isinstance(v, datetime.datetime):
        return v.replace(tzinfo=None)
    if isinstance(v, (bytes, bytearray)):
        return bytes(v).hex()
    if isinstance(v, (list, tuple)):
        return tuple(_norm(x) for x in v)
    return v


def assert_frames_match(spark_df, duck_rel, float_tol: float = 0.0, sort: bool = True):
    """Differential check: same row multiset, column-name-aligned.

    float_tol=0 is the default because registered queries use the exact
    decimal discipline (queries/base.py); pass a tolerance only for
    intrinsically order-dependent aggregates (stddev &c).
    """
    scols = [c.lower() for c in spark_df.columns]
    dcols = [c.lower() for c in duck_rel.columns]
    assert sorted(scols) == sorted(dcols), f"columns differ: {scols} vs {dcols}"

    srows = [tuple(_norm(r[c]) for c in spark_df.columns) for r in spark_df.collect()]
    dproj = duck_rel.project(", ".join(f'"{c}"' for c in duck_rel.columns))
    didx = [dcols.index(c) for c in scols]
    drows = [tuple(_norm(row[i]) for i in didx) for row in dproj.fetchall()]

    assert len(srows) == len(drows), f"row count {len(srows)} vs {len(drows)}"
    if sort:
        key = lambda t: tuple((x is None, str(type(x)), str(x)) for x in t)
        srows, drows = sorted(srows, key=key), sorted(drows, key=key)
    for i, (sr, dr) in enumerate(zip(srows, drows)):
        for c, (sv, dv) in zip(scols, zip(sr, dr)):
            if (
                float_tol
                and isinstance(sv, float)
                and isinstance(dv, float)
            ):
                assert sv == pytest.approx(dv, abs=float_tol, rel=float_tol), (
                    f"row {i} col {c}: {sv} != {dv}"
                )
            else:
                assert sv == dv, f"row {i} col {c}: {sv!r} != {dv!r}"
                # 1.0 == 1 in Python, but the driver's value-hash is
                # type-sensitive — catch int-vs-float schema drift here
                assert isinstance(sv, float) == isinstance(dv, float), (
                    f"row {i} col {c}: type drift {type(sv).__name__} vs {type(dv).__name__}"
                )


@pytest.fixture(scope="session")
def check(oracle):
    def _check(spark_df, sql: str, float_tol: float = 0.0):
        assert_frames_match(spark_df, oracle.sql(sql), float_tol=float_tol)

    return _check
