"""Differential tests: every registered tpch_* query vs the DuckDB oracle
at sf0.001 (the driver re-runs the same pairs at sf0.01)."""

from __future__ import annotations

import pytest

from rust_query_engine_greatest_spark.queries import REGISTRY

TPCH = sorted(n for n in REGISTRY if n.startswith("tpch_"))


@pytest.mark.parametrize("name", TPCH)
def test_tpch_matches_oracle(name, spark, sf_dir, oracle):
    from tests.conftest import assert_frames_match

    q = REGISTRY[name]
    assert q.oracle is not None, f"{name} must have an oracle"
    df = q.build(spark, sf_dir)
    assert_frames_match(df, oracle.sql(q.oracle))


def test_second_tpch_pass_recompiles_almost_nothing(spark, sf_dir):
    """Whole-stage codegen classes of all 22 queries stay cached between
    passes: with Spark's 100-entry default cache the second pass at
    sf0.001 recompiled ~290 of them. Not exactly 0, because AQE may
    re-plan a query differently when its stages finish in another order
    (q2 compiled 4 new classes on one of three second passes)."""
    compiles = spark.sparkContext._jvm.org.apache.spark.metrics.source.CodegenMetrics \
        .METRIC_COMPILATION_TIME()
    for name in TPCH:
        REGISTRY[name].build(spark, sf_dir).collect()
    before = compiles.getCount()
    for name in TPCH:
        REGISTRY[name].build(spark, sf_dir).collect()
    assert compiles.getCount() - before < len(TPCH)
