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


def test_codegen_cache_sized_when_first_codegen_runs_off_session_thread():
    """The cache size holds even when a fresh JVM's first codegen runs on
    a worker thread with no active session (df.rdd, as the pipeline
    operators' partition check calls it from perfbench's warm-up pool):
    150 distinct two-class queries run twice recompile nothing. Without
    the session's early CodeGenerator load the cache got Spark's 100
    entries and the second pass recompiled all 300 classes. Needs its
    own JVM, so it runs in a subprocess."""
    import os
    import subprocess
    import sys

    script = """
import threading
from rust_query_engine_greatest_spark.session import get_spark
spark = get_spark(app_name="codegen-thread", cpus=2)
t = threading.Thread(target=lambda: spark.range(10).selectExpr("id * 2 AS x")
                     .filter("x > 3").rdd.getNumPartitions())
t.start(); t.join()
def run():
    for i in range(150):
        spark.range(5).selectExpr(f"id + {i} AS a", f"id * {i + 1} AS b") \\
            .filter(f"a > {i}").collect()
run()
m = spark.sparkContext._jvm.org.apache.spark.metrics.source.CodegenMetrics
before = m.METRIC_COMPILATION_TIME().getCount()
run()
print("RECOMPILES", m.METRIC_COMPILATION_TIME().getCount() - before)
"""
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    env = dict(os.environ, SPARK_GRAFT_DRIVER_MEM="1g")
    out = subprocess.run([sys.executable, "-c", script], cwd=root, env=env,
                         capture_output=True, text=True, timeout=600)
    line = [ln for ln in out.stdout.splitlines() if ln.startswith("RECOMPILES")]
    assert line, out.stderr[-2000:]
    assert line[0] == "RECOMPILES 0", line
