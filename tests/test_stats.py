"""sources/stats.py — catalog statistics + CBO activation.

The stats layer is the 100 TB join-order story (ANALYZE once at ingest,
CBO reorders from row/NDV estimates at any scale), so pin its contract:
routing through catalog.load_table, statistics actually recorded, CBO
confs on, and clean deactivation.
"""

from __future__ import annotations

import pytest

from rust_query_engine_greatest_spark.sources import catalog, stats


@pytest.fixture()
def stats_active(spark, sf_dir):
    prep = stats.activate(spark, sf_dir, tables=("nation", "region", "supplier"))
    yield prep
    stats.deactivate(sf_dir)


def test_activate_routes_load_table_and_sets_cbo(spark, sf_dir, stats_active):
    tbl = stats.resolve(sf_dir, "nation")
    assert tbl is not None and tbl.startswith("stat_")
    assert spark.conf.get("spark.sql.cbo.enabled") == "true"
    assert spark.conf.get("spark.sql.cbo.joinReorder.enabled") == "true"
    df = catalog.load_table(spark, sf_dir, "nation")
    # routed to the catalog table, same rows as the raw read
    assert tbl in df._jdf.queryExecution().analyzed().toString()
    assert df.count() == spark.read.parquet(f"{sf_dir}/nation.parquet").count()


def test_analyze_records_row_counts(spark, sf_dir, stats_active):
    tbl = stats.resolve(sf_dir, "supplier")
    desc = {r["col_name"]: r["data_type"]
            for r in spark.sql(f"DESCRIBE TABLE EXTENDED {tbl}").collect()}
    st = desc.get("Statistics", "")
    assert "rows" in st, f"no row-count statistics recorded: {st!r}"


def test_activate_is_idempotent_and_deactivate_restores(spark, sf_dir):
    stats.activate(spark, sf_dir, tables=("region",))
    first = stats.resolve(sf_dir, "region")
    # second activation must reuse the analyzed table: spy that no
    # CREATE/ANALYZE SQL runs (behavioral, not a wall-clock bound)
    ran = []
    real_sql = spark.sql
    spark.sql = lambda q, *a, **k: (ran.append(q), real_sql(q, *a, **k))[1]
    try:
        stats.activate(spark, sf_dir, tables=("region",))
    finally:
        del spark.sql  # restore the bound method
    assert stats.resolve(sf_dir, "region") == first
    assert not [q for q in ran
                if "ANALYZE" in q.upper() or "CREATE" in q.upper()], ran
    stats.deactivate(sf_dir)
    assert stats.resolve(sf_dir, "region") is None
    # load_table falls back to the raw parquet read
    df = catalog.load_table(spark, sf_dir, "region")
    assert "stat_" not in df._jdf.queryExecution().analyzed().toString()


def test_unactivated_tables_unrouted(spark, sf_dir, stats_active):
    # events is deliberately excluded (ns->us conversion lives in
    # load_table); it must never route through a catalog table
    assert stats.resolve(sf_dir, "events") is None


def test_bucketed_route_wins_over_stats(spark, sf_dir):
    """ADVICE r7: an explicitly-requested bucketed layout must actually
    be exercised — load_table routes to the bkt_ table even when a
    stat_ table exists for the same (sf_dir, table)."""
    from rust_query_engine_greatest_spark.sources import bucketing

    stats.activate(spark, sf_dir, tables=("orders",))
    bucketing.activate(spark, sf_dir, 4, tables=("orders",))
    try:
        plan = catalog.load_table(spark, sf_dir, "orders") \
            ._jdf.queryExecution().analyzed().toString()
        assert "bkt_" in plan and "stat_" not in plan
        # the bucketed table carries its own ANALYZE stats, so CBO
        # estimates survive the routing override
        bkt = bucketing.resolve(sf_dir, "orders")
        desc = {r["col_name"]: r["data_type"]
                for r in spark.sql(f"DESCRIBE TABLE EXTENDED {bkt}").collect()}
        assert "rows" in desc.get("Statistics", "")
    finally:
        tbl = bucketing.resolve(sf_dir, "orders")
        bucketing.deactivate(sf_dir)
        if tbl:
            spark.sql(f"DROP TABLE IF EXISTS {tbl}")
        stats.deactivate(sf_dir)


def test_bucketing_activate_analyzes_preexisting_table(spark, sf_dir):
    """ADVICE r8: a bucketed table persisted in the warehouse by an
    EARLIER session satisfies tableExists but carries no column stats;
    activate must still ANALYZE it (cheap, idempotent) or a stats+CBO
    session routed to it silently loses estimation."""
    import hashlib
    import os

    from rust_query_engine_greatest_spark.sources import bucketing

    tag = hashlib.md5(os.path.abspath(sf_dir).encode()).hexdigest()[:8]
    tbl = f"bkt_{tag}_orders"
    spark.sql(f"DROP TABLE IF EXISTS {tbl}")
    try:
        # simulate the earlier session: bare bucketed write, no ANALYZE
        bucketing.write_bucketed(
            catalog.load_table(spark, sf_dir, "orders"), tbl,
            ["o_orderkey"], 4, ["o_orderkey"])
        desc = {r["col_name"]: r["data_type"]
                for r in spark.sql(f"DESCRIBE TABLE EXTENDED {tbl}").collect()}
        assert "rows" not in desc.get("Statistics", "")
        bucketing.activate(spark, sf_dir, 4, tables=("orders",))
        desc = {r["col_name"]: r["data_type"]
                for r in spark.sql(f"DESCRIBE TABLE EXTENDED {tbl}").collect()}
        assert "rows" in desc.get("Statistics", ""), \
            "activate over a pre-existing bucketed table must ANALYZE it"
    finally:
        bucketing.deactivate(sf_dir)
        spark.sql(f"DROP TABLE IF EXISTS {tbl}")


def test_scoped_deactivate_keeps_cbo_for_other_dir(spark, sf_dir, tmp_path):
    """ADVICE r8: deactivate(sf_dir, spark=...) must not unset the
    session-wide CBO confs while ANOTHER sf_dir's stat_ routing is
    still active."""
    import shutil

    other = tmp_path / "other_sf"
    other.mkdir()
    shutil.copy(f"{sf_dir}/region.parquet", other / "region.parquet")
    stats.activate(spark, sf_dir, tables=("region",))
    stats.activate(spark, str(other), tables=("region",))
    try:
        stats.deactivate(sf_dir, spark=spark)
        assert stats.resolve(sf_dir, "region") is None
        assert stats.resolve(str(other), "region") is not None
        assert spark.conf.get("spark.sql.cbo.enabled") == "true", \
            "scoped deactivate stripped CBO from the still-active dir"
        stats.deactivate(str(other), spark=spark, drop=True)
        assert spark.conf.get("spark.sql.cbo.enabled") == "false"
    finally:
        stats.deactivate(spark=spark, drop=True)


def test_deactivate_drop_removes_superseded_tables(spark, sf_dir):
    """ADVICE r8: after a raw->compacted re-activation the stale
    raw-path stat_ table is no longer in _STATS; drop=True must still
    remove it from the catalog."""
    from rust_query_engine_greatest_spark.sources import compact

    stats.activate(spark, sf_dir, tables=("nation",))
    raw_tbl = stats.resolve(sf_dir, "nation")
    compact.activate(spark, sf_dir)
    try:
        stats.activate(spark, sf_dir, tables=("nation",))
        new_tbl = stats.resolve(sf_dir, "nation")
        assert new_tbl != raw_tbl
        stats.deactivate(sf_dir, spark=spark, drop=True)
        assert not spark.catalog.tableExists(new_tbl)
        assert not spark.catalog.tableExists(raw_tbl), \
            "superseded raw-path stat_ table left behind by drop=True"
    finally:
        compact.deactivate(sf_dir)
        stats.deactivate(sf_dir, spark=spark, drop=True)


def test_deactivate_with_spark_restores_confs_and_drops(spark, sf_dir):
    stats.activate(spark, sf_dir, tables=("region",))
    tbl = stats.resolve(sf_dir, "region")
    assert spark.conf.get("spark.sql.cbo.enabled") == "true"
    stats.deactivate(sf_dir, spark=spark, drop=True)
    assert spark.conf.get("spark.sql.cbo.enabled") == "false"  # default
    assert not spark.catalog.tableExists(tbl)
    assert stats.resolve(sf_dir, "region") is None


def test_activate_pipeline_documents_embeddings_events(spark, sf_dir):
    """VERDICT r7 #3: the pipeline side gets stats too — documents and
    embeddings always; events only from a compacted (post-conversion)
    copy, and the routed schema keeps the instant timestamp type."""
    from pyspark.sql import types as T

    from rust_query_engine_greatest_spark.sources import compact

    stats.activate_pipeline(spark, sf_dir)
    try:
        assert stats.resolve(sf_dir, "documents") is not None
        assert stats.resolve(sf_dir, "embeddings") is not None
        # no compaction -> raw events may be NTZ/ns: never registered
        assert stats.resolve(sf_dir, "events") is None
        compact.activate(spark, sf_dir)
        stats.activate_pipeline(spark, sf_dir)
        ev = stats.resolve(sf_dir, "events")
        assert ev is not None
        ts_type = catalog.load_table(spark, sf_dir, "events") \
            .schema["ts"].dataType
        assert isinstance(ts_type, T.TimestampType)
    finally:
        compact.deactivate(sf_dir)
        stats.deactivate(sf_dir, spark=spark, drop=True)


def test_stats_tag_tracks_compacted_root(spark, sf_dir):
    """ADVICE r7: compaction activated AFTER a stats pass must not be
    satisfied by the stale stat_ table pointing at the raw path — the
    table tag folds the resolved parquet path."""
    from rust_query_engine_greatest_spark.sources import compact

    stats.activate(spark, sf_dir, tables=("nation",))
    raw_tbl = stats.resolve(sf_dir, "nation")
    compact.activate(spark, sf_dir)
    try:
        stats.activate(spark, sf_dir, tables=("nation",))
        new_tbl = stats.resolve(sf_dir, "nation")
        assert new_tbl != raw_tbl
        loc = [r["data_type"] for r in
               spark.sql(f"DESCRIBE TABLE EXTENDED {new_tbl}").collect()
               if r["col_name"] == "Location"]
        assert loc and "compacted" in loc[0]
    finally:
        compact.deactivate(sf_dir)
        stats.deactivate(sf_dir, spark=spark, drop=True)


def test_ntz_column_stats_matcherror_pin(spark):
    """Pins the upstream Spark 4.1 bug that _statable_columns works
    around (BENCH_NOTES r8): CBO + COLUMN statistics on a TIMESTAMP_NTZ
    column + a filtered JOIN (join planning invokes FilterEstimation;
    a bare filter does not) -> scala.MatchError at OPTIMIZATION time.
    When a future Spark fixes FilterEstimation, the first assertion
    fails -> the removal condition: drop the NTZ exclusion in
    stats._statable_columns and re-A/B the events/pipeline section.
    The second half asserts the WORKAROUND: the same query succeeds
    when ts is left out of the ANALYZE column list."""
    saved = {k: spark.conf.get(k, None) for k in stats.CBO_CONFS}
    for k, v in stats.CBO_CONFS.items():
        spark.conf.set(k, v)
    q = ("SELECT count(*) FROM {t} a JOIN {t} b ON a.v = b.v "
         "WHERE a.ts > TIMESTAMP_NTZ'2024-01-02 00:00:00' AND b.v < 50")
    try:
        for tbl, cols, ok in (("ntz_pin_bug", "ts, v", False),
                              ("ntz_pin_fix", "v", True)):
            spark.sql(f"DROP TABLE IF EXISTS {tbl}")
            spark.sql(f"CREATE TABLE {tbl} (ts TIMESTAMP_NTZ, v BIGINT) "
                      f"USING parquet")
            spark.sql(f"INSERT INTO {tbl} SELECT timestampadd(HOUR, "
                      f"CAST(id AS INT), TIMESTAMP_NTZ'2024-01-01 "
                      f"00:00:00'), id FROM range(100)")
            spark.sql(f"ANALYZE TABLE {tbl} COMPUTE STATISTICS "
                      f"FOR COLUMNS {cols}")
            if ok:
                # ts > Jan 2 00:00 ⇒ v ≥ 25; with v < 50 ⇒ 25 rows
                assert spark.sql(q.format(t=tbl)).collect()[0][0] == 25
            else:
                with pytest.raises(Exception, match="MatchError|INTERNAL_ERROR"):
                    spark.sql(q.format(t=tbl)).collect()
    finally:
        for tbl in ("ntz_pin_bug", "ntz_pin_fix"):
            spark.sql(f"DROP TABLE IF EXISTS {tbl}")
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


# ---- saved statistics: analyze once, restore in later sessions -------------

CBO_ENTRIES = ("tpch_q2", "tpch_q5", "tpch_q7", "tpch_q8", "tpch_q9",
               "tpch_q21")


@pytest.fixture()
def store(spark, tmp_path, monkeypatch):
    """An empty statistics store and no stat_ table in the catalog, so
    the next activate has nothing to skip and nothing to restore."""
    def clean():
        stats.deactivate(spark=spark, drop=True)
        for r in spark.sql("SHOW TABLES LIKE 'stat_*'").collect():
            spark.sql(f"DROP TABLE {r.tableName}")

    clean()
    monkeypatch.setattr(stats, "STATS_DIR", str(tmp_path))
    yield tmp_path
    clean()


def _catalog_stats(spark, sf_dir, tables):
    """Per table: its CatalogStatistics string (size, rows and every
    column's CatalogColumnStat)."""
    return {t: stats._catalog(spark).getTableMetadata(
                stats._ident(spark, stats.resolve(sf_dir, t)))
            .stats().get().toString() for t in tables}


def _spy_sql(spark):
    ran = []
    real_sql = spark.sql
    spark.sql = lambda q, *a, **k: (ran.append(q), real_sql(q, *a, **k))[1]
    return ran


def test_restore_runs_no_job_and_equals_computed(spark, sf_dir, store):
    """First activate ANALYZEs and saves one record per table; after the
    tables are dropped (a new session's empty catalog), activate restores
    them without a single Spark job, to the same CatalogStatistics."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    sc.setJobGroup("stats_store", "analyze, then restore")
    try:
        stats.activate(spark, sf_dir)
        analyzed_jobs = list(tracker.getJobIdsForGroup("stats_store"))
        assert analyzed_jobs, "the first activate ran no ANALYZE job"
        assert len(list(store.glob("*.json"))) == len(stats.TPCH_TABLES)
        computed = _catalog_stats(spark, sf_dir, stats.TPCH_TABLES)
        stats.deactivate(sf_dir, spark=spark, drop=True)
        stats.activate(spark, sf_dir)
        assert list(tracker.getJobIdsForGroup("stats_store")) == analyzed_jobs
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert _catalog_stats(spark, sf_dir, stats.TPCH_TABLES) == computed


def test_restored_stats_give_identical_plans(spark, sf_dir, store):
    """The CBO-sensitive TPC-H entries (join reorder from row counts and
    NDVs) plan the same, node statistics included, on restored
    statistics as on computed ones."""
    import re

    from rust_query_engine_greatest_spark.queries import REGISTRY

    def plans():
        return {n: re.sub(r"(#|plan_id=)\d+", r"\1",
                          REGISTRY[n].build(spark, sf_dir)
                          ._jdf.queryExecution().stringWithStats())
                for n in CBO_ENTRIES}

    stats.activate(spark, sf_dir)
    computed = plans()
    stats.deactivate(sf_dir, spark=spark, drop=True)
    stats.activate(spark, sf_dir)
    restored = plans()
    for n in CBO_ENTRIES:
        assert restored[n] == computed[n], n


def _one_table_dir(sf_dir, tmp_path):
    import shutil

    d = tmp_path / "sf"
    d.mkdir()
    shutil.copy(f"{sf_dir}/region.parquet", d / "region.parquet")
    return d


def test_rewritten_file_falls_back_to_analyze(spark, sf_dir, store, tmp_path):
    """A data file rewritten since the save changes the fingerprint: the
    saved statistics are ignored, ANALYZE runs over the new contents and
    the record is rewritten."""
    import json
    import shutil

    d = _one_table_dir(sf_dir, tmp_path)
    stats.activate(spark, str(d), tables=("region",))
    rec, = store.glob("*.json")
    before = rec.read_text()
    stats.deactivate(str(d), spark=spark, drop=True)
    shutil.copy(f"{sf_dir}/nation.parquet", d / "region.parquet")
    ran = _spy_sql(spark)
    try:
        stats.activate(spark, str(d), tables=("region",))
    finally:
        del spark.sql
    assert [q for q in ran if q.startswith("ANALYZE")], ran
    assert rec.read_text() != before
    # nation's 25 rows, not region's 5, in the catalog and the record
    st = _catalog_stats(spark, str(d), ("region",))["region"]
    assert ",Some(25),Map(" in st, st
    assert json.loads(rec.read_text())["rows"] == 25


def test_corrupt_record_falls_back_to_analyze(spark, sf_dir, store, tmp_path):
    """A truncated record is unreadable: ANALYZE runs and rewrites it."""
    import json

    d = _one_table_dir(sf_dir, tmp_path)
    stats.activate(spark, str(d), tables=("region",))
    rec, = store.glob("*.json")
    good = rec.read_text()
    stats.deactivate(str(d), spark=spark, drop=True)
    rec.write_text(good[:len(good) // 2])
    ran = _spy_sql(spark)
    try:
        stats.activate(spark, str(d), tables=("region",))
    finally:
        del spark.sql
    assert [q for q in ran if q.startswith("ANALYZE")], ran
    assert json.loads(rec.read_text())["rows"] == 5


def test_activate_gives_stats_to_stats_less_table(spark, sf_dir, store):
    """A stat_ table whose CREATE succeeded but whose ANALYZE failed has
    no statistics; a later activate must give it some instead of routing
    load_table to it as it is."""
    import hashlib
    import os

    path = os.path.abspath(f"{sf_dir}/supplier.parquet")
    tbl = f"stat_{hashlib.md5(path.encode()).hexdigest()[:8]}_supplier"
    spark.sql(f"CREATE TABLE {tbl} USING parquet LOCATION '{path}'")
    stats.activate(spark, sf_dir, tables=("supplier",))
    assert stats.resolve(sf_dir, "supplier") == tbl
    desc = {r["col_name"]: r["data_type"]
            for r in spark.sql(f"DESCRIBE TABLE EXTENDED {tbl}").collect()}
    assert "rows" in desc.get("Statistics", ""), desc.get("Statistics")
