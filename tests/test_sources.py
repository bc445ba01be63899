"""Source/sink round-trips (SURVEY §2.1) in a temp dir + catalog
insert-into path."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from rust_query_engine_greatest_spark.sources import catalog, readers, writers


@pytest.fixture(scope="module")
def nation(spark, sf_dir):
    return catalog.load_table(spark, sf_dir, "nation")


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_csv_roundtrip(spark, nation, tmp_path_factory):
    p = str(tmp_path_factory.mktemp("csv") / "nation")
    writers.write_csv(nation, p, sep="|", compression="gzip")
    back = readers.read_csv(
        spark, p, schema="n_nationkey int, n_name string, n_regionkey int", sep="|"
    )
    assert _rows(back) == _rows(nation)


def test_csv_infer_schema(spark, nation, tmp_path_factory):
    p = str(tmp_path_factory.mktemp("csv_inf") / "nation")
    writers.write_csv(nation, p)
    back = readers.read_csv(spark, p, infer=True)
    assert _rows(back) == _rows(nation)
    assert back.schema["n_nationkey"].dataType.typeName() == "integer"


def test_ndjson_roundtrip(spark, nation, tmp_path_factory):
    p = str(tmp_path_factory.mktemp("json") / "nation")
    writers.write_ndjson(nation, p)
    back = readers.read_ndjson(spark, p, "n_nationkey int, n_name string, n_regionkey int")
    assert _rows(back) == _rows(nation)


def test_parquet_partitioned_write_prunes(spark, nation, tmp_path_factory):
    from rust_query_engine_greatest_spark.plans import plan_string

    p = str(tmp_path_factory.mktemp("pq") / "nation")
    writers.write_parquet(nation, p, partition_by=["n_regionkey"])
    back = spark.read.parquet(p)
    assert back.count() == 25
    # partition pruning: filtering the partition column must shrink
    # PartitionFilters, not data filters
    pruned = back.filter(F.col("n_regionkey") == 2)
    assert pruned.count() == 5
    assert "PartitionFilters" in plan_string(pruned)


def test_arrow_ipc_roundtrip(spark, nation, tmp_path_factory):
    p = str(tmp_path_factory.mktemp("arrow") / "nation")
    n_files = writers.write_arrow_ipc(nation.repartition(3), p)
    assert n_files >= 1
    back = readers.read_arrow_ipc(
        spark, p, "n_nationkey int, n_name string, n_regionkey int"
    )
    assert _rows(back) == _rows(nation)


def test_avro_fallback_roundtrip(spark, nation, tmp_path_factory):
    """Pure-Python Avro container codec: distributed write (deflate,
    per-partition files) -> read_avro (jar absent -> fallback) must be
    lossless, nullable fields included."""
    from pyspark.sql import functions as F

    from rust_query_engine_greatest_spark.sources import avro_fallback

    src = nation.withColumn(
        "maybe", F.when(F.col("n_nationkey") % 2 == 0, F.col("n_name"))
    ).withColumn("frac", (F.col("n_nationkey") / 4.0))
    p = str(tmp_path_factory.mktemp("avro") / "nation")
    n_files = avro_fallback.write_avro_fallback(src.repartition(3), p)
    assert n_files >= 1
    back = readers.read_avro(spark, p).select(*src.columns)
    assert _rows(back) == _rows(src)


def test_avro_fallback_null_codec_and_unsupported(spark, tmp_path_factory):
    """null-codec containers decode too; genuinely unsupported schemas
    (multi-branch non-null unions) raise the documented actionable
    error."""
    import pytest as _pytest

    from rust_query_engine_greatest_spark.sources import avro_fallback as af

    schema = af.avro_schema_of(
        __import__("pyspark.sql.types", fromlist=["StructType"]).StructType.fromJson(
            {"type": "struct", "fields": [
                {"name": "k", "type": "long", "nullable": True, "metadata": {}},
                {"name": "s", "type": "string", "nullable": True, "metadata": {}},
            ]}
        )
    )
    blob = af.encode_container(schema, [(1, "a"), (None, None), (3, "c")], codec="null")
    got_schema, rows = af.decode_container(blob)
    assert rows == [(1, "a"), (None, None), (3, "c")]
    multi_union = {"type": "record", "name": "r",
                   "fields": [{"name": "x", "type": ["int", "string", "null"]}]}
    with _pytest.raises(NotImplementedError, match="spark-avro jar"):
        af._field_decoders(multi_union)


def test_avro_fallback_nested_and_logical_roundtrip(spark, tmp_path_factory):
    """Nested records/arrays/maps + timestamp-micros/date/decimal
    logical types survive a write→read roundtrip bit-exactly, including
    a nullable long above 2^53 (the pandas float64 corruption case the
    Arrow path exists to avoid)."""
    import datetime as dt
    from decimal import Decimal

    from rust_query_engine_greatest_spark.sources import avro_fallback as af

    big = (1 << 53) + 1
    src = spark.createDataFrame(
        [
            (1, big, dt.datetime(2024, 3, 1, 12, 30, 45, 123456),
             dt.date(2024, 2, 29), Decimal("12345.67"),
             {"k": "v", "k2": None}, [1, 2, None], ("inner", 7)),
            (2, None, None, None, None, None, None, None),
        ],
        "id long, big long, ts timestamp, d date, dec decimal(10,2), "
        "m map<string,string>, arr array<int>, s struct<name:string,n:long>",
    )
    p = str(tmp_path_factory.mktemp("avro") / "nested")
    assert af.write_avro_fallback(src.repartition(2), p) >= 1
    back = readers.read_avro(spark, p).select(*src.columns)
    assert back.schema == src.schema
    got = sorted(back.collect(), key=lambda r: r.id)
    exp = sorted(src.collect(), key=lambda r: r.id)
    assert got == exp
    assert got[0].big == big  # exact above 2^53


def test_insert_into_catalog_table(spark, nation):
    spark.sql("DROP TABLE IF EXISTS nation_sink")
    writers.insert_into(spark, nation, "nation_sink")
    writers.insert_into(spark, nation.filter(F.col("n_regionkey") == 0), "nation_sink")
    assert spark.table("nation_sink").count() == 30
    spark.sql("DROP TABLE nation_sink")


def test_memory_table(spark):
    df = readers.from_pylist(spark, [(1, "a"), (2, "b")], "id int, tag string")
    assert _rows(df) == [(1, "a"), (2, "b")]


def test_compacted_layout_preserves_results(spark, sf_dir):
    """sources/compact.py: the scan-layout rewrite (multi-file,
    range-clustered) must be invisible to query results — same rows for
    a representative agg+join query, order-insensitively."""
    from rust_query_engine_greatest_spark.queries import REGISTRY
    from rust_query_engine_greatest_spark.sources import compact

    def rows(name):
        return sorted(map(tuple, REGISTRY[name].build(spark, sf_dir).collect()))

    names = ["tpch_q3", "events_daily_type", "agg_registry"]
    raw = {n: rows(n) for n in names}
    compact.activate(spark, sf_dir)
    try:
        for n in names:
            assert rows(n) == raw[n], n
        # layout really is multi-file for the big table at this sf, or a
        # single file at tiny sf — either way the directory exists
        import os
        root = compact.resolve(sf_dir)
        assert root and os.path.exists(os.path.join(root, "lineitem.parquet", "_SUCCESS"))
    finally:
        compact.deactivate()


def test_compacted_copy_tracks_source_path_and_files(spark, sf_dir, tmp_path, monkeypatch):
    """The compacted copy is keyed by the resolved source dir and its
    files: a second dir with the same name, and a rewritten source file,
    each get their own copy with their own rows (keyed by the dir's name
    alone, both read the first copy's 25 nations)."""
    import os

    import pyarrow.parquet as pq

    from rust_query_engine_greatest_spark.sources import compact

    monkeypatch.setattr(compact, "COMPACT_DIR", str(tmp_path / "compacted"))
    nation = pq.read_table(os.path.join(sf_dir, "nation.parquet"))
    dirs = [tmp_path / "a" / "sf", tmp_path / "b" / "sf"]
    for d, rows in zip(dirs, (25, 5)):
        d.mkdir(parents=True)
        for t in catalog.TABLES:
            if t != "nation":
                os.symlink(os.path.join(sf_dir, f"{t}.parquet"), d / f"{t}.parquet")
        pq.write_table(nation.slice(0, rows), d / "nation.parquet")

    def compacted_rows(d):
        root, _ = compact.compact_tables(spark, str(d), tables=("nation",))
        return root, spark.read.parquet(os.path.join(root, "nation.parquet")).count()

    (root_a, rows_a), (root_b, rows_b) = map(compacted_rows, dirs)
    assert root_a != root_b and (rows_a, rows_b) == (25, 5)
    pq.write_table(nation.slice(0, 7), dirs[0] / "nation.parquet")
    root_a2, rows_a2 = compacted_rows(dirs[0])
    assert root_a2 not in (root_a, root_b) and rows_a2 == 7
    assert compacted_rows(dirs[0]) == (root_a2, 7)  # unchanged files: reused


def test_object_store_conf_and_gating(spark):
    """§2.1 object-store row: conf assembly is pure and the remote read
    path fails with a setup hint (no connector jars in this container)."""
    from rust_query_engine_greatest_spark.sources import object_store as obj

    conf = obj.s3a_conf(access_key="AK", secret_key="SK",
                        endpoint="http://minio:9000", anonymous=False)
    assert conf["spark.hadoop.fs.s3a.access.key"] == "AK"
    assert conf["spark.hadoop.fs.s3a.committer.name"] == "magic"
    anon = obj.s3a_conf(anonymous=True)
    assert "AnonymousAWSCredentialsProvider" in anon["spark.hadoop.fs.s3a.aws.credentials.provider"]
    import pytest as _pytest
    with _pytest.raises(RuntimeError, match="object-store read"):
        obj.read_remote(spark, "s3a://no-such-bucket/table/")


def test_object_store_scan_file_uri(spark, sf_dir):
    """object_store_scan over a file:// URI equals the native parquet
    scan (single object, column pruning honored)."""
    import os

    from rust_query_engine_greatest_spark.sources.object_store import object_store_scan

    url = "file://" + os.path.abspath(os.path.join(sf_dir, "nation.parquet"))
    got = object_store_scan(spark, url)
    want = spark.read.parquet(os.path.join(sf_dir, "nation.parquet"))
    assert got.schema == want.schema
    assert _rows(got) == _rows(want)

    pruned = object_store_scan(spark, url, columns=["n_nationkey", "n_name"])
    assert pruned.columns == ["n_nationkey", "n_name"]
    assert _rows(pruned) == _rows(want.select("n_nationkey", "n_name"))


def test_object_store_scan_directory_multifile(spark, nation, tmp_path_factory):
    """Directory URIs list recursively, skip _SUCCESS/dotfiles, and
    parallelize per object (one task per file)."""
    import os

    from rust_query_engine_greatest_spark.sources.object_store import object_store_scan

    p = str(tmp_path_factory.mktemp("objstore") / "nation")
    nation.repartition(4).write.parquet(p)
    got = object_store_scan(spark, "file://" + os.path.abspath(p))
    assert _rows(got) == _rows(nation)


def test_object_store_scan_csv_and_errors(spark, nation, tmp_path_factory):
    """CSV objects decode via pyarrow csv; missing URIs and unknown
    formats raise clearly."""
    import os

    from rust_query_engine_greatest_spark.sources.object_store import object_store_scan

    d = tmp_path_factory.mktemp("objstore_csv")
    pdf = nation.select("n_nationkey", "n_name").toPandas()
    f = str(d / "nation.csv")
    pdf.to_csv(f, index=False)
    got = object_store_scan(spark, "file://" + os.path.abspath(f), fmt="csv")
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, pdf.itertuples(index=False)))

    with pytest.raises(FileNotFoundError):
        object_store_scan(spark, "file:///no/such/place.parquet")
    with pytest.raises(ValueError, match="unsupported format"):
        object_store_scan(spark, "file://" + os.path.abspath(f), fmt="orc")


def test_bucketed_join_is_shuffle_free(spark, sf_dir):
    """sources/bucketing.py: bucketed-by-key tables join with ZERO
    Exchange operators — the write-time clustering satisfies the join's
    ClusteredDistribution (at 100 TB this is the fact-to-fact join
    strategy; per-query RepartitionExec paid once at ingest)."""
    from rust_query_engine_greatest_spark.plans import count_shuffle_exchanges, plan_string
    from rust_query_engine_greatest_spark.sources import bucketing
    from rust_query_engine_greatest_spark.sources.catalog import load_table

    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_quantity")
    od = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("l_orderkey"), "o_totalprice")
    bucketing.write_bucketed(li, "li_b", ["l_orderkey"], 4, sort_cols=["l_orderkey"])
    bucketing.write_bucketed(od, "od_b", ["l_orderkey"], 4, sort_cols=["l_orderkey"])
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")  # force non-broadcast
        joined = bucketing.bucketed_join(spark, "li_b", "od_b", on=["l_orderkey"])
        assert count_shuffle_exchanges(joined) == 0, plan_string(joined)
        assert "BroadcastExchange" not in plan_string(joined)
        # and it computes the right thing
        n = joined.count()
        expect = li.join(od, "l_orderkey").count()
        assert n == expect
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        spark.sql("DROP TABLE IF EXISTS li_b")
        spark.sql("DROP TABLE IF EXISTS od_b")


def test_dynamic_partition_overwrite(spark, sf_dir, tmp_path_factory):
    """At-scale ingest contract: with partitionOverwriteMode=dynamic,
    INSERT OVERWRITE replaces only the partitions present in the new
    data — the daily-reprocess pattern (static mode would wipe the whole
    table). Reference has no partitioned-write story at all; this is
    Spark-side added surface."""
    from rust_query_engine_greatest_spark.sources.catalog import load_table

    d = str(tmp_path_factory.mktemp("dpo"))
    ev = load_table(spark, sf_dir, "events")
    ev.write.partitionBy("event_type").mode("overwrite").parquet(d)
    before = {r.event_type: r.n for r in
              spark.read.parquet(d).groupBy("event_type").agg(F.count(F.lit(1)).alias("n")).collect()}
    prev = spark.conf.get("spark.sql.sources.partitionOverwriteMode")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try:
        # rewrite ONLY the 'click' partition with a single synthetic row
        one = ev.filter(F.col("event_type") == "click").limit(1)
        one.write.partitionBy("event_type").mode("overwrite").parquet(d)
        after = {r.event_type: r.n for r in
                 spark.read.parquet(d).groupBy("event_type").agg(F.count(F.lit(1)).alias("n")).collect()}
        assert after["click"] == 1                      # replaced
        for k in before:
            if k != "click":
                assert after[k] == before[k], k         # untouched
    finally:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev)


def test_schema_evolution_incompatible_types_rejected(spark, nation, tmp_path_factory):
    """mergeSchema unions compatible schemas but refuses a column whose
    type changed incompatibly across generations (string vs bigint) —
    pinned so evolution never silently coerces."""
    d = str(tmp_path_factory.mktemp("evolve"))
    nation.select("n_nationkey", F.col("n_name").alias("v")).write.parquet(d + "/g0")
    nation.select("n_nationkey", F.col("n_regionkey").alias("v")).write.parquet(d + "/g1")
    with pytest.raises(Exception, match="[Mm]erge|[Ff]ailed"):
        spark.read.option("mergeSchema", True).parquet(d + "/g0", d + "/g1").collect()


def test_prepared_params_typed_binding(spark, nation):
    """Named parameters bind typed values (no string splicing): a
    string argument containing quotes is data, not SQL."""
    nation.createOrReplaceTempView("nation_p")
    out = spark.sql(
        "SELECT count(*) AS n FROM nation_p WHERE n_name = :nm OR n_nationkey < :k",
        args={"nm": "no'such' -- name", "k": 3},
    ).collect()
    assert out[0]["n"] == 3


def test_catalog_introspection_surface(spark, sf_dir):
    """DDL/catalog parity (ddl.slt, describe.slt,
    information_schema.slt): SHOW TABLES lists registered views,
    DESCRIBE returns (col_name, data_type) rows matching the schema,
    and the catalog API exposes the same inventory — the SHOW/DESCRIBE
    surface a datafusion-cli user expects."""
    catalog.register_views(spark, sf_dir)
    shown = {r["tableName"] for r in spark.sql("SHOW TABLES").collect()}
    assert set(catalog.TABLES) <= shown
    desc = spark.sql("DESCRIBE TABLE nation").collect()
    got = {r["col_name"]: r["data_type"] for r in desc if r["col_name"]}
    want = {f.name: f.dataType.simpleString()
            for f in spark.table("nation").schema.fields}
    assert got == want
    api = {t.name for t in spark.catalog.listTables()}
    assert set(catalog.TABLES) <= api
    cols = spark.catalog.listColumns("orders")
    assert {c.name for c in cols} == set(spark.table("orders").columns)


def test_sql_session_variables(spark, sf_dir):
    """SQL session variables (set_variable.slt parity — the reference's
    SET/placeholder surface): DECLARE / SET VARIABLE / reference in a
    query / reset to DEFAULT / DROP, with the variable feeding a real
    predicate."""
    catalog.register_views(spark, sf_dir)
    spark.sql("DECLARE VARIABLE minbal DOUBLE DEFAULT 0.0")
    try:
        spark.sql("SET VARIABLE minbal = 5000.0")
        n_hi = spark.sql(
            "SELECT count(*) AS n FROM customer WHERE c_acctbal > minbal"
        ).collect()[0]["n"]
        want = spark.table("customer").filter(F.col("c_acctbal") > 5000.0).count()
        assert n_hi == want
        spark.sql("SET VARIABLE minbal = DEFAULT")
        assert spark.sql("SELECT minbal AS v").collect()[0]["v"] == 0.0
    finally:
        spark.sql("DROP TEMPORARY VARIABLE minbal")


def test_object_store_scan_hive_partitions(spark, nation, tmp_path_factory):
    """Hive-style k=v directories surface as STRING partition columns —
    partition values live in directory names, not footers; dropping
    them silently would be a wrong-result trap."""
    import os

    from rust_query_engine_greatest_spark.sources.object_store import object_store_scan

    p = str(tmp_path_factory.mktemp("objstore_part") / "nation")
    nation.write.partitionBy("n_regionkey").parquet(p)
    got = object_store_scan(spark, "file://" + os.path.abspath(p))
    assert "n_regionkey" in got.columns
    assert dict(got.schema["n_regionkey"].jsonValue().items())["type"] == "string"
    want = sorted(
        (r["n_nationkey"], str(r["n_regionkey"])) for r in nation.collect()
    )
    assert sorted(map(tuple, got.select("n_nationkey", "n_regionkey").collect())) == want


def test_object_store_scan_mixed_schema_rejected(spark, nation, tmp_path_factory):
    """A file missing columns vs the probed schema fails with a clear
    per-file error, not a mid-job arrow conversion trace."""
    import os

    from rust_query_engine_greatest_spark.sources.object_store import object_store_scan

    d = str(tmp_path_factory.mktemp("objstore_mixed"))
    nation.select("n_nationkey", "n_name").write.parquet(d + "/a.parquet")
    nation.select("n_nationkey").write.parquet(d + "/b.parquet")
    with pytest.raises(Exception, match="lacks columns|mixed-schema"):
        object_store_scan(spark, "file://" + os.path.abspath(d)).collect()


def test_object_store_scan_csv_types_follow_probe(spark, tmp_path_factory):
    """CSV files decode with the driver-probed schema (ConvertOptions):
    a later file whose values would infer narrower still lands as the
    probed type."""
    import os

    from rust_query_engine_greatest_spark.sources.object_store import object_store_scan

    d = tmp_path_factory.mktemp("objstore_drift")
    (d / "a.csv").write_text("k,v\n1,1.5\n")   # probe: v -> double
    (d / "b.csv").write_text("k,v\n2,2\n")     # alone would infer int
    got = object_store_scan(spark, "file://" + os.path.abspath(str(d)), fmt="csv")
    assert dict((f.name, f.dataType.simpleString()) for f in got.schema.fields)["v"] == "double"
    assert sorted(map(tuple, got.collect())) == [(1, 1.5), (2, 2.0)]


def test_object_store_scan_partition_pruning(spark, nation, tmp_path_factory):
    """Equality partition filters prune at LIST time — whole objects
    drop before any read (hive-partition pruning analog)."""
    import os

    from rust_query_engine_greatest_spark.sources.object_store import object_store_scan

    p = str(tmp_path_factory.mktemp("objstore_prune") / "nation")
    nation.write.partitionBy("n_regionkey").parquet(p)
    url = "file://" + os.path.abspath(p)
    got = object_store_scan(spark, url, partitions={"n_regionkey": "2"})
    want = nation.filter(F.col("n_regionkey") == 2).count()
    assert got.count() == want
    assert {r["n_regionkey"] for r in got.select("n_regionkey").distinct().collect()} == {"2"}
    with pytest.raises(ValueError, match="non-partition keys"):
        object_store_scan(spark, url, partitions={"nope": "1"})
    with pytest.raises(FileNotFoundError, match="partition filter"):
        object_store_scan(spark, url, partitions={"n_regionkey": "99"})


def test_read_auto_formats(spark, nation, tmp_path_factory):
    """Url-table / dynamic-file reader (dynamic_file.rs): format from
    extension, hive partition discovery, partitioned-Arrow leaf union."""
    base = tmp_path_factory.mktemp("read_auto")
    # hive-partitioned csv directory: partition col discovered natively
    p_csv = str(base / "csv_part")
    (nation.write.partitionBy("n_regionkey").option("header", True)
           .csv(p_csv))
    back = readers.read_auto(spark, p_csv)
    assert "n_regionkey" in back.columns
    assert back.count() == nation.count()
    # plain ndjson file
    p_json = str(base / "nd")
    nation.coalesce(1).write.json(p_json)
    assert readers.read_auto(spark, p_json).count() == nation.count()
    # partitioned Arrow IPC layout: leaves unioned, partition re-attached
    import os as _os

    p_arrow = str(base / "arrow_part")
    for rk in [r[0] for r in nation.select("n_regionkey").distinct().collect()]:
        writers.write_arrow_ipc(
            nation.filter(F.col("n_regionkey") == rk).drop("n_regionkey"),
            _os.path.join(p_arrow, f"n_regionkey={rk}"),
        )
    back = readers.read_auto(spark, p_arrow)
    assert back.count() == nation.count()
    assert {r[0] for r in back.select("n_regionkey").distinct().collect()} == {
        r[0] for r in nation.select("n_regionkey").distinct().collect()
    }
    # unknown format
    (base / "mystery").mkdir()
    (base / "mystery" / "blob.xyz").write_text("x")
    with pytest.raises(ValueError, match="cannot infer"):
        readers.read_auto(spark, str(base / "mystery"))


def test_bucketed_layout_route_equal_results_fewer_exchanges(spark, sf_dir):
    """Bucketed layout (bucketing.activate): load_table
    routes lineitem/orders to sorted bucketed catalog tables; the
    orderkey join/agg chain then plans with fewer exchanges and
    IDENTICAL results (pinned on q18 — whose big-order aggregate and
    orders join both sit on the bucket key — and q12)."""
    from rust_query_engine_greatest_spark.plans import count_shuffle_exchanges
    from rust_query_engine_greatest_spark.queries import REGISTRY
    from rust_query_engine_greatest_spark.sources import bucketing

    def run(name):
        df = REGISTRY[name].build(spark, sf_dir)
        return count_shuffle_exchanges(df), sorted(tuple(r) for r in df.collect())

    base = {n: run(n) for n in ("tpch_q18", "tpch_q12")}
    secs = bucketing.activate(spark, sf_dir, 4)
    try:
        assert bucketing.resolve(sf_dir, "lineitem") is not None
        for n, (ex0, rows0) in base.items():
            ex1, rows1 = run(n)
            assert rows1 == rows0, f"{n}: bucketed results differ"
            assert ex1 <= ex0, f"{n}: exchanges grew ({ex1} > {ex0})"
        # q18's big-order aggregate sits ON the bucket key: its
        # exchange must vanish outright (q12's orderkey join broadcasts
        # at test SF, so there is no orderkey exchange to remove there)
        assert run("tpch_q18")[0] < base["tpch_q18"][0]
    finally:
        for t in ("lineitem", "orders"):
            tbl = bucketing.resolve(sf_dir, t)
            if tbl:
                spark.sql(f"DROP TABLE IF EXISTS {tbl}")
        bucketing.deactivate(sf_dir)
    assert secs >= 0.0


def _rg_intersecting_files(path, col, lo, hi):
    """(files whose row-group [min,max] for `col` intersects [lo,hi],
    total files) from the parquet footers — the stats Spark's reader
    prunes with."""
    import glob

    import pyarrow.parquet as pq

    hit = total = 0
    for f in glob.glob(f"{path}/part-*.parquet"):
        total += 1
        md = pq.ParquetFile(f).metadata
        idx = md.schema.names.index(col)
        for rg in range(md.num_row_groups):
            st = md.row_group(rg).column(idx).statistics
            if st is None or st.min is None:
                hit += 1
                break
            if st.min <= hi and lo <= st.max:
                hit += 1
                break
    return hit, total


def test_zorder_write_skips_row_groups_on_both_dims(spark, tmp_path):
    """The Morton layout must make footer stats selective on EVERY
    clustered column at once: on a 64×64 grid cut into 16 files, a
    1/8 slice in either dimension intersects only the curve blocks
    that slice crosses (≤ half the files), while the single-column
    sort layout is blind on its non-sort dimension (every file
    intersects)."""
    from pyspark.sql import functions as F

    from rust_query_engine_greatest_spark.sources import clustering

    grid = spark.range(64 * 64).select(
        (F.col("id") % 64).alias("x"), (F.col("id") / 64).cast("long").alias("y")
    )
    zpath, xpath = f"{tmp_path}/z", f"{tmp_path}/xsorted"
    ranges = clustering.write_zordered(grid, ["x", "y"], zpath, partitions=16)
    assert ranges == {"x": (0.0, 63.0), "y": (0.0, 63.0)}
    (grid.repartitionByRange(16, "x").sortWithinPartitions("x")
     .write.parquet(xpath))

    for col in ("x", "y"):
        hit, total = _rg_intersecting_files(zpath, col, 0, 7)
        assert total >= 8, "range partitioner produced too few files"
        assert hit <= total // 2, \
            f"z-layout not selective on {col}: {hit}/{total}"
    hit, total = _rg_intersecting_files(xpath, "x", 0, 7)
    assert hit <= total // 2  # sanity: sort layout prunes its own key
    hit, total = _rg_intersecting_files(xpath, "y", 0, 7)
    assert hit == total  # ...and is blind on the other dimension

    # correctness: the rewrite is a pure re-layout
    got = sorted(tuple(r) for r in spark.read.parquet(zpath).collect())
    want = sorted(tuple(r) for r in grid.collect())
    assert got == want


def test_zorder_write_real_table_roundtrip(spark, sf_dir, tmp_path):
    """events z-ordered by (user_id, ts): unchanged schema + multiset,
    NULL-safe bucketing, timestamp dimension scaled via double cast."""
    from rust_query_engine_greatest_spark.sources import catalog, clustering

    ev = catalog.load_table(spark, sf_dir, "events")
    path = f"{tmp_path}/ev_z"
    clustering.write_zordered(ev, ["user_id", "ts"], path, partitions=8)
    back = spark.read.parquet(path)
    assert back.schema == ev.schema
    assert sorted(map(tuple, back.collect())) == sorted(map(tuple, ev.collect()))


def test_zorder_precomputed_ranges_skip_the_minmax_scan(spark, tmp_path):
    """Passing catalog-style ranges must produce the identical layout
    with no min/max job — and approximate bounds stay correct (values
    outside clamp to edge buckets)."""
    from pyspark.sql import functions as F

    from rust_query_engine_greatest_spark.sources import clustering

    grid = spark.range(256).select(
        (F.col("id") % 16).alias("x"), (F.col("id") / 16).cast("long").alias("y"))
    exact = clustering.write_zordered(
        grid, ["x", "y"], f"{tmp_path}/a", partitions=4)
    given = clustering.write_zordered(
        grid, ["x", "y"], f"{tmp_path}/b", partitions=4, ranges=exact)
    assert given == exact
    # approximate (too-narrow) bounds: rows clamp, multiset unchanged
    clustering.write_zordered(
        grid, ["x", "y"], f"{tmp_path}/c", partitions=4,
        ranges={"x": (2.0, 9.0), "y": (0.0, 8.0)})
    got = sorted(map(tuple, spark.read.parquet(f"{tmp_path}/c").collect()))
    assert got == sorted(map(tuple, grid.collect()))
    import pytest as _pytest

    with _pytest.raises(ValueError, match="ranges missing"):
        clustering.zorder_key(grid, ["x", "y"], ranges={"x": (0.0, 1.0)})
