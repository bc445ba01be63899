"""Catalog statistics + cost-based optimization activation.

Reference parity note: the reference's optimizer picks join order from
its own table statistics (DataFusion `ListingTable` exposes row counts
and the planner's `JoinSelection` uses them); Spark's equivalent is
catalog statistics + CBO (`spark.sql.cbo.*`). Temp views over bare
`spark.read.parquet` carry only file sizes, so Catalyst keeps the
textual join order for SQL and the call order for DataFrames. Register
the same parquet as EXTERNAL catalog tables, `ANALYZE ... FOR ALL
COLUMNS`, and the join-reorder / stats-backed estimation becomes
available to BOTH the SQL text path and the DataFrame registry path.

Measured (official TPC-H q5 text, SF1, isolated best-of-3): 2.90 s with
size-only temp views -> 0.57 s with stats + CBO -- the optimizer finds
the orders-first join order that queries/tpch.py hand-writes, from the
official text, with zero per-query rewrites.

100 TB story: ANALYZE is a one-time metadata pass at ingest (row counts
+ per-column NDV/min/max -- bytes of metadata per table, independent of
data size); every production warehouse maintains it. Equality predicate
selectivity and join cardinality estimates then size broadcast choices
and join order at ANY scale, which is strictly more durable than
hand-ordered joins tuned at one SF.

The pass is literally one-time: Spark's in-memory catalog forgets
statistics when the session ends, so `analyze_or_restore` saves them
next to the table files (`STATS_DIR`, one JSON per table path, in the
`CatalogColumnStat.toMap` strings a Hive metastore persists) and a later
session whose files, Spark version and column list still match
reinstalls them with `alterTableStats` instead of re-running ANALYZE
(on 4 cores a perfbench `query` setup spent 14-16 s of its 40-54 s in
ANALYZE before).
"""

from __future__ import annotations

import hashlib
import json
import os
import tempfile
import time

from pyspark.sql import SparkSession

# (abs sf_dir, table) -> catalog table name, consulted by
# catalog.load_table the same way bucketing._BUCKETED is.
_STATS: dict[tuple[str, str], str] = {}
# stat_ tables superseded by a re-activation (raw -> compacted changes
# the path tag, so the old table falls out of _STATS silently); kept so
# deactivate(drop=True) can still drop their catalog metadata.
_SUPERSEDED: list[str] = []

CBO_CONFS = {
    "spark.sql.cbo.enabled": "true",
    "spark.sql.cbo.joinReorder.enabled": "true",
    "spark.sql.cbo.planStats.enabled": "true",
}

# Saved statistics, one JSON per resolved table path; next to the
# compacted copy (compact._dest_root) in the checkout's warehouse.
STATS_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                         "..", "..", "spark-warehouse", "stats")
_RECORD_KEYS = {"fingerprint", "schema", "size", "rows", "columns"}

TPCH_TABLES = ("region", "nation", "customer", "supplier", "part",
               "orders", "lineitem")


def activate(spark: SparkSession, sf_dir: str,
             tables: tuple[str, ...] = TPCH_TABLES) -> float:
    """Register `{sf_dir}/{t}.parquet` (the compacted copy when one is
    active) as external catalog tables with full column statistics and
    turn on CBO for the session. Idempotent; returns the seconds the
    call took: ANALYZE, or the restore of saved statistics, of each table
    not yet carrying statistics, plus the catalog lookups (a few ms when
    every table already has them).

    The `events` table is deliberately NOT handled here: its raw file
    can carry TIMESTAMP(NANOS) which needs catalog.load_table's ns->us
    conversion, and a catalog table would bypass it.
    """
    from . import compact

    t0 = time.perf_counter()
    for k, v in CBO_CONFS.items():
        spark.conf.set(k, v)
    root = compact.resolve(sf_dir) or sf_dir
    paths = {t: os.path.join(root, f"{t}.parquet") for t in tables}
    for name, path in paths.items():
        key = (os.path.abspath(sf_dir), name)
        # Tag folds the RESOLVED path, not just sf_dir: compaction
        # activated after a first stats pass changes the path, and the
        # stale stat_ table (pointing at the raw root) must not satisfy
        # the idempotency check for the compacted one.
        tag = hashlib.md5(os.path.abspath(path).encode()).hexdigest()[:8]
        tbl = f"stat_{tag}_{name}"
        analyze_or_restore(spark, tbl, path)
        prev = _STATS.get(key)
        if prev is not None and prev != tbl:
            _SUPERSEDED.append(prev)
        _STATS[key] = tbl
    return round(time.perf_counter() - t0, 2)


PIPELINE_TABLES = ("documents", "embeddings", "events")


def activate_pipeline(spark: SparkSession, sf_dir: str) -> float:
    """Stats for the pipeline/events side (VERDICT r7 #3). `documents`
    and `embeddings` register directly (complex/NTZ columns are already
    excluded from the column pass by `_statable_columns`). `events` is
    only registered from a COMPACTED copy — compact.activate writes it
    post-conversion (ts already µs instant), so the catalog table's
    schema matches what catalog.load_table's raw-read branch produces;
    the raw file may be TIMESTAMP(NANOS)/NTZ and would bypass the
    conversion. Returns the seconds `activate` took."""
    from . import compact
    from pyspark.sql import types as T

    tables = ["documents", "embeddings"]
    root = compact.resolve(sf_dir)
    if root is not None:
        ts_type = spark.read.parquet(
            os.path.join(root, "events.parquet")).schema["ts"].dataType
        if isinstance(ts_type, T.TimestampType):
            tables.append("events")
    return activate(spark, sf_dir, tables=tuple(tables))


def analyze_or_restore(spark: SparkSession, tbl: str,
                       path: str | None = None) -> None:
    """Give catalog table `tbl` row-count and column statistics, once.

    Nothing happens while the table already has them (a CREATE that
    succeeded under a failed ANALYZE leaves a table without them, which
    is not enough). Otherwise the statistics saved for its files are
    reinstalled when their fingerprint (Spark version, statable columns,
    every file's name, size and mtime_ns) still matches, and ANALYZE runs
    and rewrites the saved copy when it does not or none is readable.
    With `path`, a missing table is first created over that parquet file
    or directory -- with the saved schema when the files are unchanged,
    so the restore runs no Spark job (not even parquet schema inference);
    without it, the table must exist and its own location is used."""
    exists = spark.catalog.tableExists(tbl)
    if exists and _has_stats(spark, tbl):
        return
    path = os.path.abspath(path or _catalog(spark).getTableMetadata(
        _ident(spark, tbl)).location().getPath())
    fp = {"spark": spark.version, "files": _files(path)}
    saved = _load(path)
    same_files = saved is not None and all(
        saved["fingerprint"].get(k) == v for k, v in fp.items())
    if not exists:
        schema = f"({saved['schema']}) " if same_files else ""
        spark.sql(f"CREATE TABLE {tbl} {schema}USING parquet "
                  f"LOCATION '{path}'")
    fp["columns"] = _statable_columns(spark, tbl)
    if same_files and saved["fingerprint"].get("columns") == fp["columns"]:
        _restore(spark, tbl, saved)
        return
    spark.sql(f"ANALYZE TABLE {tbl} COMPUTE STATISTICS "
              f"FOR COLUMNS {fp['columns']}")
    _save(spark, tbl, path, fp)


def _catalog(spark: SparkSession):
    return spark._jsparkSession.sessionState().catalog()


def _ident(spark: SparkSession, tbl: str):
    return spark._jsparkSession.sessionState().sqlParser() \
        .parseTableIdentifier(tbl)


def _has_stats(spark: SparkSession, tbl: str) -> bool:
    st = _catalog(spark).getTableMetadata(_ident(spark, tbl)).stats()
    return st.isDefined() and st.get().rowCount().isDefined()


def _files(path: str) -> list[list]:
    """[relative name, size, mtime_ns] of every file of a parquet table
    (a single file or a directory tree); any rewrite changes it."""
    if os.path.isfile(path):
        st = os.stat(path)
        return [[os.path.basename(path), st.st_size, st.st_mtime_ns]]
    out = []
    for d, dirs, names in os.walk(path):
        dirs.sort()
        for n in sorted(names):
            st = os.stat(os.path.join(d, n))
            out.append([os.path.relpath(os.path.join(d, n), path),
                        st.st_size, st.st_mtime_ns])
    return out


def _record_path(path: str) -> str:
    return os.path.join(STATS_DIR,
                        hashlib.md5(path.encode()).hexdigest() + ".json")


def _load(path: str) -> dict | None:
    """The saved record for a table path; None if missing or unreadable."""
    try:
        with open(_record_path(path)) as f:
            rec = json.load(f)
    except (OSError, ValueError):
        return None
    ok = (isinstance(rec, dict) and _RECORD_KEYS <= rec.keys()
          and isinstance(rec["fingerprint"], dict))
    return rec if ok else None


def _save(spark: SparkSession, tbl: str, path: str, fp: dict) -> None:
    """Write tbl's CatalogStatistics as JSON: size and row count, and per
    column the `CatalogColumnStat.toMap` strings (the metastore format),
    plus the schema that spares a restoring CREATE its inference job.
    Temp file + os.replace, so a reader never sees a partial record."""
    conv = spark._jvm.scala.jdk.javaapi.CollectionConverters
    st = _catalog(spark).getTableMetadata(_ident(spark, tbl)).stats().get()
    rec = {"path": path, "fingerprint": fp,
           "schema": spark._jsparkSession.table(tbl).schema().toDDL(),
           "size": st.sizeInBytes(), "rows": st.rowCount().get(),
           "columns": {c: dict(conv.asJava(s.toMap(c)))
                       for c, s in conv.asJava(st.colStats()).items()}}
    os.makedirs(STATS_DIR, exist_ok=True)
    fd, tmp = tempfile.mkstemp(dir=STATS_DIR, suffix=".tmp")
    with os.fdopen(fd, "w") as f:
        json.dump(rec, f)
    os.replace(tmp, _record_path(path))


def _restore(spark: SparkSession, tbl: str, rec: dict) -> None:
    """Install saved statistics on tbl through the session catalog.

    py4j hands every java.lang.Number back to Python as an int,
    scala.math.BigInt included, so the BigInt arguments of
    CatalogStatistics(sizeInBytes, rowCount, colStats) never leave the
    JVM: fromMap parses size and rows into the Option[BigInt] fields of
    a carrier column stat, and the companion's curried constructor is
    mapped over the size Option."""
    jvm = spark._jvm
    to_map = jvm.org.apache.spark.api.python.PythonUtils.toScalaMap
    from_map = jvm.org.apache.spark.sql.catalyst.catalog \
        .CatalogColumnStat.fromMap
    cols = jvm.java.util.LinkedHashMap()  # keeps the saved column order
    for c, m in rec["columns"].items():
        cols.put(c, from_map(tbl, c, to_map(m)).get())
    big = from_map(tbl, "n", to_map({
        "n.version": "2", "n.distinctCount": str(rec["size"]),
        "n.nullCount": str(rec["rows"])})).get()
    new = getattr(getattr(jvm, "org.apache.spark.sql.catalyst.catalog."
                               "CatalogStatistics$"), "MODULE$").curried()
    st = big.distinctCount().map(new).get() \
        .apply(big.nullCount()).apply(to_map(cols))
    _catalog(spark).alterTableStats(_ident(spark, tbl), jvm.scala.Some(st))


def _statable_columns(spark: SparkSession, tbl: str) -> str:
    """Column list for ANALYZE, excluding TIMESTAMP_NTZ: Spark 4.1's
    CBO FilterEstimation.evaluateBinary has no case for TimestampNTZType
    and throws scala.MatchError at OPTIMIZATION time for any filter on
    an NTZ column that carries column statistics (driver TESTDATA dates
    are NTZ; dbgen parquet uses DATE, which is why SF1 never hit it).
    Row-count/size stats still cover the table; only the per-column
    histogram is skipped for NTZ."""
    from pyspark.sql import types as T

    cols = [f.name for f in spark.table(tbl).schema.fields
            if not isinstance(f.dataType, (T.TimestampNTZType, T.ArrayType,
                                           T.MapType, T.StructType))]
    return ", ".join(cols)


def deactivate(sf_dir: str | None = None, spark: SparkSession | None = None,
               drop: bool = False) -> None:
    """Stop routing reads to the stat_ tables. With `spark` given, also
    restore the CBO confs to Spark defaults — but ONLY once no other
    sf_dir's routing remains active (CBO confs are session-wide; a
    deactivate scoped to one sf_dir must not strip estimation from
    another sf_dir's still-routed tables). With `drop=True`, drop the
    catalog tables themselves — including any superseded by a
    raw->compacted re-activation — (metadata only; LOCATION-backed
    external parquet is never deleted). Default keeps the r7 behavior
    (routing only) so a shared session's other users keep their
    tables."""
    dropped = []
    for k in [k for k in _STATS
              if sf_dir is None or k[0] == os.path.abspath(sf_dir)]:
        dropped.append(_STATS.pop(k))
    if spark is not None:
        if not _STATS:
            for conf in CBO_CONFS:
                try:
                    spark.conf.unset(conf)
                except Exception:
                    pass
        if drop:
            dropped.extend(_SUPERSEDED)
            _SUPERSEDED.clear()
            for tbl in dropped:
                spark.sql(f"DROP TABLE IF EXISTS {tbl}")


def resolve(sf_dir: str, name: str) -> str | None:
    """Stats-backed catalog table for (sf_dir, table) if activated."""
    return _STATS.get((os.path.abspath(sf_dir), name))
