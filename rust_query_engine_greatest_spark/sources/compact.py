"""Table compaction — scan-layout optimization (OPTIMIZE / bin-packing).

The driver TESTDATA parquet files are written as ONE row group per
table; a parquet row group is the unit of scan parallelism, so however
Spark splits the file, exactly one task does all the IO+decode for the
table (the other splits contain no row-group midpoint and return
empty). That layout is an artifact of the small-SF generator — at
100 TB a table is thousands of files × many row groups and scans
parallelize naturally.

This module restores the at-scale shape locally, the same way lakehouse
compaction (Delta/Iceberg OPTIMIZE, and the reference's own bench
harness, which regenerates its parquet with controlled row-group sizes
— `benchmarks/bench.sh` data step) does: rewrite each table once into
N files, range-clustered on its natural time/key column so row-group
min/max stats prune date-predicate scans (the reference's
row-group/page pruning analog, `core/src/datasource/physical_plan/
parquet/row_group_filter.rs`).

The rewrite happens once per sf_dir and version of its files, is cached
under spark-warehouse/compacted/, and is activated explicitly (bench.py)
— the correctness gate keeps reading the driver's original files.
"""

from __future__ import annotations

import hashlib
import json
import os
import time

from pyspark.sql import SparkSession

from . import stats
from .catalog import TABLES, load_table

# Local[32] tuning, measured (interleaved A/B over the bench suite at
# sf0.1): 150k rows/file beat 20k and 75k — per-task scheduling overhead
# dominates below ~150k rows on local[32], while a single row group
# serializes the whole scan. On a real cluster, compaction targets
# ~128 MB row groups and the file count follows from data volume, not
# core count.
ROWS_PER_FILE = 150_000
MAX_FILES = 64

# Natural clustering column per table → row-group min/max stats line up
# with the workload's range predicates (shipdate/orderdate/ts filters).
CLUSTER_COL = {
    "lineitem": "l_shipdate",
    "orders": "o_orderdate",
    "events": "ts",
}

# sf_dir -> compacted root; consulted by catalog.load_table.
_ACTIVE: dict[str, str] = {}


# Compacted copies, in the checkout's warehouse next to stats.STATS_DIR.
COMPACT_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                           "..", "..", "spark-warehouse", "compacted")


def _dest_root(sf_dir: str) -> str:
    """The copy's root, keyed by the resolved source dir and the name,
    size and mtime of every source table file: a second dir with the same
    name, or a rewritten source file, gets a copy of its own."""
    src = os.path.realpath(sf_dir)
    fp = [src] + [stats._files(os.path.join(src, f"{t}.parquet"))
                  for t in TABLES]
    digest = hashlib.sha1(json.dumps(fp).encode()).hexdigest()[:16]
    return os.path.join(COMPACT_DIR,
                        f"{os.path.basename(src) or 'data'}-{digest}")


def compact_tables(spark: SparkSession, sf_dir: str,
                   tables: tuple[str, ...] = TABLES) -> tuple[str, float]:
    """Rewrite each table into a multi-file, range-clustered parquet
    directory (idempotent: skips tables already compacted). Returns
    (dest_root, seconds_spent)."""
    dest = os.path.abspath(_dest_root(sf_dir))
    t0 = time.perf_counter()
    for name in tables:
        dst = os.path.join(dest, f"{name}.parquet")
        if os.path.exists(os.path.join(dst, "_SUCCESS")):
            continue
        df = load_table(spark, sf_dir, name)
        nfiles = int(max(1, min(MAX_FILES, df.count() // ROWS_PER_FILE)))
        key = CLUSTER_COL.get(name)
        if key and nfiles > 1:
            df = df.repartitionByRange(nfiles, key).sortWithinPartitions(key)
        else:
            df = df.repartition(nfiles)
        df.write.mode("overwrite").parquet(dst)
    return dest, round(time.perf_counter() - t0, 2)


def activate(spark: SparkSession, sf_dir: str) -> float:
    """Compact sf_dir (if not already) and route catalog.load_table for
    that sf_dir to the compacted copy. Returns compaction seconds (0.0
    when cached from a previous run)."""
    dest, secs = compact_tables(spark, sf_dir)
    _ACTIVE[os.path.abspath(sf_dir)] = dest
    return secs


def deactivate(sf_dir: str | None = None) -> None:
    if sf_dir is None:
        _ACTIVE.clear()
    else:
        _ACTIVE.pop(os.path.abspath(sf_dir), None)


def resolve(sf_dir: str) -> str | None:
    """Compacted root for sf_dir if activated, else None."""
    return _ACTIVE.get(os.path.abspath(sf_dir))
