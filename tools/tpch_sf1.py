"""TPC-H at the reference's own scale: generate official SF1 with
DuckDB's bundled dbgen, hash-verify every query against the DuckDB
oracle on the same files, and time the suite — the apples-to-apples
number BASELINE.md's standing caveat asks for (the reference's
published 13.23 s sum is SF1; the driver's per-round bench is sf0.1).

Usage:
    python tools/tpch_sf1.py [--layout compacted|bucketed|raw]
                             [--dir /tmp/sf1_tpch] [--passes 3]

Outputs one JSON line: per-query best-of-N seconds, the sum, layout,
load averages, and the correctness census (hash match per query).

Findings recorded in BENCH_NOTES.md (round 5):
- 21/22 queries hash-identical to DuckDB on official SF1 data; q1
  differs in ONE column by 1 ulp of the final decimal→double cast
  (both engines' exact decimal sums are equal to the last digit —
  verified 55909065222.827692 on group A — but their decimal→double
  conversions round the 17th significant digit differently).
- q2/q7/q8/q10 return 0 rows at SF1: their predicates were adapted to
  the driver's synthetic TESTDATA dimension values, so on official
  dbgen data they select nothing. Their timings measure plan overhead
  only; treat the sum accordingly.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

TPCH_TABLES = ("region", "nation", "customer", "supplier", "part",
               "orders", "lineitem")


def ensure_sf1(dest: str, sf: float = 1.0) -> None:
    import duckdb

    if all(os.path.exists(os.path.join(dest, f"{t}.parquet"))
           for t in TPCH_TABLES):
        return
    os.makedirs(dest, exist_ok=True)
    con = duckdb.connect()
    con.execute(f"CALL dbgen(sf={sf})")
    for t in TPCH_TABLES:
        con.execute(f"COPY {t} TO '{dest}/{t}.parquet' (FORMAT PARQUET)")


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--layout", default="compacted",
                    choices=("raw", "compacted", "bucketed"))
    ap.add_argument("--dir", default=None,
                    help="data dir (default /tmp/sf{N}_tpch per --sf)")
    ap.add_argument("--sf", type=float, default=1.0,
                    help="TPC-H scale factor for dbgen (1 or 10; the "
                         "reference ships both lenses, bench.sh:73-74)")
    ap.add_argument("--passes", type=int, default=3)
    ap.add_argument("--queries", default=None,
                    help="comma list of qN names to run (default all 22)")
    ap.add_argument("--no-census", action="store_true",
                    help="skip the correctness census (timing only — the "
                         "SF10 lens reuses the SF1-verified plans; the "
                         "DuckDB differential at SF10 costs minutes)")
    ap.add_argument("--no-stats", action="store_true",
                    help="skip ANALYZE + CBO (sources/stats.py); default "
                         "is stats ON — catalog row/NDV statistics are "
                         "how a production warehouse runs, and CBO join "
                         "reorder needs them")
    ap.add_argument("--mem", action="store_true",
                    help="cache every table into Spark's columnar "
                         "in-memory cache first (the reference's "
                         "tpch_mem mode, bench.sh -m / BASELINE.md "
                         "second table) — isolates compute from IO")
    ap.add_argument("--isolated", action="store_true",
                    help="settle the 1-min load below 2 before EACH query's "
                         "timing passes — quantifies how much of the suite "
                         "protocol's per-query time is self-contention from "
                         "the preceding queries (the back-to-back protocol "
                         "runs at load 5-12)")
    args = ap.parse_args()

    import duckdb

    from driver_emulator import value_hash
    from rust_query_engine_greatest_spark.instrument import (
        SectionTracker, idle_gate, run_context)
    from rust_query_engine_greatest_spark.queries import REGISTRY
    from rust_query_engine_greatest_spark.session import get_spark
    from rust_query_engine_greatest_spark.sources import (bucketing, compact,
                                                          stats)

    if args.dir is None:
        args.dir = f"/tmp/sf{args.sf:g}_tpch"
    # Idle gate BEFORE anything heats the box (VERDICT r8 #1: the SF1
    # suite gained bench.py's contention instrumentation this round so
    # a re-record can prove in-artifact whether it ran idle).
    tracker = SectionTracker()
    gate_waited = idle_gate(2.0, 240.0)
    load_start = [round(x, 2) for x in os.getloadavg()]
    tracker.end("idle_gate")
    ensure_sf1(args.dir, sf=args.sf)
    spark = get_spark(app_name="tpch-sf1")
    prep_s = 0.0
    if args.layout in ("compacted", "bucketed"):
        dest, prep_s = compact.compact_tables(spark, args.dir,
                                              tables=TPCH_TABLES)
        compact._ACTIVE[os.path.abspath(args.dir)] = dest
    if args.layout == "bucketed":
        prep_s += bucketing.activate(spark, args.dir, 32)
    if not args.no_stats:
        # one-time ANALYZE (row counts + per-column NDV/min/max) + CBO:
        # catalog.load_table then serves stats-backed catalog tables so
        # join reorder & estimation apply to the registry DataFrame path
        # too (measured SF1: q21 4.3→2.3, q9 2.0→1.0, q12 1.6→0.6)
        prep_s += stats.activate(spark, args.dir)

    con = duckdb.connect()
    for t in TPCH_TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{args.dir}/{t}.parquet')")
    tracker.end("prep")

    if args.queries:
        # accept both the short (q1) and registry (tpch_q1) spellings
        names = [q.strip() if q.strip().startswith("tpch_")
                 else f"tpch_{q.strip()}" for q in args.queries.split(",")]
    else:
        names = [f"tpch_q{i}" for i in range(1, 23)]
    census: dict[str, str] = {}
    for n in (() if args.no_census else names):
        q = REGISTRY[n]
        if n == "tpch_q1":
            # decimal-exact lane: the registry entry surfaces DOUBLE
            # (driver-hash-safe; DecimalType is banned there), but the
            # two engines' final decimal→double casts differ by 1 ulp
            # at SF1, so THIS census compares the exact decimal sums
            # via the unregistered variant — sorted-tuple equality,
            # Decimal == Decimal, no float coercion anywhere.
            from rust_query_engine_greatest_spark.queries.tpch import (
                TPCH_Q1_DECIMAL_ORACLE, tpch_q1_decimal)

            srows = [tuple(r) for r in
                     tpch_q1_decimal(spark, args.dir).collect()]
            orows = con.execute(TPCH_Q1_DECIMAL_ORACLE).fetchall()
            key = lambda r: (str(r[0]), str(r[1]))  # noqa: E731
            ok = sorted(srows, key=key) == sorted(orows, key=key)
            census[n] = "match" if ok else "MISMATCH"
            continue
        df = q.build(spark, args.dir)
        scols = df.columns
        srows = [tuple(r) for r in df.collect()]
        ores = con.execute(q.oracle)
        ocols = [d[0] for d in ores.description]
        orows = ores.fetchall()
        # side="oracle" on BOTH sides: the float-coercing symmetric
        # compare. The side-asymmetric "spark" mode exists to emulate
        # the REAL driver's hash (sf0.01 registry checks); here the
        # dbgen parquet carries DECIMAL source columns (c_acctbal &c)
        # that BOTH engines pass through, and the honest SF1 question
        # is value equality, not driver-hash reproduction.
        ok = (len(srows) == len(orows)
              and value_hash(scols, srows, side="oracle")
              == value_hash(ocols, orows, side="oracle"))
        census[n] = "match" if ok else "MISMATCH"

    tracker.end("census")
    # the correctness census above heats the box (32 DuckDB threads +
    # the Spark passes); let the 1-min load decay before the timed
    # passes so the recorded numbers are idle-comparable (bounded wait,
    # same rationale as bench.py's idle gate)
    idle_gate(3.0, 180.0)
    tracker.end("post_census_gate")

    if args.mem:
        # reference tpch_mem analog: columnar in-memory cache (the
        # _MEMORY route wins in catalog.load_table), plus one untimed
        # warm pass so timings measure compute, not codegen/JIT
        from rust_query_engine_greatest_spark.sources import catalog as _cat

        t0 = time.time()
        _cat.cache_tables(spark, args.dir, tables=TPCH_TABLES)
        prep_s += time.time() - t0
        for n in names:
            REGISTRY[n].build(spark, args.dir).collect()
        tracker.end("mem_cache_warm")

    best: dict[str, float] = {}
    if args.isolated:
        for n in names:
            idle_gate(2.0, 90.0)
            for _ in range(args.passes):
                t0 = time.time()
                REGISTRY[n].build(spark, args.dir).collect()
                best[n] = min(best.get(n, 9e9), time.time() - t0)
        tracker.end("isolated_passes")
    else:
        # per-PASS section attribution: the suite protocol runs the 22
        # queries back-to-back, so a contended pass shows ext_cpu_s ≫ 0
        # on its own row while the best-of min can still come from a
        # clean pass — the artifact alone now distinguishes regression
        # from contention (VERDICT r8 #1).
        for p in range(args.passes):
            for n in names:
                t0 = time.time()
                REGISTRY[n].build(spark, args.dir).collect()
                best[n] = min(best.get(n, 9e9), time.time() - t0)
            tracker.end(f"pass{p + 1}")

    print(json.dumps({
        "metric": (f"tpch_sf{args.sf:g}_mem_total_best" if args.mem
                   else f"tpch_sf{args.sf:g}_isolated_best" if args.isolated
                   else f"tpch_sf{args.sf:g}_total_best"),
        "value": round(sum(best.values()), 4),
        "unit": "sec",
        "sf": args.sf,
        "layout": ("mem+" + args.layout) if args.mem else args.layout,
        "prep_s": round(prep_s, 2),
        "queries": {k: round(v, 4) for k, v in best.items()},
        "correctness": census,
        "load_start": load_start,
        "load": list(os.getloadavg()),
        "idle_gate_waited_s": gate_waited,
        "sections": tracker.sections,
        "ts": round(time.time(), 1),
        **run_context(spark),
    }))


if __name__ == "__main__":
    main()
