"""Benchmark runner: headline queries at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS].

Prints ONE JSON line:
    {"metric": "...", "value": N, "unit": "sec", "queries": {...}, "sf": ...}

Mirrors the reference's bench protocol (`benchmarks/bench.sh run tpch`,
per-query wall ms, BASELINE.md) at the driver's TESTDATA scale.
"""

from __future__ import annotations

import json
import os
import sys
import time

from rust_query_engine_greatest_spark.queries import REGISTRY
from rust_query_engine_greatest_spark.session import get_spark

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
# 5 iterations = the reference's own protocol (benchmarks/bench.sh:336);
# best-of-5 also damps the ±20-30% run-to-run noise of this VM.
ITERS = int(os.environ.get("SPARK_GRAFT_BENCH_ITERS", "5"))
# Wall-clock budget: the optional passes (tpch_mem, pipeline) are
# skipped once exceeded so the bench ALWAYS emits its JSON line even
# when the VM runs 2x slow — the headline tpch numbers are never cut.
BUDGET_S = float(os.environ.get("SPARK_GRAFT_BENCH_BUDGET", "420"))
# Idle gate (r5 verdict #7): every round where the driver ran bench.py
# while its own prior work was still draining, the RECORDED artifact was
# the contended number (r5: load_start 4.02, tpch 20.8 s vs 15.9 s idle
# at the same HEAD) and cross-round comparison read as a phantom
# regression. Wait (bounded) for the 1-min loadavg to fall below the
# threshold before starting the clock; record how long we waited.
IDLE_LOAD = float(os.environ.get("SPARK_GRAFT_BENCH_IDLE_LOAD", "2.0"))
IDLE_WAIT_S = float(os.environ.get("SPARK_GRAFT_BENCH_IDLE_WAIT", "240"))
_GATE_T0 = time.time()
_GATE_WAITED = 0.0
while os.getloadavg()[0] > IDLE_LOAD and time.time() - _GATE_T0 < IDLE_WAIT_S:
    print(f"idle-gate: load {os.getloadavg()[0]:.2f} > {IDLE_LOAD}, waiting",
          file=sys.stderr)
    time.sleep(10)
    _GATE_WAITED = round(time.time() - _GATE_T0, 1)
_T0 = time.time()
_LOAD0 = os.getloadavg()


def _cpu_snapshot() -> tuple[float, float]:
    """(machine busy cpu-sec, this process tree cpu-sec) since boot.

    VERDICT r7 #5: the r7 artifact's tail ran contended and the JSON
    couldn't show it — the idle gate checks only at start, and loadavg
    mid-run is dominated by our own executors. Per-SECTION deltas of
    these two counters separate the box's work from ours:
    ext_cpu_s = Δbusy − Δown ≈ 0 means the section ran on an otherwise
    idle machine (idle-attributable), regardless of what loadavg says.
    Linux /proc; returns (0, 0) anywhere it can't read."""
    try:
        hz = float(os.sysconf("SC_CLK_TCK"))
        with open("/proc/stat") as f:
            parts = f.readline().split()[1:]
        global _IOWAIT_S
        _IOWAIT_S = int(parts[4]) / hz  # side-channel read by _section_end
        busy = (sum(int(x) for x in parts)
                - int(parts[3]) - int(parts[4])) / hz  # − idle − iowait
        ppid_of: dict[int, int] = {}
        cpu_of: dict[int, float] = {}
        for pid in os.listdir("/proc"):
            if not pid.isdigit():
                continue
            try:
                with open(f"/proc/{pid}/stat") as f:
                    rest = f.read().rsplit(")", 1)[1].split()
                ppid_of[int(pid)] = int(rest[1])
                # utime+stime of the live process PLUS cutime+cstime
                # (CPU of its already-reaped children): without the
                # latter, a subprocess that exits before the section
                # boundary vanishes from the tree sum and its CPU is
                # misattributed to ext_cpu_s — falsely flagging a clean
                # section that shelled out as contended. A reaped
                # child's time moves from its own utime (counted while
                # alive) to the parent's cutime (counted after), so
                # deltas across a boundary stay double-count-free.
                cpu_of[int(pid)] = (int(rest[11]) + int(rest[12])
                                    + int(rest[13]) + int(rest[14])) / hz
            except (OSError, IndexError, ValueError):
                continue
        me = os.getpid()
        own = 0.0
        for pid, cpu in cpu_of.items():
            p, hops = pid, 0
            while p > 1 and hops < 64:
                if p == me:
                    own += cpu
                    break
                p, hops = ppid_of.get(p, 1), hops + 1
        return busy, own
    except Exception:
        return 0.0, 0.0


_IOWAIT_S = 0.0
_SECTIONS: dict[str, dict] = {}
_SEC_MARK = (time.time(), *_cpu_snapshot(), _IOWAIT_S)

# Per-section contention control (VERDICT r9 #1): the startup idle gate
# checks ONCE, then the bench records whatever happens — six of seven r9
# attempts self-reported contended sections and the round's driver
# numbers were poisoned. Two additions, acting on the instrumentation
# that already existed:
#   - _regate(): before each timed section, sample the EXTERNAL cpu
#     rate (Δbusy − Δown over a 1 s window — loadavg is useless here
#     because it carries our own executors) and wait, bounded, until
#     the box is quiet.
#   - one bounded RETRY of a section whose recorded ext_cpu_s tripped
#     _section_contended(); the retry re-runs the same timed loop on
#     the same entries and merges via min — the bench's own best-of
#     methodology, just given a clean window. Timed action, entries
#     and keys are unchanged; retries are recorded in the artifact.
REGATE_EXT_CORES = float(os.environ.get("SPARK_GRAFT_BENCH_REGATE_EXT", "0.75"))
REGATE_WAIT_S = float(os.environ.get("SPARK_GRAFT_BENCH_REGATE_WAIT", "45"))
RETRY_EXTRA_S = float(os.environ.get("SPARK_GRAFT_BENCH_RETRY_BUDGET", "240"))
_GATE_WAITS: dict[str, float] = {}
_RETRIES: dict[str, dict] = {}


def _ext_cpu_rate(sample_s: float = 1.0) -> float:
    """External busy cores right now: Δ(machine busy − our tree) over a
    short sample window."""
    b0, o0 = _cpu_snapshot()
    t0 = time.time()
    time.sleep(sample_s)
    b1, o1 = _cpu_snapshot()
    dt = max(time.time() - t0, 1e-3)
    return max(0.0, (b1 - b0) - (o1 - o0)) / dt


def _regate(name: str) -> None:
    """Bounded wait before a timed section until external CPU is quiet."""
    t0 = time.time()
    while time.time() - t0 < REGATE_WAIT_S:
        rate = _ext_cpu_rate(1.0)
        if rate <= REGATE_EXT_CORES:
            break
        print(f"regate[{name}]: ext {rate:.1f} cores busy, waiting",
              file=sys.stderr)
        time.sleep(4)
    waited = round(time.time() - t0, 1)
    if waited > 2.0:
        _GATE_WAITS[name] = waited


def _section_contended(name: str) -> bool:
    """A section is contended when the external CPU it recorded is more
    than noise: > 2 s + 10% of its wall clock (clean r8/r9 sections sit
    at 0.0–2; poisoned ones at 23–442)."""
    s = _SECTIONS.get(name)
    return bool(s) and s["ext_cpu_s"] > 2.0 + 0.10 * s["wall_s"]


def _section_end(name: str) -> None:
    """Close the current bench section: record its wall-clock, the
    machine-wide busy CPU it didn't account for (ext_cpu_s — the
    contended-section flag), and the loadavg at the boundary."""
    global _SEC_MARK
    now, busy, own = time.time(), *_cpu_snapshot()
    t0, busy0, own0, iow0 = _SEC_MARK
    _SECTIONS[name] = {
        "wall_s": round(now - t0, 1),
        "own_cpu_s": round(own - own0, 1),
        "ext_cpu_s": round(max(0.0, (busy - busy0) - (own - own0)), 1),
        # r10: machine iowait over the section — the disk-stall mode
        # (uniform 15-25% inflation with ext_cpu 0.0) is otherwise
        # invisible to the CPU instrumentation; a high value marks the
        # artifact as I/O-contended even though no one stole CPU.
        "iowait_s": round(_IOWAIT_S - iow0, 1),
        "load": [round(x, 2) for x in os.getloadavg()],
    }
    _SEC_MARK = (now, busy, own, _IOWAIT_S)


def bench_names() -> list[str]:
    names = [n for n in sorted(REGISTRY) if n.startswith("tpch_")]
    extra = [n for n in sorted(REGISTRY) if REGISTRY[n].tags and "bench" in REGISTRY[n].tags]
    return names + [n for n in extra if n not in names]


def run_context(spark) -> dict:
    """How the timings ran: the host's CPU count, the cores Spark
    actually schedules on (local[N]) and the driver heap."""
    sc = spark.sparkContext
    return {"ncpus": os.cpu_count(),
            "spark_cores": sc.defaultParallelism,
            "heap": sc.getConf().get("spark.driver.memory")}


def main() -> None:
    spark = get_spark(app_name="bench")
    sf = SF_DIR.rstrip("/").rsplit("sf", 1)[-1]
    names = bench_names()
    # Layout optimization (sources/compact.py): TESTDATA parquet is one
    # row group per table → single-task scans. Compact once into
    # range-clustered multi-file parquet (the layout a 100 TB deployment
    # has anyway); timings below then measure the engine, not the
    # generator's file layout. Disable with SPARK_GRAFT_COMPACT=0.
    compact_s, layout = 0.0, "raw"
    if os.environ.get("SPARK_GRAFT_COMPACT", "1") != "0":
        try:
            from rust_query_engine_greatest_spark.sources import compact as _compact

            compact_s = _compact.activate(spark, SF_DIR)
            layout = "compacted"
        except Exception as e:
            print(f"compaction skipped: {e}", file=sys.stderr)
    # Optional bucketed fact layout (sources/bucketing.py): pay the
    # l_orderkey/o_orderkey clustering once at write time and the whole
    # orderkey join/agg chain plans exchange-free. Off by default (the
    # driver's recorded numbers stay comparable across rounds); set
    # SPARK_GRAFT_BUCKETS=<n> to measure the 100 TB layout.
    n_buckets = int(os.environ.get("SPARK_GRAFT_BUCKETS", "0") or 0)
    if n_buckets > 0:
        try:
            from rust_query_engine_greatest_spark.sources import (
                bucketing as _bucketing,
            )

            compact_s += _bucketing.activate(spark, SF_DIR, n_buckets)
            layout = f"bucketed({n_buckets})"
        except Exception as e:
            print(f"bucketing skipped: {e}", file=sys.stderr)
    # Catalog statistics + CBO (sources/stats.py): ANALYZE the tpch
    # tables once, then Catalyst's join reorder / estimation applies to
    # the registry plans — the production-warehouse configuration.
    # Measured at SF1 (BENCH_NOTES r7): q21 -47%, q9 -48%, q12 -62%.
    # Disable with SPARK_GRAFT_BENCH_STATS=0.
    if os.environ.get("SPARK_GRAFT_BENCH_STATS", "1") != "0":
        try:
            from rust_query_engine_greatest_spark.sources import stats as _stats

            compact_s += _stats.activate(spark, SF_DIR)
            # pipeline/events side too (VERDICT r7 #3): documents +
            # embeddings always; events only from the compacted
            # (post-conversion) copy so the ts type is unchanged.
            # Disable separately: SPARK_GRAFT_BENCH_STATS_PIPELINE=0.
            if os.environ.get("SPARK_GRAFT_BENCH_STATS_PIPELINE", "1") != "0":
                compact_s += _stats.activate_pipeline(spark, SF_DIR)
            layout += "+stats"
        except Exception as e:
            print(f"stats skipped: {e}", file=sys.stderr)
    # Global warm-up: one untimed collect per query. A fresh JVM spends
    # seconds on C2 JIT + Janino codegen compilation for the first plans
    # it sees; collect (not count) warms the exact plan each timed
    # iteration will run, so timings reflect steady state — the regime a
    # long-lived cluster app actually operates in.
    for name in names:
        try:
            REGISTRY[name].build(spark, SF_DIR).collect()
        except Exception:
            pass
    try:  # settle the JVM before timing: drain GC debt from the warm-up pass
        spark._jvm.java.lang.System.gc()
        time.sleep(2)
    except Exception:
        pass
    # Interleaved passes (pass 1 = all queries, pass 2 = all queries, ...)
    # with best-of across passes: a one-off GC or C2-compile spike then
    # degrades one pass of one query instead of pinning itself to
    # whichever query happened to run first.
    # Section budgeting (r3 lesson: the pipeline section must ALWAYS
    # report — BENCH_r03.json lost its dedup/ANN numbers to a slow VM).
    # tpch timed passes stop adding iterations past 55% of budget; the
    # pipeline section runs NEXT (one timed pass, before the optional
    # mem variant) with the remainder reserved for it; the mem pass is
    # the one that gets skipped under pressure.
    _section_end("setup_warm")

    def _run_tpch_passes(times: dict[str, float], iters: int,
                         deadline: float) -> None:
        for it in range(iters):
            if it > 0 and time.time() > deadline:
                print(f"bench-tpch stopped after pass {it} (budget)",
                      file=sys.stderr)
                break
            for name in names:
                key = name.replace("tpch_", "")
                try:
                    t0 = time.perf_counter()
                    REGISTRY[name].build(spark, SF_DIR).collect()
                    dt = time.perf_counter() - t0
                    times[key] = round(min(times.get(key, float("inf")), dt), 4)
                except Exception as e:  # keep the bench line emitting even if one query breaks
                    print(f"bench {name} failed: {e}", file=sys.stderr)
                    times.setdefault(key, -1.0)

    _regate("tpch")
    times: dict[str, float] = {}
    _run_tpch_passes(times, ITERS, _T0 + BUDGET_S * 0.55)
    _section_end("tpch")
    if _section_contended("tpch") and time.time() - _T0 < BUDGET_S + RETRY_EXTRA_S:
        print(f"tpch section contended (ext_cpu "
              f"{_SECTIONS['tpch']['ext_cpu_s']} s), retrying once",
              file=sys.stderr)
        _regate("tpch_retry")
        _run_tpch_passes(times, max(2, ITERS - 2),
                         time.time() + min(120.0, RETRY_EXTRA_S))
        _section_end("tpch_retry")
        _RETRIES["tpch"] = _SECTIONS["tpch_retry"]
    total = round(sum(t for t in times.values() if t > 0), 4)
    # Training-pipeline ops (dedup/ANN/text) — reported under their own
    # keys so the headline tpch metric stays comparable across rounds;
    # warm + ONE timed pass (they are an order heavier than the tpch
    # queries). The sketch ops run the LIBRARY operators over the real
    # documents table (the registry entries for minhash/simhash/lsh are
    # constructive-oracle fixtures — correctness-shaped, not perf-
    # representative). Disable: SPARK_GRAFT_BENCH_PIPELINE=0.
    times_pipe: dict[str, float] = {}
    times_build: dict[str, float] = {}
    if os.environ.get("SPARK_GRAFT_BENCH_PIPELINE", "1") != "0":
        from pyspark.sql import functions as F

        from rust_query_engine_greatest_spark.pipeline import dedup as _dedup
        from rust_query_engine_greatest_spark.sources.catalog import load_table as _lt

        def _minhash_real(s, d):
            return _dedup.minhash_lsh_pairs(_lt(s, d, "documents"), "doc_id", "text", threshold=0.8)

        def _simhash_real(s, d):
            return _dedup.simhash_pairs(_lt(s, d, "documents"), "doc_id", "text", max_hamming=3)

        # Incremental-ingest probe path (VERDICT r8 #2): build each
        # persisted index ONCE over a 90% corpus slice (the untimed
        # ingest cost, reported separately as *_index_build), then time
        # the PROBE of the 10% batch against the READ-BACK index — the
        # number that must stay O(batch): a regression that re-scans,
        # re-shingles, or re-shuffles the corpus shows up here as a
        # corpus-sized jump (the plan shape itself is pinned in
        # tests/test_plans.py::test_minhash_probe_single_documents_scan).
        _docs = _lt(spark, SF_DIR, "documents")
        _corpus = _docs.filter(F.col("doc_id") % 10 != 0)
        _batch = _docs.filter(F.col("doc_id") % 10 == 0)
        _idx_root = f"/tmp/spark_graft_probe_idx_sf{sf}"
        _bloom_bitmap: list[int] = []

        def _build_indexes() -> None:
            # r10: writes go through dedup.write_index (REBALANCE hint)
            # so file sizing follows data volume, not shuffle.partitions
            # (guide §6; was 32 × ~12 KB files per index at sf0.1)
            t0 = time.perf_counter()
            _dedup.write_index(
                _dedup.minhash_index_rows(_corpus, "doc_id", "text"),
                f"{_idx_root}/minhash")
            times_build["dedup_minhash_index_build"] = round(
                time.perf_counter() - t0, 4)
            t0 = time.perf_counter()
            _dedup.write_index(
                _dedup.simhash_index_rows(_corpus, "doc_id", "text"),
                f"{_idx_root}/simhash")
            times_build["dedup_simhash_index_build"] = round(
                time.perf_counter() - t0, 4)
            t0 = time.perf_counter()
            _bloom_bitmap.extend(_dedup.bloom_build(
                _corpus.select(F.xxhash64("text").alias("fp")), "fp"))
            times_build["dedup_bloom_index_build"] = round(
                time.perf_counter() - t0, 4)

        def _minhash_probe(s, d):
            return _dedup.minhash_index_probe(
                _batch, s.read.parquet(f"{_idx_root}/minhash"),
                "doc_id", "text")

        def _simhash_probe(s, d):
            return _dedup.simhash_index_probe(
                _batch, s.read.parquet(f"{_idx_root}/simhash"),
                "doc_id", "text", max_hamming=3)

        def _bloom_probe(s, d):
            return _batch.withColumn(
                "maybe_dup",
                _dedup.bloom_maybe_contains(F.xxhash64("text"),
                                            _bloom_bitmap))

        try:
            _build_indexes()
            _probe_ops = [("dedup_minhash_probe", _minhash_probe),
                          ("dedup_simhash_probe", _simhash_probe),
                          ("dedup_bloom_probe", _bloom_probe)]
        except Exception as e:
            print(f"bench index build failed: {e}", file=sys.stderr)
            _probe_ops = []
        if _probe_ops:
            # Drain the index-build write-back before any timed entry:
            # the parquet ingest above dirties the container disk, and
            # on this box the page-cache flush otherwise lands on the
            # first few TIMED pipeline ops (3 r9 artifacts show the
            # inflation cluster start right here while a fresh session
            # runs the same entries at r8 speed). The builds are the
            # untimed half of the probe split, so their I/O must not
            # leak into the timed region. Outside the build try-block
            # (ADVICE r9): a drain hiccup must not discard successfully
            # built indexes. The old fixed 2 s settle is now a bounded
            # poll of /proc/meminfo Dirty+Writeback — margin on a box
            # whose flush takes longer than a constant tuned to this one.
            try:
                os.sync()
                _DRAIN_TIMEOUT_S, _DIRTY_QUIET_KB = 10.0, 64 * 1024
                t0 = time.time()
                while time.time() - t0 < _DRAIN_TIMEOUT_S:
                    kb = 0
                    with open("/proc/meminfo") as f:
                        for line in f:
                            if line.startswith(("Dirty:", "Writeback:")):
                                kb += int(line.split()[1])
                    if kb <= _DIRTY_QUIET_KB:
                        break
                    time.sleep(0.5)
            except Exception as e:
                print(f"writeback drain skipped: {e}", file=sys.stderr)

        pipe: list[tuple[str, object]] = [
            ("dedup_exact", REGISTRY["dedup_exact"].build),
            ("dedup_minhash", _minhash_real),
            ("dedup_simhash", _simhash_real),
            ("dedup_jaccard", REGISTRY["dedup_jaccard"].build),
            ("text_quality", REGISTRY["text_quality"].build),
            ("text_langid", REGISTRY["text_langid"].build),
            ("sim_topk_bruteforce", REGISTRY["sim_topk_bruteforce"].build),
            ("text_decontaminate", REGISTRY["text_decontaminate"].build),
            ("text_hash_sample", REGISTRY["text_hash_sample"].build),
            ("text_repetition", REGISTRY["text_repetition"].build),
            ("dedup_semantic", REGISTRY["dedup_semantic"].build),
            ("dedup_bloom_incremental", REGISTRY["dedup_bloom_incremental"].build),
            ("text_unigram_quality", REGISTRY["text_unigram_quality"].build),
            ("text_chunk_overlap", REGISTRY["text_chunk_overlap"].build),
            ("text_span_scrub", REGISTRY["text_span_scrub"].build),
        ] + _probe_ops
        def _run_pipeline(times_pipe: dict[str, float],
                          deadline: float) -> None:
            for name, build in pipe:
                if time.time() > deadline:
                    print(f"bench-pipeline budget exhausted before {name}",
                          file=sys.stderr)
                    break
                try:
                    build(spark, SF_DIR).collect()  # warm
                    # best-of-2, extended adaptively: shuffle-file I/O
                    # stalls on the container disk intermittently inflate
                    # single runs 3-5× (thread dumps in BENCH_NOTES r4) and
                    # can span the warm-up AND both timed passes
                    # (BENCH_r06 dedup_minhash 6.5 s vs 2.9 s reproducible —
                    # VERDICT r6 "what's wrong" #2). When the observed
                    # passes disagree by >1.5× the stall is still in play:
                    # keep sampling (≤5 total) until two passes agree or
                    # the budget runs out, so the recorded number is the
                    # warm plan, not the disk.
                    samples: list[float] = []
                    for _ in range(5):
                        t0 = time.perf_counter()
                        build(spark, SF_DIR).collect()
                        samples.append(time.perf_counter() - t0)
                        if time.time() > deadline:
                            break
                        if len(samples) >= 2 and (
                                sorted(samples)[1] <= 1.5 * sorted(samples)[0]):
                            break
                    best = round(min(samples), 4)
                    times_pipe[name] = min(times_pipe.get(name, float("inf")),
                                           best)
                except Exception as e:
                    print(f"bench-pipeline {name} failed: {e}", file=sys.stderr)
                    times_pipe.setdefault(name, -1.0)

        _regate("pipeline")
        _run_pipeline(times_pipe, _T0 + BUDGET_S)
    _section_end("pipeline")
    if (times_pipe and _section_contended("pipeline")
            and time.time() - _T0 < BUDGET_S + RETRY_EXTRA_S):
        print(f"pipeline section contended (ext_cpu "
              f"{_SECTIONS['pipeline']['ext_cpu_s']} s), retrying once",
              file=sys.stderr)
        _regate("pipeline_retry")
        _run_pipeline(times_pipe, time.time() + min(150.0, RETRY_EXTRA_S))
        _section_end("pipeline_retry")
        _RETRIES["pipeline"] = _SECTIONS["pipeline_retry"]
    # In-memory variant — the reference's `tpch_mem` mode (bench.sh:73,
    # BASELINE.md second table): same queries over cached columnar
    # tables, isolating compute from IO. Runs LAST: it is the section
    # sacrificed when the VM runs slow. Disable: SPARK_GRAFT_BENCH_MEM=0.
    times_mem: dict[str, float] = {}
    if os.environ.get("SPARK_GRAFT_BENCH_MEM", "1") != "0" and time.time() - _T0 < BUDGET_S * 0.85:
        try:
            from rust_query_engine_greatest_spark.sources import catalog as _catalog

            _catalog.cache_tables(spark, SF_DIR)
            tpch = [n for n in names if n.startswith("tpch_")]
            for name in tpch:  # warm the cached plans
                REGISTRY[name].build(spark, SF_DIR).collect()

            def _run_mem_passes(times_mem: dict[str, float], passes: int,
                                deadline: float) -> None:
                for _ in range(passes):
                    if time.time() > deadline:
                        print("bench-mem stopped early (budget)", file=sys.stderr)
                        break
                    for name in tpch:
                        key = name.replace("tpch_", "")
                        try:
                            t0 = time.perf_counter()
                            REGISTRY[name].build(spark, SF_DIR).collect()
                            dt = time.perf_counter() - t0
                            times_mem[key] = round(min(times_mem.get(key, float("inf")), dt), 4)
                        except Exception as e:
                            print(f"bench-mem {name} failed: {e}", file=sys.stderr)
                            times_mem.setdefault(key, -1.0)

            _regate("mem")
            _run_mem_passes(times_mem, max(2, ITERS - 2), _T0 + BUDGET_S * 1.15)
            _section_end("mem")
            if (_section_contended("mem")
                    and time.time() - _T0 < BUDGET_S + RETRY_EXTRA_S):
                print(f"mem section contended (ext_cpu "
                      f"{_SECTIONS['mem']['ext_cpu_s']} s), retrying once",
                      file=sys.stderr)
                _regate("mem_retry")
                _run_mem_passes(times_mem, 2,
                                time.time() + min(90.0, RETRY_EXTRA_S))
                _section_end("mem_retry")
                _RETRIES["mem"] = _SECTIONS["mem_retry"]
            _catalog.uncache_tables(SF_DIR)
        except Exception as e:
            print(f"mem pass skipped: {e}", file=sys.stderr)
    if "mem" not in _SECTIONS:
        _section_end("mem")
    out = {
        "metric": "tpch_total_best",
        "value": total,
        "unit": "sec",
        "queries": times,
        "sf": sf,
        "layout": layout,
        "compact_s": compact_s,
        # measurement context: r4's +12% uniform drift was attributed to
        # VM contention but unprovable from the JSON alone (VERDICT r4
        # #5). load_start/load_end = 1/5/15-min os.getloadavg() — a
        # recording taken at load ≫ ncpus is machine-distinguishable.
        "ts": round(time.time(), 1),
        **run_context(spark),
        "load_start": [round(x, 2) for x in _LOAD0],
        "load_end": [round(x, 2) for x in os.getloadavg()],
        "idle_gate_waited_s": _GATE_WAITED,
        # per-section attribution (VERDICT r7 #5): ext_cpu_s ≈ 0 means
        # the section ran idle-attributable even though loadavg carries
        # our own executors; a contended section shows ext_cpu_s ≫ 0.
        "sections": _SECTIONS,
        # VERDICT r9 #1 additions: pre-section regate waits and the
        # one-shot contended-section retries (numbers merged via min —
        # same best-of methodology, clean window)
        "section_gate_waited_s": _GATE_WAITS,
        "section_retries": _RETRIES,
        "wall_s": round(time.time() - _T0, 1),
    }
    if times_mem:
        out["queries_mem"] = times_mem
        out["mem_total_best"] = round(sum(t for t in times_mem.values() if t > 0), 4)
    if times_pipe:
        out["queries_pipeline"] = times_pipe
        out["pipeline_total_best"] = round(sum(t for t in times_pipe.values() if t > 0), 4)
    if times_build:
        # one-time ingest costs of the persisted probe indexes — kept
        # OUT of pipeline_total_best so the per-round pipeline headline
        # stays comparable (the probes themselves are in the section)
        out["queries_index_build"] = times_build
    print(json.dumps(out))


if __name__ == "__main__":
    main()
