"""Benchmark runner: headline queries at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS].

Prints ONE JSON line:
    {"metric": "...", "value": N, "unit": "sec", "queries": {...}, "sf": ...}

Mirrors the reference's bench protocol (`benchmarks/bench.sh run tpch`,
per-query wall ms, BASELINE.md) at the driver's TESTDATA scale.

Environment: SPARK_GRAFT_SF_DIR (data), SPARK_GRAFT_BENCH_ITERS (timed
passes, default 5), SPARK_GRAFT_BENCH_MEM=0 (skip the in-memory
section), SPARK_GRAFT_BENCH_IDLE_WAIT (seconds the start-up idle gate
may wait, default 240).
"""

from __future__ import annotations

import json
import os
import sys
import time

from rust_query_engine_greatest_spark import instrument
from rust_query_engine_greatest_spark.queries import REGISTRY
from rust_query_engine_greatest_spark.session import get_spark

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
# 5 iterations = the reference's own protocol (benchmarks/bench.sh:336);
# best-of-5 also damps the ±20-30% run-to-run noise of this VM.
ITERS = int(os.environ.get("SPARK_GRAFT_BENCH_ITERS", "5"))
MEM = os.environ.get("SPARK_GRAFT_BENCH_MEM", "1") != "0"
IDLE_WAIT_S = float(os.environ.get("SPARK_GRAFT_BENCH_IDLE_WAIT", "240"))
# Wall-clock budget: the optional passes (tpch_mem, pipeline) are
# skipped once exceeded so the bench ALWAYS emits its JSON line even
# when the VM runs 2x slow — the headline tpch numbers are never cut.
BUDGET_S = 420.0
# Extra wall clock a contended section's one retry may take past BUDGET_S.
RETRY_EXTRA_S = 240.0


class Harness:
    """One bench run's clock, section record, gate waits and retries.

    Per-section contention control (VERDICT r9 #1: six of seven r9
    attempts self-reported contended sections): each timed section waits
    (bounded) for external CPU to go quiet, and a section still recorded
    as contended is re-run once; samples merge by min — the bench's own
    best-of methodology, given a clean window."""

    def __init__(self, idle_gate_waited_s: float) -> None:
        self.t0 = time.time()
        self.load0 = os.getloadavg()
        self.idle_gate_waited_s = idle_gate_waited_s
        self.tracker = instrument.SectionTracker()
        self.gate_waits: dict[str, float] = {}
        self.retries: dict[str, dict] = {}

    def _gate(self, section: str) -> None:
        waited = instrument.regate(section)
        if waited > 2.0:
            self.gate_waits[section] = waited
        # the wait (and any untimed prep before it) is not the section's
        self.tracker.restart()

    def run_section(self, name: str, run_pass, deadline: float,
                    retry_cap: float) -> None:
        """Gate, run `run_pass(deadline, retry=False)`, and if the
        section was contended and the budget allows, gate again and run
        `run_pass(now + min(retry_cap, RETRY_EXTRA_S), retry=True)`."""
        self._gate(name)
        run_pass(deadline, False)
        sec = self.tracker.end(name)
        if not (self.tracker.contended(name)
                and time.time() - self.t0 < BUDGET_S + RETRY_EXTRA_S):
            return
        print(f"{name} section contended (ext_cpu {sec['ext_cpu_s']} s), "
              "retrying once", file=sys.stderr)
        self._gate(f"{name}_retry")
        run_pass(time.time() + min(retry_cap, RETRY_EXTRA_S), True)
        self.retries[name] = self.tracker.end(f"{name}_retry")

    def record(self, context: dict) -> dict:
        """How and under what load the run went (VERDICT r4 #5, r7 #5)."""
        return {"ts": round(time.time(), 1),
                **context,
                "load_start": [round(x, 2) for x in self.load0],
                "load_end": [round(x, 2) for x in os.getloadavg()],
                "idle_gate_waited_s": self.idle_gate_waited_s,
                "sections": self.tracker.sections,
                "section_gate_waited_s": self.gate_waits,
                "section_retries": self.retries,
                "wall_s": round(time.time() - self.t0, 1)}


def _total(times: dict[str, float]) -> float:
    return round(sum(t for t in times.values() if t > 0), 4)


def bench_result(times: dict, setup: dict, record: dict, pipeline: dict,
                 mem: dict, index_build: dict) -> dict:
    """The JSON line the driver reads. Empty optional sections are
    left out."""
    out = {"metric": "tpch_total_best", "value": _total(times),
           "unit": "sec", "queries": times, **setup, **record}
    if mem:
        out["queries_mem"] = mem
        out["mem_total_best"] = _total(mem)
    if pipeline:
        out["queries_pipeline"] = pipeline
        out["pipeline_total_best"] = _total(pipeline)
    if index_build:
        # one-time ingest costs of the persisted probe indexes — kept
        # OUT of pipeline_total_best so the per-round pipeline headline
        # stays comparable (the probes themselves are in the section)
        out["queries_index_build"] = index_build
    return out


def _timed(times: dict[str, float], key: str, build, spark) -> float | None:
    """Time one `build(spark, SF_DIR).collect()` into `times[key]` (min
    across samples); a failure records -1.0 but never overwrites a good
    sample. Returns the sample, or None on failure."""
    try:
        t0 = time.perf_counter()
        build(spark, SF_DIR).collect()
        dt = time.perf_counter() - t0
    except Exception as e:  # keep the bench line emitting even if one entry breaks
        print(f"bench {key} failed: {e}", file=sys.stderr)
        times.setdefault(key, -1.0)
        return None
    times[key] = round(min(times.get(key, float("inf")), dt), 4)
    return dt


def _timed_passes(spark, entries, times: dict[str, float], passes: int,
                  deadline: float) -> None:
    """Interleaved passes (pass 1 = all entries, pass 2 = all entries,
    ...) with best-of across passes: a one-off GC or C2-compile spike then
    degrades one pass of one entry instead of pinning itself to whichever
    entry happened to run first. The first pass always runs."""
    for it in range(passes):
        if it > 0 and time.time() > deadline:
            print(f"bench stopped after pass {it} (budget)", file=sys.stderr)
            break
        for key, build in entries:
            _timed(times, key, build, spark)


def _sampled_passes(spark, entries, times: dict[str, float],
                    deadline: float) -> None:
    """Per entry: warm once, then best-of-2, extended adaptively. Shuffle
    I/O stalls on the container disk intermittently inflate single runs
    3-5× (thread dumps in BENCH_NOTES r4) and can span the warm-up AND
    both timed passes (VERDICT r6 "what's wrong" #2). When the passes
    disagree by >1.5× the stall is still in play: keep sampling (≤5
    total) until two agree or the budget runs out, so the recorded
    number is the warm plan, not the disk."""
    for key, build in entries:
        if time.time() > deadline:
            print(f"bench-pipeline budget exhausted before {key}",
                  file=sys.stderr)
            break
        try:
            build(spark, SF_DIR).collect()  # warm
        except Exception as e:
            print(f"bench {key} failed: {e}", file=sys.stderr)
            times.setdefault(key, -1.0)
            continue
        samples: list[float] = []
        for _ in range(5):
            dt = _timed(times, key, build, spark)
            if dt is None:
                break
            samples.append(dt)
            if time.time() > deadline:
                break
            if len(samples) >= 2 and (
                    sorted(samples)[1] <= 1.5 * sorted(samples)[0]):
                break


def bench_names() -> list[str]:
    names = [n for n in sorted(REGISTRY) if n.startswith("tpch_")]
    return names + [n for n in sorted(REGISTRY)
                    if "bench" in REGISTRY[n].tags and n not in names]


def pipeline_entries(spark, sf: str, index_build: dict[str, float]) -> list:
    """Training-pipeline ops (dedup/ANN/text) under their own keys, so
    the headline tpch metric stays comparable across rounds. The sketch
    ops run the LIBRARY operators over the real documents table (the
    registry's minhash/simhash/lsh entries are constructive-oracle
    fixtures, not perf-representative). Ingest probes (VERDICT r8 #2):
    each persisted index is built ONCE, untimed, over a 90% corpus slice
    (its cost goes to `index_build`); the timed PROBE of the 10% batch
    against the read-back index must stay O(batch) (plan pinned by
    tests/test_plans.py::test_minhash_probe_single_documents_scan)."""
    from pyspark.sql import functions as F

    from rust_query_engine_greatest_spark.pipeline import dedup
    from rust_query_engine_greatest_spark.sources.catalog import load_table

    docs = load_table(spark, SF_DIR, "documents")
    corpus = docs.filter(F.col("doc_id") % 10 != 0)
    batch = docs.filter(F.col("doc_id") % 10 == 0)
    idx_root = f"/tmp/spark_graft_probe_idx_sf{sf}"
    bloom_bitmap: list[int] = []

    def timed_build(key: str, write) -> None:
        t0 = time.perf_counter()
        write()
        index_build[key] = round(time.perf_counter() - t0, 4)

    probes = [
        ("dedup_minhash_probe", lambda s, d: dedup.minhash_index_probe(
            batch, s.read.parquet(f"{idx_root}/minhash"), "doc_id", "text")),
        ("dedup_simhash_probe", lambda s, d: dedup.simhash_index_probe(
            batch, s.read.parquet(f"{idx_root}/simhash"), "doc_id", "text",
            max_hamming=3)),
        ("dedup_bloom_probe", lambda s, d: batch.withColumn(
            "maybe_dup", dedup.bloom_maybe_contains(F.xxhash64("text"),
                                                    bloom_bitmap))),
    ]
    try:
        # r10: writes go through dedup.write_index (REBALANCE hint) so
        # file sizing follows data volume, not shuffle.partitions
        timed_build("dedup_minhash_index_build", lambda: dedup.write_index(
            dedup.minhash_index_rows(corpus, "doc_id", "text"),
            f"{idx_root}/minhash"))
        timed_build("dedup_simhash_index_build", lambda: dedup.write_index(
            dedup.simhash_index_rows(corpus, "doc_id", "text"),
            f"{idx_root}/simhash"))
        timed_build("dedup_bloom_index_build", lambda: bloom_bitmap.extend(
            dedup.bloom_build(corpus.select(F.xxhash64("text").alias("fp")),
                              "fp")))
    except Exception as e:
        print(f"bench index build failed: {e}", file=sys.stderr)
        probes = []
    if probes:
        # Drain the index-build write-back before any timed entry (3 r9
        # artifacts show inflation starting right here). Outside the
        # build try-block (ADVICE r9): a drain hiccup must not discard
        # successfully built indexes.
        try:
            instrument.drain_writeback()
        except Exception as e:
            print(f"writeback drain skipped: {e}", file=sys.stderr)

    return [
        ("dedup_exact", REGISTRY["dedup_exact"].build),
        ("dedup_minhash", lambda s, d: dedup.minhash_lsh_pairs(
            load_table(s, d, "documents"), "doc_id", "text", threshold=0.8)),
        ("dedup_simhash", lambda s, d: dedup.simhash_pairs(
            load_table(s, d, "documents"), "doc_id", "text", max_hamming=3)),
    ] + [(n, REGISTRY[n].build) for n in (
        "dedup_jaccard", "text_quality", "text_langid", "sim_topk_bruteforce",
        "text_decontaminate", "text_hash_sample", "text_repetition",
        "dedup_semantic", "dedup_bloom_incremental", "text_unigram_quality",
        "text_chunk_overlap", "text_span_scrub")] + probes


def main() -> None:
    # Idle gate (r5 verdict #7): a recording started while the driver's
    # own prior work still drains is the contended number, and
    # cross-round comparison reads it as a phantom regression.
    harness = Harness(instrument.idle_gate(max_wait_s=IDLE_WAIT_S))
    spark = get_spark(app_name="bench")
    sf = SF_DIR.rstrip("/").rsplit("sf", 1)[-1]
    names = bench_names()
    # Layout (sources/compact.py): TESTDATA parquet is one row group per
    # table → single-task scans. Compact once into range-clustered
    # multi-file parquet (the layout a 100 TB deployment has anyway);
    # timings then measure the engine, not the generator's file layout.
    compact_s, layout = 0.0, "raw"
    try:
        from rust_query_engine_greatest_spark.sources import compact

        compact_s = compact.activate(spark, SF_DIR)
        layout = "compacted"
    except Exception as e:
        print(f"compaction skipped: {e}", file=sys.stderr)
    # Catalog statistics + CBO (sources/stats.py) on the tpch tables and
    # the pipeline/events side (VERDICT r7 #3): the production-warehouse
    # configuration. Measured at SF1 (BENCH_NOTES r7): q21 -47%, q9 -48%,
    # q12 -62%.
    try:
        from rust_query_engine_greatest_spark.sources import stats

        compact_s += stats.activate(spark, SF_DIR)
        compact_s += stats.activate_pipeline(spark, SF_DIR)
        layout += "+stats"
    except Exception as e:
        print(f"stats skipped: {e}", file=sys.stderr)
    # Global warm-up: one untimed collect per query. A fresh JVM spends
    # seconds on C2 JIT + Janino codegen for the first plans it sees;
    # collect (not count) warms the exact plan each timed iteration runs.
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
    harness.tracker.end("setup_warm")
    # Section budgeting (r3 lesson: the pipeline section must ALWAYS
    # report). tpch passes stop adding iterations past 55% of budget;
    # the pipeline section runs NEXT with the remainder reserved for it;
    # the mem section runs last and is the one skipped under pressure.
    t0 = harness.t0
    tpch = [(n.replace("tpch_", ""), REGISTRY[n].build) for n in names]
    times: dict[str, float] = {}
    harness.run_section("tpch", lambda deadline, retry: _timed_passes(
        spark, tpch, times, max(2, ITERS - 2) if retry else ITERS, deadline),
        t0 + BUDGET_S * 0.55, 120.0)
    index_build: dict[str, float] = {}
    pipe = pipeline_entries(spark, sf, index_build)
    times_pipe: dict[str, float] = {}
    harness.run_section("pipeline", lambda deadline, retry: _sampled_passes(
        spark, pipe, times_pipe, deadline), t0 + BUDGET_S, 150.0)
    # In-memory variant — the reference's `tpch_mem` mode (bench.sh:73,
    # BASELINE.md second table): same queries over cached columnar
    # tables, isolating compute from IO.
    times_mem: dict[str, float] = {}
    if MEM and time.time() - t0 < BUDGET_S * 0.85:
        try:
            from rust_query_engine_greatest_spark.sources import catalog

            catalog.cache_tables(spark, SF_DIR)
            mem = [e for e, n in zip(tpch, names) if n.startswith("tpch_")]
            for _, build in mem:  # warm the cached plans
                build(spark, SF_DIR).collect()
            harness.run_section("mem", lambda deadline, retry: _timed_passes(
                spark, mem, times_mem, 2 if retry else max(2, ITERS - 2),
                deadline), t0 + BUDGET_S * 1.15, 90.0)
            catalog.uncache_tables(SF_DIR)
        except Exception as e:
            print(f"mem pass skipped: {e}", file=sys.stderr)
    if "mem" not in harness.tracker.sections:
        harness.tracker.end("mem")
    setup = {"sf": sf, "layout": layout, "compact_s": compact_s}
    record = harness.record(instrument.run_context(spark))
    print(json.dumps(bench_result(times, setup, record, times_pipe,
                                  times_mem, index_build)))


if __name__ == "__main__":
    main()
