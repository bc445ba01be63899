"""The benchmark's workloads: cycles of ops over the engine's public
functions. An op is one or more steps; a step builds a DataFrame and
either collects it, and the rows are checked against an expected digest,
or writes it as a near-dup index. The run's seed fixes the op order of
every cycle and the corpus slice each `ingest` op holds out.
"""

from __future__ import annotations

import itertools
import random
from collections.abc import Callable, Iterator
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from rust_query_engine_greatest_spark.pipeline import dedup
from rust_query_engine_greatest_spark.queries import REGISTRY
from rust_query_engine_greatest_spark.sources import compact, stats
from rust_query_engine_greatest_spark.sources.catalog import load_table

# bench.py's mix: TPC-H q1-q22 and the registry entries tagged "bench"
QUERY_MIX = tuple(f"tpch_q{i}" for i in range(1, 23)) + (
    "greatest_numeric", "events_daily_type", "events_json_extract")
# bench.py's pipeline section. dedup_minhash and dedup_simhash are the
# library operators over the whole corpus, not the registry fixtures of
# the same names, so their expected digests are committed in expected.json.
LIBRARY_OPS = ("dedup_minhash", "dedup_simhash")
# `ingest` is the one op that writes: see ingest_op.
PIPELINE_MIX = (
    "dedup_exact", *LIBRARY_OPS, "dedup_jaccard", "text_quality", "text_langid",
    "sim_topk_bruteforce", "text_decontaminate", "text_hash_sample", "text_repetition",
    "dedup_semantic", "dedup_bloom_incremental", "text_unigram_quality",
    "text_chunk_overlap", "text_span_scrub", "ingest")
SLICES = 10


@dataclass(frozen=True)
class Step:
    label: str  # key of the expected (rows, digest); unused by writes
    build: Callable[[], DataFrame]
    write_to: str | None = None


@dataclass(frozen=True)
class Op:
    name: str
    steps: tuple[Step, ...]


def op(spark: SparkSession, sf: str, name: str) -> Op:
    """A single-step op of the query or pipeline mix."""
    if name == "dedup_minhash":
        build = lambda: dedup.minhash_lsh_pairs(  # noqa: E731
            load_table(spark, sf, "documents"), "doc_id", "text", threshold=0.8)
    elif name == "dedup_simhash":
        build = lambda: dedup.simhash_pairs(  # noqa: E731
            load_table(spark, sf, "documents"), "doc_id", "text", max_hamming=3)
    else:
        build = lambda: REGISTRY[name].build(spark, sf)  # noqa: E731
    return Op(name, (Step(name, build),))


def ingest_op(spark: SparkSession, sf: str, k: int, index_dir: str) -> Op:
    """bench.py's incremental-ingest path: write the MinHash and SimHash
    indexes of the corpus without slice k (doc_id % 10 == k), then probe
    slice k against both indexes as read back from disk."""
    def docs(held_out: bool) -> DataFrame:
        rest = F.col("doc_id") % SLICES
        return load_table(spark, sf, "documents").filter(
            rest == k if held_out else rest != k)

    mh, sh = f"{index_dir}/minhash", f"{index_dir}/simhash"
    return Op("ingest", (
        Step("", lambda: dedup.minhash_index_rows(docs(False), "doc_id", "text"), mh),
        Step("", lambda: dedup.simhash_index_rows(docs(False), "doc_id", "text"), sh),
        Step(f"ingest_s{k}.minhash_probe", lambda: dedup.minhash_index_probe(
            docs(True), spark.read.parquet(mh), "doc_id", "text")),
        Step(f"ingest_s{k}.simhash_probe", lambda: dedup.simhash_index_probe(
            docs(True), spark.read.parquet(sh), "doc_id", "text", max_hamming=3)),
    ))


@dataclass(frozen=True)
class Workload:
    name: str
    mix: tuple[str, ...]
    query_layout: bool  # compacted tables; ANALYZE the TPC-H tables and events

    def layout(self, spark: SparkSession, sf: str, spans) -> dict[str, float]:
        """Compaction (query only; the copy is written once per checkout
        and reused) then ANALYZE of the tables the mix reads; returns the
        seconds of each."""
        out = {"compact_s": 0.0}
        if self.query_layout:
            with spans.span("setup", "compact") as s:
                compact.activate(spark, sf)
            out["compact_s"] = s["dur_s"]
        with spans.span("setup", "analyze") as s:
            if self.query_layout:
                # events from the compacted copy, whose ts is already µs
                stats.activate(spark, sf, tables=stats.TPCH_TABLES + ("events",))
            else:
                stats.activate_pipeline(spark, sf)
        out["analyze_s"] = s["dur_s"]
        return out

    def warm_ops(self, spark: SparkSession, sf: str, seed: int, index_root: str) -> list[Op]:
        """Every op of the mix once, for the untimed warm-up pass."""
        return [ingest_op(spark, sf, seed % SLICES, f"{index_root}/warm") if n == "ingest"
                else op(spark, sf, n) for n in self.mix]

    def cycles(self, spark: SparkSession, sf: str, seed: int, index_root: str) -> Iterator[Op]:
        """Endless ops: every cycle runs the whole mix in a fresh seeded
        order; each ingest op writes under its own dir in index_root."""
        rng = random.Random(seed)
        for i in itertools.count():
            for name in rng.sample(self.mix, len(self.mix)):
                if name == "ingest":
                    yield ingest_op(spark, sf, rng.randrange(SLICES), f"{index_root}/{i}")
                else:
                    yield op(spark, sf, name)


WORKLOADS = {
    "query": Workload("query", QUERY_MIX, query_layout=True),
    "pipeline": Workload("pipeline", PIPELINE_MIX, query_layout=False),
}


def registry_oracles() -> dict[str, str]:
    """DuckDB oracle SQL of every registry entry the workloads run."""
    return {n: REGISTRY[n].oracle for n in QUERY_MIX + PIPELINE_MIX
            if n not in LIBRARY_OPS and n != "ingest"}

