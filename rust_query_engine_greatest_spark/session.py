"""SparkSession factory.

Reference lifecycle parity: SessionContext (`core/src/execution/context/mod.rs:574`)
→ here a configured SparkSession; every stage of the reference's query
lifecycle (SURVEY §3) is inherited from Catalyst/Tungsten.

Confs are chosen for the dual target: correctness tests on local[N] and
plans that survive a 1000-executor / 100 TB deployment:

- AQE on (runtime re-plan, skew-join handling, partition coalescing) —
  subsumes the reference's JoinSelection / CoalesceBatches physical rules.
- Arrow on — the reference's columnar RecordBatch data path equivalent
  for any Python-boundary crossing.
- shuffle.partitions sized by env (cores locally; a cluster deploy would
  raise it or rely on AQE coalescing from a high initial value).
- local cores and driver heap sized from the machine (usable cores, a
  third of RAM) unless SPARK_GRAFT_CPUS / SPARK_GRAFT_DRIVER_MEM say.
- codegen cache sized for the engine's working set: the registry and
  pipeline mixes generate ~300 classes each, three times Spark's
  100-entry default, so a smaller cache recompiles them every cycle.
- session timezone pinned UTC so results are stable against the DuckDB
  oracle and across cluster nodes.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", 0)) or len(os.sched_getaffinity(0))


def default_driver_mem() -> str:
    """A third of physical RAM as driver heap, 1g to 28g. The rest stays
    for the Python workers and for shuffle files, which land on tmpfs
    (RAM) by default; ≤32g keeps compressed oops, and 48g+ heaps
    measurably slowed the same jobs (pointer bloat + bigger GC regions)
    on local[32]."""
    with open("/proc/meminfo") as f:
        total_kb = int(f.readline().split()[1])  # MemTotal: <n> kB
    return f"{max(1, min(28, total_kb // 3 // 2**20))}g"


def get_spark(
    app_name: str = "rust-query-engine-greatest-spark",
    cpus: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the configured SparkSession.

    local[N] for tests; on a real cluster the master/deploy confs come
    from spark-submit and everything below still applies.
    """
    cpus = cpus or DEFAULT_CPUS
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # Size reduce partitions by BYTES (advisory 64 MB), not by core
        # count: with the default parallelismFirst=true AQE pins tiny
        # shuffles to `defaultParallelism` partitions and every reducer
        # is scheduling overhead. Spark's own tuning guide recommends
        # false; measured on the bench suite (interleaved best-of-3,
        # sf0.1): 17.7 s → 13.3 s. shuffle.partitions above stays high
        # as the pre-AQE upper bound — at 100 TB AQE then keeps ~64 MB
        # partitions instead of starving or flooding the cluster.
        .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "false")
        # Advisory reduce-partition size 16 MB (Spark default 64 MB):
        # measured at OFFICIAL SF1 (rotated interleaved best-of-3,
        # 14-query suite, r6): 25.96 s vs 30.91 s (-16%) — 64 MB gives a
        # 200-500 MB shuffle only 3-8 reducers on 32 cores (parallelism
        # starvation exactly where the exchanges are biggest: q11 3.7 ->
        # 1.9, q21 4.4 -> 2.7, q18 3.4 -> 2.1). At sf0.1 the change is
        # noise (14.07 -> 14.36 s). At 100 TB the trade is 4x more
        # reduce tasks than the 64 MB guidance — each still >= 16 MB, so
        # no tiny-task flood, and smaller partitions bound skew and
        # per-task memory; raise it back per-job if shuffle-file count
        # ever dominates.
        .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", str(16 * 1024 * 1024))
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory",
                os.environ.get("SPARK_GRAFT_DRIVER_MEM") or default_driver_mem())
        .config("spark.ui.enabled", "false")
        # Parquet TIMESTAMP(NANOS) (events table) has no Spark type: read
        # the raw int64 nanos and truncate to micros in the source layer
        # (sources/catalog.py) — the documented ns→µs policy (SURVEY
        # §1.2; reference is nanos-native per src/lib.rs:24).
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.parquet.aggregatePushdown", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # Generated-class cache (static, JVM-wide; Spark default 100).
        # The perfbench `query` mix (TPC-H q1-q22 + 3 registry entries)
        # needs ~320 classes and `pipeline` ~260, so at 100 entries every
        # cycle re-ran Janino and the JIT on ~300 evicted classes. At 2000
        # (4 vCPU, sf0.1): compiles per op 12.3 -> 0.16, classes loaded
        # per op 23.6 -> 2.1, median cpu_s_per_op 3.28 -> 2.67 s (query)
        # and 5.19 -> 3.98 s (pipeline) over 10+ interleaved pairs, peak
        # RSS unchanged: each entry is a few KB of bytecode.
        .config("spark.sql.codegen.cache.maxEntries", "2000")
    )
    # Shuffle/spill scratch on tmpfs when available: thread-dump
    # profiling (BENCH_NOTES r4) caught slow runs stalled inside
    # shuffle-file NIO copies — disk writeback, not compute. local[32]
    # shuffle volumes at bench scale are MBs; on a real cluster this
    # conf comes from the cluster manager (local NVMe), so gate it on
    # the directory existing rather than hardcoding.
    shm = os.environ.get("SPARK_GRAFT_LOCAL_DIR", "/dev/shm/spark-graft-local")
    try:
        os.makedirs(shm, exist_ok=True)
        builder = builder.config("spark.local.dir", shm)
    except OSError:
        pass
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
