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
- driver JVM started from a dynamic class-data-sharing (CDS) archive of
  the classes the first session of the checkout loaded (Spark loads
  ~11.5k before a session is ready), so they are mapped instead of
  parsed and verified again: perfbench session start 4.9-5.4 s ->
  2.2-2.8 s on 4 cores. That first session dumps the archive at JVM exit
  into `spark-warehouse/cds/`, one file per JDK + Spark build +
  classpath; later ones map it. Skipped when the JVM was launched
  elsewhere (an existing session, a driver-supplied gateway) and when
  the launcher's classpath would hold a non-empty directory, which CDS
  refuses: a conf dir with any live (non-`.template`) file, or a Hadoop
  / YARN conf dir or extra classpath. Only a sealed archive (one a
  completed dump moved into place) is handed to the JVM: JDK 17 crashes
  on a truncated one instead of ignoring it.
"""

from __future__ import annotations

import atexit
import contextlib
import glob
import hashlib
import json
import os
import shutil
import subprocess

import pyspark
from pyspark import SparkContext
from pyspark.find_spark_home import _find_spark_home
from pyspark.sql import SparkSession

from .sources import stats

DEFAULT_CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", 0)) or len(os.sched_getaffinity(0))

# Class-data-sharing archives of the driver JVM, in the checkout's
# warehouse next to sources/stats.STATS_DIR.
CDS_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                       "..", "spark-warehouse", "cds")

# The archive this process's driver JVM was started with (None: no class
# sharing) and whether the JVM mapped it; a dumping JVM maps none.
CLASS_SHARING: dict = {"archive": None, "mapped": False}


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
    conf = dict(extra_conf or {})
    cds = _plan_class_sharing()
    if cds:
        conf["spark.driver.extraJavaOptions"] = " ".join(
            filter(None, [cds["opts"], conf.get("spark.driver.extraJavaOptions")]))
    for k, v in conf.items():
        builder = builder.config(k, v)
    saved_conf_dir = os.environ.get("SPARK_CONF_DIR")
    if cds:
        os.environ["SPARK_CONF_DIR"] = cds["conf_dir"]
    try:
        spark = builder.getOrCreate()
    finally:
        if cds:
            if saved_conf_dir is None:
                os.environ.pop("SPARK_CONF_DIR", None)
            else:
                os.environ["SPARK_CONF_DIR"] = saved_conf_dir
    if cds:
        _started(spark, cds)
    spark.sparkContext.setLogLevel("WARN")
    # CodeGenerator sizes that cache from SQLConf.get when its object is
    # first loaded. A first codegen on a JVM thread with no active
    # session (df.rdd from a worker thread, as the pipeline operators'
    # partition check does) reads Spark's defaults there: 100 entries,
    # and the mixes recompile every cycle. Load it here, where the
    # session is active.
    getattr(getattr(spark._jvm, "org.apache.spark.sql.catalyst."
                                "expressions.codegen.CodeGenerator$"),
            "MODULE$")
    return spark


def archive_name(spark_home: str, conf_dir: str) -> str:
    """File name of the archive for the JDK spark-class runs ($JAVA_HOME,
    else `java` on the PATH, and its `release` file), the Spark version
    and the launcher's classpath (conf dir and jar listing). An upgrade of
    either names a new archive instead of handing the JVM an old one."""
    java = shutil.which("java")
    java_home = os.environ.get("JAVA_HOME") or (
        os.path.dirname(os.path.dirname(os.path.realpath(java))) if java else "")
    try:
        with open(os.path.join(java_home, "release")) as f:
            release = f.read()
    except OSError:
        release = ""
    ident = [java_home, release, pyspark.__version__, conf_dir,
             stats._files(os.path.join(spark_home, "jars"))]
    digest = hashlib.sha1(json.dumps(ident).encode()).hexdigest()[:16]
    return f"spark-{pyspark.__version__}-{digest}.jsa"


def _plan_class_sharing() -> dict | None:
    """JVM options that map the sealed archive, or dump one at exit when
    there is none and no live process is dumping it (an O_EXCL lock);
    None for a plain start."""
    if SparkContext._gateway is not None or "PYSPARK_GATEWAY_PORT" in os.environ:
        return None  # the JVM is up already, or a driver launched it
    home = os.environ.get("SPARK_HOME") or _find_spark_home()
    try:
        conf_files = os.listdir(os.environ.get("SPARK_CONF_DIR")
                                or os.path.join(home, "conf"))
    except OSError:
        conf_files = []
    store = os.path.abspath(CDS_DIR)
    if (any(not n.endswith(".template") for n in conf_files)
            or any(os.environ.get(v) for v in (
                "HADOOP_CONF_DIR", "YARN_CONF_DIR", "SPARK_DIST_CLASSPATH"))
            # extraJavaOptions splits on whitespace; ':' separates paths
            or any(c.isspace() or c in ":'\"" for c in store)):
        return None
    empty = os.path.join(store, "conf")
    os.makedirs(empty, exist_ok=True)
    archive = os.path.join(store, archive_name(home, empty))
    log = os.path.join(store, f"jvm-{os.getpid()}.log")
    plan = {"conf_dir": empty, "archive": archive, "log": log, "dump": None}
    if _sealed(archive):
        plan["opts"] = f"-XX:SharedArchiveFile={archive} -Xshare:auto"
    elif _lock(archive + ".lock"):
        # a dump whose process died unfinished left its temp file behind
        for old in glob.glob(glob.escape(archive) + ".*.tmp"):
            os.remove(old)
        plan["dump"] = f"{archive}.{os.getpid()}.tmp"
        plan["opts"] = f"-XX:ArchiveClassesAtExit={plan['dump']}"
    else:
        return None
    # CDS messages go to the log only: never onto the driver's stdout
    plan["opts"] += f" -Xlog:cds=info:file={log}::filecount=0 -Xlog:cds*=off"
    return plan


def _sealed(archive: str) -> bool:
    """The archive is the one a completed dump moved into place: its
    name, size and mtime still match the seal written then. JDK 17 does
    not ignore a truncated or garbage archive, it dies mapping it
    (SIGBUS / SIGSEGV), so nothing else is ever passed to the JVM."""
    try:
        with open(archive + ".seal") as f:
            return json.load(f) == stats._files(archive)
    except (OSError, ValueError):
        return False


def _lock(path: str) -> bool:
    """Create `path` holding our pid, exclusively. A lock whose process
    has exited is stale and taken over once; an empty one is still being
    written and counts as held."""
    for _ in range(2):
        try:
            fd = os.open(path, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
        except FileExistsError:
            try:
                with open(path) as f:
                    os.kill(int(f.read() or os.getpid()), 0)
                return False
            except PermissionError:  # another user's live process
                return False
            except FileNotFoundError:  # released meanwhile
                pass
            except (ProcessLookupError, ValueError):
                with contextlib.suppress(OSError):
                    os.remove(path)
        else:
            with os.fdopen(fd, "w") as f:
                f.write(str(os.getpid()))
            return True
    return False


def _started(spark: SparkSession, plan: dict) -> None:
    """Record whether the new JVM mapped the archive (its CDS log says so
    at start-up), and if it is to dump one, finish that at exit."""
    try:
        with open(plan["log"]) as f:
            mapped = "Mapped dynamic region" in f.read()
        os.remove(plan["log"])
    except OSError:
        mapped = False
    CLASS_SHARING.update(archive=os.path.basename(plan["archive"]),
                         mapped=mapped)
    if plan["dump"]:
        atexit.register(_finish_dump, os.getpid(),
                        spark.sparkContext._gateway.proc,
                        plan["dump"], plan["archive"])


def _finish_dump(owner: int, proc, tmp: str, archive: str) -> None:
    """End the driver JVM (it exits on stdin EOF and writes the archive
    on its way out), then move a complete archive into place and seal it.
    A JVM that failed or outlived the wait leaves none; the next session
    dumps again."""
    if os.getpid() != owner:
        return  # a forked child: the JVM is not its own to end or judge
    try:
        if proc.poll() is None:
            # stop the context first: a JVM exiting under a live one
            # breaks pyspark's accumulator server mid-read (a traceback)
            with contextlib.suppress(Exception):
                SparkContext._active_spark_context.stop()
            proc.stdin.close()
            proc.wait(timeout=120)
        if proc.returncode == 0 and os.path.getsize(tmp):
            os.replace(tmp, archive)
            # a partly written seal does not parse, so it seals nothing
            with open(archive + ".seal", "w") as f:
                json.dump(stats._files(archive), f)
    except (OSError, subprocess.TimeoutExpired):
        pass
    finally:
        for path in (tmp, archive + ".lock"):
            with contextlib.suppress(OSError):
                os.remove(path)
