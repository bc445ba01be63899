"""Structured Streaming parity surface (SURVEY §2.9).

The reference's streaming story is unbounded StreamTable sources
(core/src/datasource/stream.rs:287-298) + streaming-safe operators with
interval-based state pruning (SymmetricHashJoinExec,
physical-plan/src/joins/symmetric_hash_join.rs:82-96) and NO
watermarks/event-time windows. Spark's model is strictly stronger; the
parity targets built here:

- stream scan → stateless transform → sink      (= StreamingTableExec)
- watermark + tumbling-window aggregation       (> reference)
- stream-stream join with time-range condition  (= SymmetricHashJoin's
  range-pruned state, expressed as watermark + interval predicate)
- custom stateful operator (sessionization) via applyInPandasWithState

Scale notes: state stores partition by grouping key (same shuffle rules
as batch); watermark delay bounds state size exactly like the
reference's interval graph pruning does.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

def _events_schema(sf_dir: str) -> tuple[T.StructType, bool]:
    """Explicit schema for the file stream source (required by Spark),
    matched to what the generator actually wrote. Two layouts exist:
    TIMESTAMP(NANOS) read as raw int64 under legacy.parquet.nanosAsLong
    (→ needs ns DIV 1000 truncation, SURVEY §1.2), or timestamp[us]
    (→ read as NTZ, cast to the instant type under the UTC session).
    Returns (schema, ts_is_long)."""
    import os

    import pyarrow.parquet as pq

    import pyarrow
    arrow_ts = pq.read_schema(os.path.join(sf_dir, "events.parquet")).field("ts").type
    ts_is_long = pyarrow.types.is_integer(arrow_ts)
    schema = T.StructType([
        T.StructField("event_id", T.LongType(), True),
        T.StructField("ts", T.LongType() if ts_is_long else T.TimestampNTZType(), True),
        T.StructField("user_id", T.LongType(), True),
        T.StructField("event_type", T.StringType(), True),
        T.StructField("value", T.DoubleType(), True),
        T.StructField("props", T.StringType(), True),
    ])
    return schema, ts_is_long


def _stage_subdir(sf_dir: str, leaf: str) -> str:
    """`.stream_stage/<tag>/<leaf>` under this checkout's root
    (gitignored), keyed by sf_dir and created on demand."""
    import hashlib
    import os

    root = os.path.dirname(os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))))
    tag = hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    d = os.path.join(root, ".stream_stage", tag, leaf)
    os.makedirs(d, exist_ok=True)
    return d


def _stage_dir(sf_dir: str) -> str:
    """Spark's file stream source requires a *directory*; TESTDATA ships
    one parquet file per table in a read-only tree. Stage a symlink
    directory under the repo (gitignored) — zero-copy, and exactly how a
    production deployment points the source at a landing directory."""
    import os

    d = _stage_subdir(sf_dir, "events")
    link = os.path.join(d, "part-00000.parquet")
    if not os.path.exists(link):
        os.symlink(os.path.join(sf_dir, "events.parquet"), link)
    return d


def read_events_stream(spark: SparkSession, sf_dir: str, duplicated: bool = False) -> DataFrame:
    """Unbounded scan of the events table (StreamTable analog): file
    source + explicit schema + the same timestamp normalization policy
    as the batch catalog (sources/catalog.py:load_table). With
    duplicated=True the source delivers every event twice
    (at-least-once fixture for stream_dedup)."""
    schema, ts_is_long = _events_schema(sf_dir)
    src = stage_events_duplicated(sf_dir) if duplicated else _stage_dir(sf_dir)
    raw = spark.readStream.schema(schema).parquet(src)
    if ts_is_long:
        return raw.withColumn("ts", F.timestamp_micros(F.expr("ts DIV 1000")))
    return raw.withColumn("ts", F.col("ts").cast(T.TimestampType()))


def windowed_counts(
    events: DataFrame, width: str = "5 minutes", delay: str = "10 minutes"
) -> DataFrame:
    """Watermarked tumbling-window aggregation; append mode emits only
    watermark-closed windows (late rows beyond `delay` are dropped) —
    the late-data semantics the reference lacks entirely."""
    from ..queries.base import dec2

    return (
        events.withWatermark("ts", delay)
        .groupBy(F.window("ts", width).alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.sum(dec2("value")).cast("double").alias("val_sum"),
        )
        .select(F.col("w.start").alias("w_start"), "event_type", "cnt", "val_sum")
    )


def session_window_counts(
    events: DataFrame, gap: str = "30 minutes", delay: str = "10 minutes"
) -> DataFrame:
    """NATIVE gap-based session windows (F.session_window) — the
    built-in twin of sessionize_stateful's applyInPandasWithState
    operator: Spark merges rows whose inter-event gap < `gap` into one
    window per user; the window END extends `gap` past the last event.
    Append mode emits a session once the watermark passes its end."""
    return (
        events.withWatermark("ts", delay)
        .groupBy(F.session_window("ts", gap).alias("w"), "user_id")
        .agg(F.count(F.lit(1)).cast("int").alias("n_events"))
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
        )
    )


def stream_stream_range_join(events: DataFrame, gap: str = "10 minutes") -> DataFrame:
    """Stream-stream inner join with a time-range condition — the
    SymmetricHashJoinExec analog: both sides unbounded, state pruned by
    the watermark + interval bound (reference prunes via its interval
    graph, stream_join_utils.rs).

    purchases ⋈ clicks on user_id where click.ts ∈ [purchase.ts - gap,
    purchase.ts]."""
    clicks = (
        events.filter(F.col("event_type") == "click")
        .select(F.col("user_id").alias("c_user"), F.col("ts").alias("c_ts"),
                F.col("event_id").alias("c_id"))
        .withWatermark("c_ts", gap)
    )
    purchases = (
        events.filter(F.col("event_type") == "purchase")
        .select(F.col("user_id").alias("p_user"), F.col("ts").alias("p_ts"),
                F.col("event_id").alias("p_id"))
        .withWatermark("p_ts", gap)
    )
    cond = (
        (F.col("c_user") == F.col("p_user"))
        & (F.col("c_ts") <= F.col("p_ts"))
        & (F.col("c_ts") >= F.col("p_ts") - F.expr(f"INTERVAL {gap}"))
    )
    return purchases.join(clicks, cond, "inner").select("p_user", "p_id", "c_id", "p_ts", "c_ts")


# ---- custom stateful operator: sessionization -----------------------------

SESSION_OUTPUT_SCHEMA = "user_id long, session_start timestamp, session_end timestamp, n_events int"
SESSION_STATE_SCHEMA = "start long, last long, n int"


def sessionize_stateful(events: DataFrame, gap_minutes: int = 30) -> DataFrame:
    """Per-user sessionization with applyInPandasWithState — the
    'custom stateful operator' extension point (reference equivalent:
    a hand-written ExecutionPlan; here a state-store-backed operator).

    Sessions close when no event arrives within `gap_minutes`. Emits
    closed sessions per micro-batch invocation; with a single
    availableNow batch every group is invoked once with all its rows,
    emitting all sessions (the final open one included, closed by
    end-of-data), which makes results batch-deterministic and
    oracle-checkable."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    gap_us = gap_minutes * 60 * 1_000_000

    def fn(key, pdfs, state: GroupState):
        (user_id,) = key
        times = []
        for pdf in pdfs:
            times.extend(int(t.value // 1000) for t in pd.to_datetime(pdf["ts"]))
        times.sort()
        if state.exists:
            start, last, n = state.get
        else:
            start, last, n = None, None, 0
        out = []
        for t in times:
            if start is None:
                start, last, n = t, t, 1
            elif t - last > gap_us:
                out.append((user_id, start, last, n))
                start, last, n = t, t, 1
            else:
                last, n = t, n + 1
        if start is not None:
            # end-of-batch flush: emit the open session too (documented
            # single-batch determinism; a continuous deployment would
            # keep it in state with a timeout instead)
            out.append((user_id, start, last, n))
            state.remove()
        return iter([pd.DataFrame({
            "user_id": [o[0] for o in out],
            "session_start": [pd.Timestamp(o[1], unit="us") for o in out],
            "session_end": [pd.Timestamp(o[2], unit="us") for o in out],
            "n_events": [o[3] for o in out],
        })])

    return (
        events.select("user_id", "ts")
        .groupBy("user_id")
        .applyInPandasWithState(
            fn,
            outputStructType=SESSION_OUTPUT_SCHEMA,
            stateStructType=SESSION_STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


def run_to_memory(stream_df: DataFrame, name: str, spark: SparkSession) -> DataFrame:
    """Drive a streaming DataFrame to completion into an in-memory sink
    (availableNow trigger) and return the materialized table — the test
    harness for every streaming query here."""
    q = (
        stream_df.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.table(name)


def run_to_parquet(
    stream_df: DataFrame, path: str, checkpoint: str
) -> None:
    """Drive a streaming DataFrame into a DURABLE parquet sink with a
    checkpoint (availableNow trigger) — the production sink shape.
    Exactly-once comes from the pair (checkpointed source offsets,
    file-sink transaction log): re-running with the same checkpoint
    after success is a no-op, and a restart mid-stream resumes without
    duplicating committed batches. Pinned in
    tests/test_streaming.py::test_parquet_sink_exactly_once_on_restart."""
    q = (
        stream_df.writeStream.format("parquet")
        .option("path", path)
        .option("checkpointLocation", checkpoint)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def stream_dedup(
    events: DataFrame,
    key_cols: list[str] | None = None,
    delay: str = "10 minutes",
) -> DataFrame:
    """Streaming exact deduplication — the unbounded twin of
    pipeline/dedup.exact_dedup: drop re-deliveries of the same key
    inside the watermark horizon via dropDuplicatesWithinWatermark
    (state pruned once the watermark passes, so state size is bounded
    by the delay window's distinct keys — the property that keeps this
    runnable forever at 100 TB/day ingest; plain dropDuplicates grows
    state without bound). Default key = content fingerprint (md5 of
    type+value+props), matching the batch operator's
    normalized-content policy; pass e.g. ["event_id"] for
    delivery-level (exactly-once) dedup."""
    keyed = events.withColumn(
        "fp",
        F.md5(F.concat_ws("|", "event_type", F.col("value").cast("string"), "props"))
        if not key_cols
        else F.concat_ws("|", *[F.col(c).cast("string") for c in key_cols]),
    )
    return (
        keyed.withWatermark("ts", delay)
        .dropDuplicatesWithinWatermark(["fp"])
        .select("event_id", "ts", "user_id", "event_type", "value")
    )


def stage_events_duplicated(sf_dir: str) -> str:
    """A stream-source dir that delivers every event TWICE (two links to
    the same parquet) — the at-least-once-delivery fixture the dedup
    operator exists for."""
    import os

    d = _stage_subdir(sf_dir, "events_dup")
    src = os.path.join(sf_dir, "events.parquet")
    for name in ("part-00000.parquet", "part-00001.parquet"):
        link = os.path.join(d, name)
        if not os.path.exists(link):
            os.symlink(src, link)
    return d


def run_foreach_batch(
    batch_df: DataFrame,
    op,
    result_schema: str,
    n_files: int = 3,
) -> tuple[DataFrame, int]:
    """Drive `op` (DataFrame -> DataFrame) over `batch_df` under the
    REAL streaming engine: stage the rows as `n_files` parquet files,
    replay them through the file stream source one file per
    micro-batch (maxFilesPerTrigger=1), and apply `op` to each
    micro-batch inside foreachBatch — the production incremental-ingest
    loop for the persisted dedup indexes (VERDICT r8 #4: upgrades the
    index probes from "batch API callable per batch" to
    "verified under the streaming engine"). Returns (accumulated
    results as a DataFrame with `result_schema`, micro-batch count).

    Scale note: foreachBatch hands each micro-batch over as an
    ordinary DataFrame, so the probe keeps its batch plan shape —
    index side scanned, never re-shingled (plan-pinned in
    tests/test_plans.py). Accumulation here collects per-batch probe
    RESULTS (candidate pairs — bounded by true-dup density, not corpus
    size); a production sink would append to a table instead."""
    import shutil
    import tempfile

    spark = batch_df.sparkSession
    stage = tempfile.mkdtemp(prefix="spark_graft_fb_")
    src = f"{stage}/src"
    batch_df.repartition(n_files).write.parquet(src)
    rows: list[tuple] = []
    n_batches = [0]

    def handle(mb: DataFrame, epoch_id: int) -> None:
        n_batches[0] += 1
        rows.extend(tuple(r) for r in op(mb).collect())

    q = (
        spark.readStream.schema(batch_df.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
        .writeStream.foreachBatch(handle)
        .trigger(availableNow=True)
        .option("checkpointLocation", f"{stage}/ckpt")
        .start()
    )
    q.awaitTermination()
    shutil.rmtree(stage, ignore_errors=True)
    return spark.createDataFrame(rows, result_schema), n_batches[0]
