"""Benchmark of the PySpark engine: one closed-loop client runs a workload
on local[N] (N = usable cores) and prints its metrics as one JSON line.

    python3 perfbench/run.py --workload query --seed 1 --seconds 10 --trace 0

Workloads (see BENCHMARK.json and DESIGN.md): `query` and `pipeline`.
  1. Build, once per checkout: the input tables (perfbench/_work/data),
     the DuckDB oracle digests of the registry entries the workloads run
     and, for `query`, the compacted copy of the tables. Build time is
     reported as `build_s` and is not part of `setup_s`.
  2. Set up: SparkSession, ANALYZE, then one concurrent warm-up pass over
     every op of the mix whose results are verified against the oracle
     digests or the committed ones in expected.json.
  3. Time whole cycles of the mix, in the seed's order, until `--seconds`
     have passed; every result is checked against its verified digest.

`--trace 0` prints the end-to-end metrics. `--trace 1` also records spans
(written to perfbench/_work) and JVM, Spark and py4j counters, and prints
the per-layer metrics. The line before the result describes the run:
effective cores, heap, Spark version, seed, sample count and validity.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
from concurrent.futures import ThreadPoolExecutor

T_START = time.perf_counter()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, "_work")
DATA = os.path.join(WORK, "data", "bench_sf0.1")
# A run is flagged as not valid when, during its timed window, the host
# spent more than HOST_SHARE of the window (plus 2 s) on other processes
# or in iowait, or when the window's halves differ by more than DRIFT.
HOST_SHARE, DRIFT = 0.10, 0.25


def _args() -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=("query", "pipeline"))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args()


def size_spark(run_dir: str) -> dict:
    """Size Spark from the machine through the package's environment
    overrides, before its session module reads them: every usable core,
    a third of RAM (at most 8 GiB) as heap, scratch inside this run's dir."""
    cores = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as f:
        mem_gb = int(f.readline().split()[1]) / 2**20
    heap_gb = max(1, min(8, int(mem_gb // 3)))
    local, tmp = os.path.join(run_dir, "local"), os.path.join(run_dir, "tmp")
    os.makedirs(local)
    os.makedirs(tmp)
    # every JVM (the launcher's too) keeps its temp files here and writes
    # no perf-data file under /tmp
    os.environ.update({"SPARK_GRAFT_CPUS": str(cores), "SPARK_GRAFT_DRIVER_MEM": f"{heap_gb}g",
                       "SPARK_GRAFT_LOCAL_DIR": local, "SPARK_LOCAL_DIRS": local,
                       "TMPDIR": tmp,
                       "JAVA_TOOL_OPTIONS": f"-XX:+PerfDisableSharedMem -Djava.io.tmpdir={tmp}"})
    return {"cores": cores, "mem_total_gb": round(mem_gb, 1),
            "local_dir": os.path.relpath(local, ROOT)}


def start_spark():
    from rust_query_engine_greatest_spark.session import get_spark

    return get_spark(app_name="perfbench",
                     extra_conf={"spark.ui.showConsoleProgress": "false"})


def main() -> int:
    args = _args()
    sys.path.insert(1, ROOT)
    try:
        import pyspark  # noqa: F401

        import rust_query_engine_greatest_spark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: cannot import the engine: {e}", file=sys.stderr)
        return 2
    run_dir = os.path.join(WORK, f"run-{os.getpid()}")
    try:
        return _run(args, run_dir)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


def _run(args: argparse.Namespace, run_dir: str) -> int:
    env = size_spark(run_dir)
    import check
    import datagen
    import probes
    import workloads

    wl = workloads.WORKLOADS[args.workload]
    trace = bool(args.trace)
    spans = probes.Spans()

    t0 = time.perf_counter()
    datagen.write(DATA)
    with open(os.path.join(HERE, "expected.json")) as f:
        committed = json.load(f)
    expected = {n: tuple(v) for n, v in committed["digests"].items()}
    ref_latency = committed["latency_s"]
    expected.update({n: tuple(v) for n, v in check.oracle_digests(
        DATA, workloads.registry_oracles(), os.path.join(WORK, "oracle-digests.json")).items()})
    build_s = time.perf_counter() - t0

    with spans.span("setup", "session") as s:
        spark = start_spark()
    session_s = s["dur_s"]
    jvm_proc = spark.sparkContext._gateway.proc
    index_root = os.path.join(run_dir, "index")
    try:
        layout = wl.layout(spark, DATA, spans)
        build_s += layout["compact_s"]
        with spans.span("setup", "warm") as warm_span:
            # longest first, so the pass ends when the threads run out of work
            ops = sorted(wl.warm_ops(spark, DATA, args.seed, index_root),
                         key=lambda op: -ref_latency.get(op.name, 0.0))
            warm_bad = _warm(ops, expected, env["cores"])
            warm_span["mismatches"] = warm_bad
        warm_s = warm_span["dur_s"]
        with spans.span("setup", "settle"):
            _settle(spark)
        setup_s = time.perf_counter() - T_START - build_s

        runner = _Runner(spark, spans, expected, trace)
        probes.reset_peak_rss()
        window = probes.Window()
        for i, op in enumerate(wl.cycles(spark, DATA, args.seed, index_root)):
            n = len(runner.records)
            if n and n % len(wl.mix) == 0 and time.perf_counter() - window.t0 >= args.seconds:
                break
            runner.run(f"op{i}", op)
        host = window.close()
        peak_mb = probes.peak_rss_mb()
        if trace:
            for rec in runner.records:
                rec.update(runner.jvm.group_stats(rec["op"]))
        ctx = {"workload": wl.name, "seed": args.seed, "seconds": args.seconds, "trace": trace,
               "spark_version": spark.version,
               "effective_cores": spark.sparkContext.defaultParallelism,
               "heap": spark.conf.get("spark.driver.memory"), **env,
               "build_s": round(build_s, 3), "warm_s": round(warm_s, 3)}
    finally:
        stop_spark(spark, jvm_proc)
    if trace:
        path = os.path.join(WORK, f"spans-{wl.name}-seed{args.seed}.jsonl")
        spans.write(path)
        ctx["spans"] = os.path.relpath(path, ROOT)
    setup = {"setup_s": setup_s, "session_s": session_s, "analyze_s": layout["analyze_s"]}
    return _report(trace, wl, ctx, runner, warm_bad, host, peak_mb, setup, ref_latency)


def _warm(ops, expected, threads: int) -> list[str]:
    """Run every op once, concurrently and untimed, and verify its rows;
    returns the steps whose row count or digest differ from the expected."""
    import check
    from rust_query_engine_greatest_spark.pipeline import dedup

    def bad(op) -> list[str]:
        out = []
        for step in op.steps:
            try:
                df = step.build()
                if step.write_to:
                    dedup.write_index(df, step.write_to)
                    continue
                rows = df.collect()
            except Exception as e:  # reported as a failed check, not a crash
                print(f"perfbench: warm-up {op.name} failed: {e}", file=sys.stderr)
                return out + [step.label or op.name]
            if (len(rows), check.digest(df.columns, rows)) != expected[step.label]:
                out.append(step.label)
        return out

    with ThreadPoolExecutor(threads) as ex:
        return [label for labels in ex.map(bad, ops) for label in labels]


def _settle(spark, quiet_ms: float = 20.0, limit_s: float = 5.0) -> None:
    """Collect the warm-up's garbage in the JVM and in Python, then wait
    (at most limit_s) until the JIT compilers go quiet, so the window does
    not start on the warm-up's leftover work."""
    import gc

    jvm = spark.sparkContext._jvm
    jvm.java.lang.System.gc()
    gc.collect()
    jit = jvm.java.lang.management.ManagementFactory.getCompilationMXBean()
    last, deadline = jit.getTotalCompilationTime(), time.perf_counter() + limit_s
    while time.perf_counter() < deadline:
        time.sleep(0.25)
        now = jit.getTotalCompilationTime()
        if now - last < quiet_ms:
            break
        last = now


class _Runner:
    """Runs timed ops. Traced runs also time planning and read counters
    around each op; the transfer split and the result check run after
    the op's timed interval."""

    def __init__(self, spark, spans, expected, trace: bool) -> None:
        import probes

        self.spark, self.spans, self.expected = spark, spans, expected
        self.counter = probes.Py4jCounter(spark) if trace else None
        self.jvm = probes.Jvm(spark) if trace else None
        self.records: list[dict] = []
        self.check_cpu_s = 0.0

    def run(self, op_id: str, op) -> None:
        import check
        from rust_query_engine_greatest_spark.pipeline import dedup

        sc, span = self.spark.sparkContext, self.spans.span
        rec = dict.fromkeys(("build_s", "plan_s", "collect_s", "write_s", "write_mb", "files",
                             "probe_s", "rows"), 0.0)
        rec.update(op=op_id, name=op.name, ok=True)
        done, written = [], []  # (step, df, rows, plan + collect s) and index dirs
        if self.jvm:
            j0 = self.jvm.counters()
            sc.setJobGroup(op_id, op.name)
            c0 = self.counter.calls
        with span(op_id, op.name) as op_span:
            try:
                for step in op.steps:
                    with span(op_id, "build") as b:
                        df = step.build()
                    rec["build_s"] += b["dur_s"]
                    if step.write_to:
                        with span(op_id, "write") as w:
                            dedup.write_index(df, step.write_to)
                        rec["write_s"] += w["dur_s"]
                        written.append(step.write_to)
                        continue
                    plan_s = 0.0
                    if self.jvm:
                        with span(op_id, "plan") as p:
                            df._jdf.queryExecution().executedPlan()
                        plan_s = p["dur_s"]
                    with span(op_id, "execute") as x:
                        rows = df.collect()
                    rec["plan_s"] += plan_s
                    rec["collect_s"] += x["dur_s"]
                    if written:
                        rec["probe_s"] += b["dur_s"] + plan_s + x["dur_s"]
                    done.append((step, df, rows, plan_s + x["dur_s"]))
            except Exception as e:  # a failed op counts as failed; the window goes on
                rec["ok"], rec["error"] = False, f"{type(e).__name__}: {e}"[:300]
        rec["latency_s"] = op_span["dur_s"]
        if self.jvm:
            rec["py4j"] = self.counter.calls - c0
            j1 = self.jvm.counters()
            rec.update({k: j1[k] - j0[k] for k in j0})
            sc.setJobGroup(f"{op_id}-split", "transfer split")
            for _, df, _, collect_s in done:
                with span(op_id, "noop_sink") as s:
                    df.write.format("noop").mode("overwrite").save()
                rec["transfer_s"] = rec.get("transfer_s", 0.0) + collect_s - s["dur_s"]
        for path in written:
            mb, files = _parquet_size(path)
            rec["write_mb"] += mb
            rec["files"] += files
        with span(op_id, "check") as s:
            c = time.process_time()
            for step, df, rows, _ in done:
                rec["rows"] += len(rows)
                if (len(rows), check.digest(df.columns, rows)) != self.expected[step.label]:
                    rec["ok"] = False
                    rec["error"] = f"{step.label}: result differs from the verified digest"
            self.check_cpu_s += time.process_time() - c
            s["ok"] = op_span["ok"] = rec["ok"]
        if not rec["ok"]:
            print(f"perfbench: {op.name} failed: {rec['error']}", file=sys.stderr)
        self.records.append(rec)


def _parquet_size(path: str) -> tuple[float, int]:
    """MiB and number of the parquet files under path."""
    sizes = [os.path.getsize(os.path.join(d, n))
             for d, _, names in os.walk(path) for n in names if n.endswith(".parquet")]
    return sum(sizes) / 2**20, len(sizes)


def stop_spark(spark, proc) -> None:
    """Stop the SparkContext and wait until the JVM and its Python
    workers have exited."""
    import probes

    pids = [p for p in probes.tree_pids() if p != os.getpid()]
    try:
        gateway = spark.sparkContext._gateway
        spark.stop()
        gateway.shutdown()
    finally:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()
        deadline = time.time() + 30
        while time.time() < deadline and any(os.path.exists(f"/proc/{p}") for p in pids):
            time.sleep(0.2)
        for p in pids:
            try:
                os.kill(p, 9)
            except OSError:
                pass


def harrell_davis(values: list[float], q: float) -> float:
    """Harrell-Davis estimate of the q-quantile: a Beta((n+1)q, (n+1)(1-q))
    weighted mean of the order statistics. With one sample per op it
    moves less from run to run than a single order statistic does."""
    import numpy as np

    x = np.sort(np.asarray(values, dtype=float))
    n, a, b = len(x), (len(x) + 1) * q, (len(x) + 1) * (1 - q)
    t = np.linspace(0.0, 1.0, 20001)
    mid = (t[1:] + t[:-1]) / 2  # the density may be infinite at 0 or 1
    cdf = np.concatenate(([0.0], np.cumsum(mid ** (a - 1) * (1 - mid) ** (b - 1))))
    weights = np.diff(np.interp(np.arange(n + 1) / n, t, cdf / cdf[-1]))
    return float(weights @ x)


def _report(trace: bool, wl, ctx: dict, runner: _Runner, warm_bad: list[str], host: dict,
            peak_mb: float, setup: dict, ref: dict[str, float]) -> int:
    recs = runner.records
    n = len(recs)
    lat = [r["latency_s"] for r in recs]
    busy_s = sum(lat)
    # The halves hold different ops, so each latency is first divided by
    # the op's reference latency; what is left is drift over the window.
    norm = [r["latency_s"] / ref.get(r["name"], 1.0) for r in recs]
    drift = statistics.median(norm[n // 2:]) / statistics.median(norm[:max(1, n // 2)]) - 1
    flags = [k for k, bad in (
        ("host_busy", host["ext_cpu_s"] > 2 + HOST_SHARE * host["wall_s"]),
        ("iowait", host["iowait_s"] > 2 + HOST_SHARE * host["wall_s"]),
        ("drift", abs(drift) > DRIFT)) if bad]
    p90 = harrell_davis(lat, 0.9)
    ctx.update({
        "samples": n, "samples_beyond_p90": sum(x > p90 for x in lat),
        "window_s": round(host["wall_s"], 3), "host.ext_cpu_s": round(host["ext_cpu_s"], 2),
        "host.iowait_s": round(host["iowait_s"], 2), "halves_drift": round(drift, 4),
        "valid": not flags, "flags": flags, "warm_mismatches": warm_bad,
        "failures": [f"{r['name']}: {r['error']}" for r in recs if not r["ok"]],
        "ops": [[r["name"], round(r["latency_s"], 4)] for r in recs],
    })
    if flags:
        print(f"perfbench: run flagged as not valid: {flags}", file=sys.stderr)
    if not trace:
        metrics = {
            "setup_s": (setup["setup_s"], "s"),
            "ops_per_s": (n / busy_s, "1/s"),
            "latency_p50_s": (harrell_davis(lat, 0.5), "s"),
            "latency_p90_s": (p90, "s"),
            "cpu_s_per_op": ((host["own_cpu_s"] - runner.check_cpu_s) / n, "s"),
        }
    else:
        def per_op(key: str, scale: float = 1.0) -> float:
            return sum(r.get(key, 0.0) for r in recs) / n / scale

        metrics = {
            "session.start_s": (setup["session_s"], "s"),
            "sources.analyze_s": (setup["analyze_s"], "s"),
            "setup.warm_s": (ctx["warm_s"], "s"),
            "queries.build_s_per_op": (per_op("build_s") if wl.name == "query" else 0.0, "s"),
            "pipeline.build_s_per_op": (per_op("build_s") if wl.name == "pipeline" else 0.0,
                                        "s"),
            "queries.py4j_calls_per_op": (per_op("py4j"), "count"),
            "spark.plan_s_per_op": (per_op("plan_s"), "s"),
            "spark.codegen_compiles_per_op": (per_op("compiles"), "count"),
            "jvm.jit_s_per_op": (per_op("jit_s"), "s"),
            "jvm.classes_loaded_per_op": (per_op("classes"), "count"),
            "jvm.gc_s_per_op": (per_op("gc_s"), "s"),
            "spark.jobs_per_op": (per_op("jobs"), "count"),
            "spark.tasks_per_op": (per_op("tasks"), "count"),
            "spark.executor_run_s_per_op": (per_op("run_s"), "s"),
            "spark.core_busy_frac": (per_op("run_s") * n / busy_s / ctx["effective_cores"],
                                     "frac"),
            "spark.shuffle_write_mb_per_op": (per_op("shuffle_write_b", 2**20), "MB"),
            "spark.shuffle_read_mb_per_op": (per_op("shuffle_read_b", 2**20), "MB"),
            "spark.spill_mb_per_op": (per_op("spill_b", 2**20), "MB"),
            "transfer.s_per_op": (per_op("transfer_s"), "s"),
            "transfer.rows_per_op": (per_op("rows"), "count"),
            "sources.index_write_s_per_op": (per_op("write_s"), "s"),
            "sources.index_write_mb_per_op": (per_op("write_mb"), "MB"),
            "sources.files_written_per_op": (per_op("files"), "count"),
            "pipeline.probe_s_per_op": (per_op("probe_s"), "s"),
            "proc.peak_rss_mb": (peak_mb, "MB"),
            "host.ext_cpu_s": (host["ext_cpu_s"], "s"),
            "host.iowait_s": (host["iowait_s"], "s"),
            "trace.ops_per_s": (n / busy_s, "1/s"),
        }
    failed = sum(not r["ok"] for r in recs)
    print(json.dumps({"perfbench": ctx}))
    print(json.dumps({"correct": not warm_bad and failed == 0, "attempted": n, "failed": failed,
                      "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
