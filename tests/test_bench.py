"""Pins for the bench harness: bench.py, its instrument module and the
verify_all bench gate."""

from __future__ import annotations

import importlib.util
import io
import os
import sys
import types

from rust_query_engine_greatest_spark import instrument, session

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# the JSON line's top-level keys when every section reports
BENCH_KEYS = {
    "metric", "value", "unit", "queries", "sf", "layout", "compact_s", "ts",
    "ncpus", "spark_cores", "heap", "local_dir", "spark_version", "class_sharing",
    "load_start", "load_end", "idle_gate_waited_s", "sections",
    "section_gate_waited_s", "section_retries", "wall_s",
    "queries_mem", "mem_total_best", "queries_pipeline",
    "pipeline_total_best", "queries_index_build",
}


def _load(relpath: str):
    spec = importlib.util.spec_from_file_location(
        "under_test_" + os.path.basename(relpath)[:-3],
        os.path.join(ROOT, relpath))
    module = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(module)
    return module


def _fake_proc_stat(monkeypatch, line):
    """Serve `line()` as /proc/stat to the instrument module."""
    real_open = open

    def fake_open(path, *args, **kwargs):
        if path == "/proc/stat":
            return io.StringIO(line())
        return real_open(path, *args, **kwargs)

    # module globals shadow the builtin
    monkeypatch.setattr(instrument, "open", fake_open, raising=False)


def _fake_spark(conf):
    sc = types.SimpleNamespace(defaultParallelism=3, getConf=lambda: conf)
    return types.SimpleNamespace(sparkContext=sc, version="4.1.2")


def test_first_section_iowait_counts_from_bench_start(monkeypatch):
    """The first section's iowait_s is a delta from the tracker's
    creation, not the machine's iowait since boot."""
    # user nice system idle iowait ...: 4200 ticks of iowait
    _fake_proc_stat(monkeypatch, lambda: "cpu  100 0 50 1000 4200 0 0 0 0 0\n")
    tracker = instrument.SectionTracker()
    tracker.end("setup_warm")
    assert tracker.sections["setup_warm"]["iowait_s"] == 0.0


def test_gate_wait_is_not_charged_to_the_section(monkeypatch):
    """External CPU burnt while the pre-section gate waits for a quiet
    box belongs to no section: the timed section's ext_cpu_s is 0, so
    the wait cannot trip the contended test and force a retry."""
    hz = os.sysconf("SC_CLK_TCK")
    clock = {"t": 0.0, "ticks": 0}

    def sleep(s):
        clock["t"] += s
        if clock["t"] < 20.0:  # three outside cores busy for 20 s
            clock["ticks"] += int(3 * hz * s)

    _fake_proc_stat(
        monkeypatch, lambda: f"cpu  {100 + clock['ticks']} 0 50 1000 0 0 0 0 0 0\n")
    monkeypatch.setattr(instrument, "time", types.SimpleNamespace(
        time=lambda: clock["t"], sleep=sleep))
    bench = _load("bench.py")
    harness = bench.Harness(0.0)
    harness.run_section("tpch", lambda deadline, retry: None, 0.0, 120.0)
    assert harness.gate_waits["tpch"] >= 20.0
    assert harness.tracker.sections["tpch"]["ext_cpu_s"] == 0.0
    assert harness.retries == {}


def test_failed_retry_never_overwrites_a_good_sample():
    """A pass that fails after a good one (a contended section's retry,
    say) keeps the good minimum; an entry that never ran records -1."""
    bench = _load("bench.py")

    def ok(spark, sf_dir):
        return types.SimpleNamespace(collect=lambda: None)

    def boom(spark, sf_dir):
        raise RuntimeError("lost executor")

    times: dict[str, float] = {}
    bench._timed_passes(None, [("q1", ok)], times, 1, 0.0)
    bench._timed_passes(None, [("q1", boom), ("q2", boom)], times, 1, 0.0)
    assert times["q1"] >= 0.0 and times["q2"] == -1.0


def test_run_context_records_effective_cores_and_heap(monkeypatch):
    """The artifact states the local[N] Spark ran on, its heap, the
    effective scratch dir (SPARK_LOCAL_DIRS wins over spark.local.dir,
    as in Spark), the Spark version and the driver JVM's class-sharing
    archive and whether it was mapped, next to the host's CPU count."""
    conf = {"spark.driver.memory": "5g", "spark.local.dir": "/dev/shm/x"}
    monkeypatch.delenv("SPARK_LOCAL_DIRS", raising=False)
    monkeypatch.setattr(session, "CLASS_SHARING", {"archive": None, "mapped": False})
    ctx = instrument.run_context(_fake_spark(conf))
    assert ctx == {"ncpus": os.cpu_count(), "spark_cores": 3, "heap": "5g",
                   "local_dir": "/dev/shm/x", "spark_version": "4.1.2",
                   "class_sharing": {"archive": None, "mapped": False}}
    monkeypatch.setenv("SPARK_LOCAL_DIRS", "/tmp/spark-local")
    monkeypatch.setattr(session, "CLASS_SHARING", {"archive": "a.jsa", "mapped": True})
    ctx = instrument.run_context(_fake_spark(conf))
    assert ctx["local_dir"] == "/tmp/spark-local"
    assert ctx["class_sharing"] == {"archive": "a.jsa", "mapped": True}


def test_bench_json_keys_are_stable():
    """The driver reads bench.py's JSON line: its top-level keys stay
    those of earlier rounds plus local_dir, spark_version and
    class_sharing."""
    bench = _load("bench.py")
    conf = {"spark.driver.memory": "5g"}
    record = bench.Harness(0.0).record(instrument.run_context(_fake_spark(conf)))
    setup = {"sf": "0.1", "layout": "compacted+stats", "compact_s": 1.0}
    out = bench.bench_result({"q1": 0.5}, setup, record, {"dedup_exact": 1.0},
                             {"q1": 0.2}, {"dedup_minhash_index_build": 2.0})
    assert set(out) == BENCH_KEYS
    assert out["value"] == 0.5 and out["pipeline_total_best"] == 1.0
    out = bench.bench_result({"q1": 0.5}, setup, record, {}, {}, {})
    assert set(out) == BENCH_KEYS - {
        "queries_mem", "mem_total_best", "queries_pipeline",
        "pipeline_total_best", "queries_index_build"}


def test_verify_all_bench_gate_fails_on_any_failed_entry():
    """A -1 in any queries* map (here the mem section's) fails the gate."""
    verify_all = _load("tools/verify_all.py")
    line = '{"queries": {"q1": 0.5}, "queries_mem": {"q1": -1.0}}'
    ok, _, detail = verify_all.run_gate(
        "bench", [sys.executable, "-c", f"print({line!r})"], check_json=True)
    assert not ok and "q1" in detail
