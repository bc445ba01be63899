"""Pins for bench.py's section instrumentation."""

from __future__ import annotations

import importlib.util
import io
import os
import types

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _load_bench(monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_BENCH_IDLE_WAIT", "0")
    spec = importlib.util.spec_from_file_location(
        "bench_under_test", os.path.join(ROOT, "bench.py"))
    bench = importlib.util.module_from_spec(spec)
    return spec, bench


def test_first_section_iowait_counts_from_bench_start(monkeypatch):
    """The first section's iowait_s is a delta from the snapshot taken at
    import, not the machine's iowait since boot."""
    real_open = open

    def fake_open(path, *args, **kwargs):
        if path == "/proc/stat":
            # user nice system idle iowait ...: 4200 ticks of iowait
            return io.StringIO("cpu  100 0 50 1000 4200 0 0 0 0 0\n")
        return real_open(path, *args, **kwargs)

    spec, bench = _load_bench(monkeypatch)
    bench.open = fake_open  # module globals shadow the builtin
    spec.loader.exec_module(bench)
    bench._section_end("setup_warm")
    assert bench._SECTIONS["setup_warm"]["iowait_s"] == 0.0


def test_run_context_records_effective_cores_and_heap(monkeypatch):
    """The artifact states the local[N] Spark ran on and its heap, next
    to the host's CPU count."""
    spec, bench = _load_bench(monkeypatch)
    spec.loader.exec_module(bench)
    conf = {"spark.driver.memory": "5g"}
    sc = types.SimpleNamespace(defaultParallelism=3, getConf=lambda: conf)
    ctx = bench.run_context(types.SimpleNamespace(sparkContext=sc))
    assert ctx == {"ncpus": os.cpu_count(), "spark_cores": 3, "heap": "5g"}
