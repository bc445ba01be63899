"""Session defaults come from the machine unless the environment says
otherwise. Loads a private copy of session.py, so no Spark starts."""

from __future__ import annotations

import importlib.util
import io
import os

import pytest

PATH = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                    "rust_query_engine_greatest_spark", "session.py")


def _load_session():
    spec = importlib.util.spec_from_file_location("session_under_test", PATH)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_cpus_default_to_usable_cores(monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    assert _load_session().DEFAULT_CPUS == len(os.sched_getaffinity(0))
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "3")
    assert _load_session().DEFAULT_CPUS == 3


@pytest.mark.parametrize("total_kb, heap", [
    (16_479_424, "5g"),       # 15.7 GiB box
    (2 * 2**20, "1g"),        # never below 1g
    (512 * 2**20, "28g"),     # never above 28g (compressed oops)
])
def test_driver_mem_is_a_third_of_ram(total_kb, heap):
    session = _load_session()
    session.open = lambda path: io.StringIO(f"MemTotal:   {total_kb} kB\nMemFree: 1 kB\n")
    assert session.default_driver_mem() == heap
