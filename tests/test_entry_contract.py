"""Driver-contract pins for __spark_entry__.py.

The driver checks a bounded prefix of queries() per round, so the
ordering IS the budget allocation. Rounds 3 and 4 both lost ~95% of
their slots to a hand-maintained ordering going stale (VERDICT r3/r4);
the ordering is now computed from the driver's own CORRECTNESS_r*.json
rows at import time, and these tests pin that contract against the
real files in the repo root.
"""

from __future__ import annotations

import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

import __spark_entry__ as entry  # noqa: E402
from rust_query_engine_greatest_spark.queries import REGISTRY  # noqa: E402


def test_ordering_is_a_permutation_of_the_registry():
    names = entry._ordered_names()
    assert sorted(names) == sorted(REGISTRY)
    assert len(names) == len(set(names))


def test_oracles_are_a_subset_of_queries():
    q = entry.queries()
    o = entry.oracle_sql()
    assert set(o) <= set(q)
    # every oracle is a non-empty SQL string
    assert all(isinstance(s, str) and s.strip() for s in o.values())


def test_dynamic_ordering_prioritizes_driver_signal():
    rows = entry._driver_rows()
    if not rows:  # fresh checkout: nothing to assert beyond fallback
        return
    names = entry._ordered_names()
    pos = {n: i for i, n in enumerate(names)}
    redo = {n for n in REGISTRY if n in rows and not rows[n][1]
            and not (rows[n][2] == "no_oracle"
                     and not getattr(REGISTRY[n], "oracle", None))}
    never = {n for n in REGISTRY if n not in rows}
    done = set(REGISTRY) - redo - never
    # every previously-non-green entry precedes every never-checked
    # entry, which precedes every green entry
    if redo and never:
        assert max(pos[n] for n in redo) < min(pos[n] for n in never)
    if never and done:
        assert max(pos[n] for n in never) < min(pos[n] for n in done)
    # greens rotate stalest-first so old rows get re-verified
    done_order = [n for n in names if n in done]
    rounds = [rows[n][0] for n in done_order]
    assert rounds == sorted(rounds)


def test_fallback_ordering_without_correctness_files(monkeypatch):
    monkeypatch.setattr(entry, "_driver_rows", lambda: {})
    names = entry._ordered_names()
    assert sorted(names) == sorted(REGISTRY)


def test_latest_round_wins(monkeypatch):
    # an entry red in r1 but green in r2 is green; the reverse is redo
    fake = {
        "a_fixed": (2, True, None),
        "b_broke": (2, False, "boom"),
        "c_no_oracle": (1, False, "no_oracle"),
    }
    monkeypatch.setattr(entry, "_driver_rows", lambda: fake)
    monkeypatch.setattr(entry, "REGISTRY",
                        {k: None for k in ("a_fixed", "b_broke",
                                           "c_no_oracle", "d_new")})
    names = entry._ordered_names()
    assert names[0] == "b_broke"          # non-green latest row first
    assert names[1] == "d_new"            # never-checked next
    assert set(names[2:]) == {"a_fixed", "c_no_oracle"}  # greens last
    assert names[2] == "c_no_oracle"      # stalest green first


# ---- driver-hash-hazard schema guard --------------------------------------
# The real driver hashes Spark rows raw: list/dict/bytearray cells are
# unhashable (CORRECTNESS_r04, 8 err rows) and Decimal cells normalize
# asymmetrically vs the DuckDB oracle fetch (CORRECTNESS_r06 tpch_q1:
# hash-red with bit-identical values). Every driver-checked output
# schema must therefore avoid these types entirely.
_HASH_HAZARD_TYPES = ("ArrayType", "MapType", "BinaryType", "StructType",
                      "DecimalType")


def test_no_hash_hazard_types_in_driver_checked_schemas(spark, sf_dir):
    bad = []
    for name, q in sorted(REGISTRY.items()):
        try:
            schema = q.build(spark, sf_dir).schema
        except Exception as e:  # noqa: BLE001 — build failures surface elsewhere
            bad.append(f"{name}: build error {e}")
            continue
        for f in schema.fields:
            tn = type(f.dataType).__name__
            if tn in _HASH_HAZARD_TYPES:
                bad.append(f"{name}.{f.name}: {tn}")
    assert not bad, "driver-hash-hazard output columns:\n" + "\n".join(bad)


def test_emulator_norm_is_driver_asymmetric_on_decimal():
    """The emulator must reproduce the driver's Decimal asymmetry
    (oracle decimals→float, Spark decimals raw) so emulator-green
    implies driver-green — the r6 tpch_q1 regression was invisible to
    an emulator that coerced both sides."""
    import decimal

    sys.path.insert(0, os.path.join(ROOT, "tools"))
    from driver_emulator import norm_cell, value_hash

    d = decimal.Decimal("3.50")
    assert norm_cell(d, side="oracle") == norm_cell(3.5, side="oracle")
    assert norm_cell(d, side="spark") != norm_cell(3.5, side="spark")
    # and the composite hash diverges for a decimal-output spark result
    assert (value_hash(["x"], [(d,)], side="spark")
            != value_hash(["x"], [(d,)], side="oracle"))


def test_no_checkout_root_literal_in_code():
    """Tests, tools and the package locate the checkout from `__file__`:
    a copy of the repo that hard-codes the original root imports and
    tests the original's code (and writes into its tree), not its own."""
    hits = []
    for sub in ("tests", "tools", "rust_query_engine_greatest_spark"):
        for dirpath, _, files in os.walk(os.path.join(ROOT, sub)):
            for fn in files:
                if not fn.endswith(".py"):
                    continue
                path = os.path.join(dirpath, fn)
                with open(path, encoding="utf-8") as f:
                    for i, line in enumerate(f, 1):
                        if ROOT in line:
                            hits.append(f"{os.path.relpath(path, ROOT)}:{i}")
    assert not hits, "checkout root hard-coded at:\n" + "\n".join(hits)
