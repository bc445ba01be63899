"""Deterministic sf0.1 input tables for the benchmark.

The benchmark may read nothing outside its checkout, so it writes its own
copy of the engine's input layout: the TPC-H-ish star schema, `events`,
`documents` and `embeddings`, with the same parquet types, row counts and
value domains as the sf0.1 TESTDATA tables (TESTDATA.md; one row group per table,
SNAPPY). Every registry query then selects a non-empty result, and the
DuckDB oracle checks it on exactly these files.

The tables depend only on DATA_SEED, never on the run's `--seed`: the
committed digests of the library pipeline ops are digests of results over
these bytes. The run's seed picks the op order and the ingest slice.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DATA_SEED = 42
N_CUSTOMER, N_SUPPLIER, N_PART = 15_000, 1_000, 20_000
N_ORDERS, N_LINEITEM = 150_000, 600_000
N_EVENTS, N_DOCS, N_VECS, DIM = 100_000, 5_000, 2_000, 64
# documents: 5% carry a copy of another document plus " dup" (the
# near-duplicates the dedup ops look for), a few more are exact copies
N_NEAR_DUPS, N_EXACT_DUPS = 250, 8

WORDS = ("a agg batch big column customer data fast filter group hash join key "
         "line merge order part query row scan slow small sort spark stream "
         "table the value vector window").split()
ADJECTIVES = "blue cold hot large new old red small".split()
NOUNS = "anvil bolt gear gizmo plate ring rod widget".split()


def _days(rng, n, start, span_days):
    base = np.datetime64(start, "us")
    return base + rng.integers(0, span_days, n).astype("timedelta64[D]").astype("timedelta64[us]")


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(rng, values, n, p=None):
    return np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)]


def tables() -> dict[str, pa.Table]:
    rng = np.random.default_rng(DATA_SEED)
    i32 = lambda a: pa.array(a, pa.int32())  # noqa: E731
    out: dict[str, pa.Table] = {}
    out["region"] = pa.table({
        "r_regionkey": i32(range(5)),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    out["nation"] = pa.table({
        "n_nationkey": i32(range(25)),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": i32([i % 5 for i in range(25)])})
    out["customer"] = pa.table({
        "c_custkey": np.arange(N_CUSTOMER, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(N_CUSTOMER)],
        "c_nationkey": i32(rng.integers(0, 25, N_CUSTOMER)),
        "c_acctbal": _money(rng, -999.99, 9999.99, N_CUSTOMER),
        "c_mktsegment": _pick(rng, ["AUTOMOBILE", "BUILDING", "FURNITURE",
                                    "HOUSEHOLD", "MACHINERY"], N_CUSTOMER)})
    out["supplier"] = pa.table({
        "s_suppkey": np.arange(N_SUPPLIER, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(N_SUPPLIER)],
        "s_nationkey": i32(rng.integers(0, 25, N_SUPPLIER)),
        "s_acctbal": _money(rng, -999.99, 9999.99, N_SUPPLIER)})
    pk = np.arange(N_PART, dtype=np.int64)
    out["part"] = pa.table({
        "p_partkey": pk,
        "p_name": [f"{ADJECTIVES[a]} {NOUNS[b]}" for a, b in
                   zip(rng.integers(0, 8, N_PART), rng.integers(0, 8, N_PART))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, N_PART)],
        "p_type": _pick(rng, ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL",
                              "STANDARD"], N_PART),
        "p_size": i32(rng.integers(1, 51, N_PART)),
        "p_retailprice": np.round(900 + (pk % 1000) / 10, 2)})
    out["orders"] = pa.table({
        "o_orderkey": np.arange(N_ORDERS, dtype=np.int64),
        "o_custkey": rng.integers(0, N_CUSTOMER, N_ORDERS),
        "o_orderstatus": _pick(rng, ["F", "O", "P"], N_ORDERS),
        "o_totalprice": _money(rng, 1000, 500000, N_ORDERS),
        "o_orderdate": _days(rng, N_ORDERS, "1995-01-01", 2405),
        "o_orderpriority": _pick(rng, ["1-URGENT", "2-HIGH", "3-MEDIUM",
                                       "4-NOT SPECIFIED", "5-LOW"], N_ORDERS)})
    n = N_LINEITEM
    out["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, N_ORDERS, n),
        "l_partkey": rng.integers(0, N_PART, n),
        "l_suppkey": rng.integers(0, N_SUPPLIER, n),
        "l_linenumber": i32(rng.integers(1, 8, n)),
        "l_quantity": rng.integers(1, 51, n).astype(np.float64),
        "l_extendedprice": _money(rng, 900, 105000, n),
        "l_discount": _money(rng, 0, 0.1, n),
        "l_tax": _money(rng, 0, 0.08, n),
        "l_returnflag": _pick(rng, ["A", "N", "R"], n),
        "l_linestatus": _pick(rng, ["F", "O"], n),
        "l_shipdate": _days(rng, n, "1995-01-02", 2499)})
    ts = np.sort(rng.integers(0, 30 * 86400 * 10**6, N_EVENTS))
    out["events"] = pa.table({
        "event_id": np.arange(N_EVENTS, dtype=np.int64),
        "ts": pa.array(np.datetime64("2024-01-01", "us") + ts.astype("timedelta64[us]"),
                       pa.timestamp("us")),
        "user_id": rng.integers(0, 1500, N_EVENTS),
        "event_type": _pick(rng, ["click", "error", "purchase", "signup", "view"],
                            N_EVENTS),
        "value": np.round(rng.exponential(50.0, N_EVENTS), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, N_EVENTS)]})
    texts = [" ".join(_pick(rng, WORDS, k)) for k in rng.integers(10, 101, N_DOCS)]
    copies = rng.choice(N_DOCS, N_NEAR_DUPS + N_EXACT_DUPS, replace=False)
    for j, d in enumerate(copies):
        src = texts[(int(d) + 1 + int(rng.integers(0, N_DOCS - 1))) % N_DOCS]
        texts[d] = src + " dup" if j < N_NEAR_DUPS else src
    out["documents"] = pa.table({
        "doc_id": np.arange(N_DOCS, dtype=np.int64),
        "text": texts,
        "lang": _pick(rng, ["en", "de", "es", "fr", "zh"], N_DOCS,
                      p=[0.4, 0.15, 0.15, 0.15, 0.15]),
        "source": [f"src{i % 20}" for i in range(N_DOCS)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64)})
    vecs = rng.standard_normal((N_VECS, DIM))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    out["embeddings"] = pa.table({
        "vec_id": np.arange(N_VECS, dtype=np.int64),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": i32(rng.integers(0, 10, N_VECS))})
    return out


def write(dest: str) -> None:
    """Write every table to `dest/<name>.parquet` as one row group; a
    `_DONE` marker makes a later call with the same `dest` a no-op."""
    if os.path.exists(os.path.join(dest, "_DONE")):
        return
    os.makedirs(dest, exist_ok=True)
    for name, table in tables().items():
        pq.write_table(table, os.path.join(dest, f"{name}.parquet"),
                       row_group_size=table.num_rows, compression="snappy")
    with open(os.path.join(dest, "_DONE"), "w") as f:
        f.write(dt.datetime.now(dt.timezone.utc).isoformat())
