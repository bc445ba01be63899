"""Result checks: an order-insensitive digest of a collected result, and
the DuckDB oracle digests of the registry entries.

The digest sorts the rendered rows, so it ignores row order, and renders
cells the way tools/driver_emulator.py does: DuckDB decimals become
floats, floats keep every digit, timestamps drop their zone.
"""

from __future__ import annotations

import datetime
import decimal
import hashlib
import json
import math
import os


def _cell(v, oracle: bool) -> str:
    if v is None:
        return "NULL"
    if isinstance(v, decimal.Decimal):
        if not oracle:
            return str(v)
        v = float(v)
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else repr(v)
    if isinstance(v, datetime.datetime):
        return v.replace(tzinfo=None).isoformat()
    if isinstance(v, bool):
        return str(int(v))
    return str(v)


def _column(values: tuple, oracle: bool) -> list[str]:
    kinds = set(map(type, values))
    if kinds <= {int, str}:
        return list(map(str, values))
    if kinds == {float}:
        return [repr(v) if v == v else "NaN" for v in values]
    return [_cell(v, oracle) for v in values]


def digest(cols: list[str], rows, oracle: bool = False) -> str:
    """sha256 prefix over the sorted rows, columns taken in name order."""
    order = sorted(range(len(cols)), key=lambda i: cols[i].lower())
    columns = list(zip(*rows)) or [()] * len(cols)
    lines = sorted(map("|".join, zip(*(_column(columns[i], oracle) for i in order))))
    return hashlib.sha256("".join(ln + "\n" for ln in lines).encode()).hexdigest()[:16]


def oracle_digests(data_dir: str, entries: dict[str, str], cache: str) -> dict[str, list]:
    """{name: [rows, digest]} of each registry entry's DuckDB oracle SQL
    over the raw tables in `data_dir`. The oracle is deterministic for
    fixed inputs, so results are cached in `cache`, keyed by the SQL."""
    import duckdb

    from rust_query_engine_greatest_spark.sources.catalog import TABLES

    known: dict[str, list] = {}
    if os.path.exists(cache):
        with open(cache) as f:
            known = json.load(f)
    key = {n: hashlib.sha256(sql.encode()).hexdigest()[:16] for n, sql in entries.items()}
    todo = [n for n in entries if known.get(n, [None])[0] != key[n]]
    if todo:
        con = duckdb.connect(config={"threads": 1})
        try:
            for t in TABLES:
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                            f"read_parquet('{data_dir}/{t}.parquet')")
            for n in todo:
                rel = con.sql(entries[n])
                rows = rel.fetchall()
                known[n] = [key[n], len(rows), digest(rel.columns, rows, oracle=True)]
        finally:
            con.close()
        tmp = cache + ".tmp"
        with open(tmp, "w") as f:
            json.dump(known, f, indent=1, sort_keys=True)
        os.replace(tmp, cache)
    return {n: known[n][1:] for n in entries}
