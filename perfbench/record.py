"""Rewrite perfbench/expected.json from the engine at this commit.

    python3 perfbench/record.py

`digests` pins the results that have no DuckDB oracle: the library dedup
ops over the whole corpus and the ingest probes of every corpus slice.
Review the diff: a changed digest means the
engine's results changed.

`latency_s` holds each op's median latency over three runs of every
workload. It only normalises the op mix in run.py's drift check, so it
needs refreshing only when op latencies change by a large factor.
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import subprocess
import sys

import run

EXPECTED = os.path.join(run.HERE, "expected.json")


def _digests() -> dict[str, list]:
    sys.path.insert(1, run.ROOT)
    run_dir = os.path.join(run.WORK, f"record-{os.getpid()}")
    run.size_spark(run_dir)
    import check
    import datagen
    import probes
    import workloads
    from rust_query_engine_greatest_spark.pipeline import dedup

    datagen.write(run.DATA)
    spark = run.start_spark()
    proc = spark.sparkContext._gateway.proc
    out = {}
    try:
        workloads.WORKLOADS["pipeline"].layout(spark, run.DATA, probes.Spans())
        ops = [workloads.op(spark, run.DATA, name) for name in workloads.LIBRARY_OPS]
        ops += [workloads.ingest_op(spark, run.DATA, k, os.path.join(run_dir, "index"))
                for k in range(workloads.SLICES)]
        for op in ops:
            for step in op.steps:
                df = step.build()
                if step.write_to:
                    dedup.write_index(df, step.write_to)
                    continue
                rows = df.collect()
                out[step.label] = [len(rows), check.digest(df.columns, rows)]
                print(step.label, out[step.label], flush=True)
    finally:
        run.stop_spark(spark, proc)
        shutil.rmtree(run_dir, ignore_errors=True)
    return out


def _latencies() -> dict[str, float]:
    seen: dict[str, list[float]] = {}
    for workload in ("query", "pipeline"):
        for seed in (1, 2, 3):
            res = subprocess.run(
                [sys.executable, os.path.join(run.HERE, "run.py"), "--workload", workload,
                 "--seed", str(seed), "--seconds", "1"],
                check=True, capture_output=True, text=True, cwd=run.ROOT)
            ctx = json.loads(res.stdout.strip().splitlines()[-2])["perfbench"]
            for name, lat in ctx["ops"]:
                seen.setdefault(name, []).append(lat)
    return {n: round(statistics.median(v), 4) for n, v in sorted(seen.items())}


def _save(expected: dict) -> None:
    with open(EXPECTED, "w") as f:
        json.dump(expected, f, indent=1, sort_keys=True)
        f.write("\n")


def main() -> None:
    with open(EXPECTED) as f:
        expected = json.load(f)
    expected["digests"] = _digests()
    _save(expected)  # run.py checks results against these
    expected["latency_s"] = _latencies()
    _save(expected)


if __name__ == "__main__":
    main()
