"""The bar, as one command (VERDICT r8 #8): every gate a round must
pass, run in sequence with a single summary and exit code.

    python tools/verify_all.py [--sf-dir /root/testdata/sf0.01]
                               [--skip emulator,bench,pytest]
                               [--full]

Gates (in order):
  emulator  — tools/driver_emulator.py at --sf-dir: entry() smoke +
              every queries() entry hash-compared against its
              oracle_sql() in DuckDB (the driver's CORRECTNESS gate).
  bench     — bench.py smoke at sf0.01 (1 iter, mem pass off): the
              JSON line must emit, parse, and contain no failed (-1)
              queries. --full runs the real sf0.1 protocol instead.
  pytest    — OFF by default (10-12 min on 4 cores); --full adds the whole suite.

Exit 0 iff every gate passed. Each gate's stdout/stderr tails are
echoed on failure so the one command is also the diagnosis entry
point.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def run_gate(name: str, cmd: list[str], env: dict | None = None,
             check_json: bool = False) -> tuple[bool, float, str]:
    t0 = time.time()
    e = dict(os.environ)
    if env:
        e.update(env)
    proc = subprocess.run(cmd, cwd=REPO, env=e, capture_output=True,
                          text=True)
    dt = time.time() - t0
    ok = proc.returncode == 0
    detail = ""
    if ok and check_json:
        line = next((ln for ln in proc.stdout.splitlines()
                     if ln.startswith("{")), "")
        try:
            out = json.loads(line)
            bad = [k for k, v in out.get("queries", {}).items() if v == -1.0]
            bad += [k for k, v in out.get("queries_pipeline", {}).items()
                    if v == -1.0]
            if bad:
                ok, detail = False, f"failed queries: {bad}"
        except (ValueError, StopIteration):
            ok, detail = False, "no parseable JSON line on stdout"
    if not ok:
        tail = "\n".join((proc.stdout + "\n" + proc.stderr)
                         .strip().splitlines()[-25:])
        print(f"\n--- {name} FAILED (exit {proc.returncode}) {detail}\n"
              f"{tail}\n---", file=sys.stderr)
    return ok, dt, detail


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.01")
    ap.add_argument("--skip", default="",
                    help="comma list of gates to skip")
    ap.add_argument("--full", action="store_true",
                    help="bench at the driver's real sf0.1 protocol and "
                         "add the full pytest suite")
    args = ap.parse_args()
    skip = {s.strip() for s in args.skip.split(",") if s.strip()}

    gates: list[tuple[str, list[str], dict | None, bool]] = []
    if "emulator" not in skip:
        gates.append(("emulator",
                      [sys.executable, "tools/driver_emulator.py",
                       args.sf_dir], None, False))
    if "bench" not in skip:
        env = ({} if args.full else
               {"SPARK_GRAFT_SF_DIR": args.sf_dir,
                "SPARK_GRAFT_BENCH_ITERS": "1",
                "SPARK_GRAFT_BENCH_MEM": "0",
                "SPARK_GRAFT_BENCH_IDLE_WAIT": "0"})
        gates.append(("bench", [sys.executable, "bench.py"], env, True))
    if args.full and "pytest" not in skip:
        gates.append(("pytest",
                      [sys.executable, "-m", "pytest", "tests/", "-q", "-x"],
                      None, False))

    results: dict[str, tuple[bool, float]] = {}
    for name, cmd, env, check_json in gates:
        print(f"[verify_all] {name}: {' '.join(cmd)}", flush=True)
        ok, dt, _ = run_gate(name, cmd, env, check_json)
        results[name] = (ok, dt)
        print(f"[verify_all] {name}: {'PASS' if ok else 'FAIL'} "
              f"({dt:.0f}s)", flush=True)

    print("\n=== verify_all summary ===")
    for name, (ok, dt) in results.items():
        print(f"  {name:10s} {'PASS' if ok else 'FAIL':4s} {dt:7.0f}s")
    all_ok = all(ok for ok, _ in results.values())
    print(f"  overall    {'PASS' if all_ok else 'FAIL'}")
    return 0 if all_ok else 1


if __name__ == "__main__":
    sys.exit(main())
