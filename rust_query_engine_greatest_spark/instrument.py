"""Per-section wall / own-CPU / external-CPU / iowait attribution and
contention gates for the benchmark harnesses (bench.py,
tools/tpch_sf1.py).

Why: a timing taken while the box was busy reads as an engine
regression (VERDICT r8 'what's wrong' #1: r8 re-records sat 7-24% above
r7 at byte-identical plans). Per-section deltas of three counters settle
it in-artifact:

  own_cpu_s = CPU consumed by THIS process tree during the section
  ext_cpu_s = machine-wide busy CPU minus own — ≈ 0 means the section
              ran on an otherwise idle machine (idle-attributable),
              regardless of what loadavg says (loadavg mid-run is
              dominated by our own executors).
  iowait_s  = machine iowait over the section — the disk-stall mode
              (uniform 15-25% inflation with ext_cpu 0.0) is otherwise
              invisible to the CPU counters.

Linux /proc only; degrades to zeros anywhere it can't read.
"""

from __future__ import annotations

import os
import sys
import time

from . import session


def cpu_snapshot() -> tuple[float, float, float]:
    """(machine busy cpu-sec, this process tree cpu-sec, machine iowait
    sec) since boot.

    Tree CPU sums utime+stime of live descendants PLUS cutime+cstime
    (already-reaped children) so subprocesses that exit inside a
    section (duckdb, dbgen, compact) stay attributed to us instead of
    inflating ext_cpu_s. A reaped child's time moves from its own
    utime (counted while alive) to the parent's cutime (counted
    after), so section deltas never double-count."""
    try:
        hz = float(os.sysconf("SC_CLK_TCK"))
        with open("/proc/stat") as f:
            parts = f.readline().split()[1:]
        iowait = int(parts[4]) / hz
        busy = (sum(int(x) for x in parts)
                - int(parts[3]) - int(parts[4])) / hz  # − idle − iowait
        ppid_of: dict[int, int] = {}
        cpu_of: dict[int, float] = {}
        for pid in os.listdir("/proc"):
            if not pid.isdigit():
                continue
            try:
                with open(f"/proc/{pid}/stat") as f:
                    rest = f.read().rsplit(")", 1)[1].split()
                ppid_of[int(pid)] = int(rest[1])
                cpu_of[int(pid)] = (int(rest[11]) + int(rest[12])
                                    + int(rest[13]) + int(rest[14])) / hz
            except (OSError, IndexError, ValueError):
                continue
        me = os.getpid()
        own = 0.0
        for pid, cpu in cpu_of.items():
            p, hops = pid, 0
            while p > 1 and hops < 64:
                if p == me:
                    own += cpu
                    break
                p, hops = ppid_of.get(p, 1), hops + 1
        return busy, own, iowait
    except Exception:
        return 0.0, 0.0, 0.0


class SectionTracker:
    """Accumulates named sections; each `end(name)` closes the span
    since the previous boundary (or the last `restart()`). The first
    section counts from the tracker's creation, never from boot.
    `sections` is JSON-ready."""

    def __init__(self) -> None:
        self.sections: dict[str, dict] = {}
        self.restart()

    def restart(self) -> None:
        """Start the next section now: what ran since the last boundary
        (a gate's wait, untimed prep) is charged to no section."""
        self._mark = (time.time(), *cpu_snapshot())

    def end(self, name: str) -> dict:
        now, busy, own, iowait = time.time(), *cpu_snapshot()
        t0, busy0, own0, iowait0 = self._mark
        self.sections[name] = {
            "wall_s": round(now - t0, 1),
            "own_cpu_s": round(own - own0, 1),
            "ext_cpu_s": round(max(0.0, (busy - busy0) - (own - own0)), 1),
            "iowait_s": round(iowait - iowait0, 1),
            "load": [round(x, 2) for x in os.getloadavg()],
        }
        self._mark = (now, busy, own, iowait)
        return self.sections[name]

    def contended(self, name: str) -> bool:
        """The section's external CPU is more than noise: > 2 s + 10% of
        its wall clock (clean r8/r9 sections sit at 0.0–2; poisoned ones
        at 23–442)."""
        s = self.sections.get(name)
        return bool(s) and s["ext_cpu_s"] > 2.0 + 0.10 * s["wall_s"]


def idle_gate(threshold: float = 2.0, max_wait_s: float = 240.0) -> float:
    """Bounded wait for the 1-min loadavg to decay below `threshold`
    before starting a timed phase; returns seconds waited. A recording
    started while prior work drains is the contended number (r5: load
    4.02 at start, tpch 20.8 s vs 15.9 s idle at the same HEAD)."""
    t0 = time.time()
    waited = 0.0
    while os.getloadavg()[0] > threshold and time.time() - t0 < max_wait_s:
        print(f"idle-gate: load {os.getloadavg()[0]:.2f} > {threshold}, "
              "waiting", file=sys.stderr)
        time.sleep(5)
        waited = round(time.time() - t0, 1)
    return waited


def ext_cpu_rate() -> float:
    """External busy cores right now: Δ(machine busy − our tree) over a
    1 s sample window."""
    b0, o0, _ = cpu_snapshot()
    t0 = time.time()
    time.sleep(1.0)
    b1, o1, _ = cpu_snapshot()
    dt = max(time.time() - t0, 1e-3)
    return max(0.0, (b1 - b0) - (o1 - o0)) / dt


def regate(name: str) -> float:
    """Wait, at most 45 s, before a timed section until external CPU is
    at most 0.75 cores (loadavg can't tell: it carries our own
    executors); returns seconds waited."""
    t0 = time.time()
    while time.time() - t0 < 45.0:
        rate = ext_cpu_rate()
        if rate <= 0.75:
            break
        print(f"regate[{name}]: ext {rate:.1f} cores busy, waiting",
              file=sys.stderr)
        time.sleep(4)
    return round(time.time() - t0, 1)


def drain_writeback() -> None:
    """sync, then poll /proc/meminfo (at most 10 s) until Dirty+Writeback
    is 64 MB or less: a parquet write dirties the container disk, and the
    page-cache flush otherwise lands on the next timed work."""
    os.sync()
    t0 = time.time()
    while time.time() - t0 < 10.0:
        kb = 0
        with open("/proc/meminfo") as f:
            for line in f:
                if line.startswith(("Dirty:", "Writeback:")):
                    kb += int(line.split()[1])
        if kb <= 64 * 1024:
            return
        time.sleep(0.5)


def run_context(spark) -> dict:
    """How the timings ran: the host's CPU count, the cores Spark
    actually schedules on (local[N]), the driver heap, the effective
    scratch dir, the Spark version, and the class-sharing archive the
    driver JVM started with and whether it mapped it."""
    sc = spark.sparkContext
    conf = sc.getConf()
    return {"ncpus": os.cpu_count(),
            "spark_cores": sc.defaultParallelism,
            "heap": conf.get("spark.driver.memory"),
            # Spark reads SPARK_LOCAL_DIRS ahead of spark.local.dir; with
            # neither set it falls back to java.io.tmpdir, /tmp on Linux
            "local_dir": (os.environ.get("SPARK_LOCAL_DIRS")
                          or conf.get("spark.local.dir", "/tmp")),
            "spark_version": spark.version,
            "class_sharing": dict(session.CLASS_SHARING)}
