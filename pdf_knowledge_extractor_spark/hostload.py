"""Host-load census for benchmark artifacts (VERDICT r5 item 2).

Single-host benchmark numbers on this box swing ±40% with neighbor
load (measured ~6% steal; BENCH/attrib_regression_r5.json), and the
round-5 driver bench was demonstrably taken on a loaded host — which
was only adjudicable by cross-referencing a machine-idle precheck.
Every bench artifact therefore stamps each row with:

- ``foreign_compute_procs``: command lines of OTHER heavy compute
  processes (Spark JVMs, pytest, duckdb, bench tools) running on the
  host at measurement time, excluding this process's own tree — the
  field that PROVES a row clean (empty list) or self-documents
  contamination. Each entry is prefixed with its instantaneous CPU
  share (``[cpu N%]``, sampled over 250 ms) so a keyword
  false-positive — e.g. an idle shell whose command line merely
  NAMES a bench log file — self-adjudicates at 0% instead of
  requiring a cross-referenced rerun;
- ``load1``: 1-minute loadavg — the coarse corroborating signal (on a
  32-cpu box a clean bench itself pushes load1 well above 1, so only
  foreign_compute_procs attributes WHOSE load it is).
"""

from __future__ import annotations

import os
import time


def foreign_compute_procs(sample_s: float = 0.25) -> list[str]:
    """Names of OTHER heavy compute processes on this host right now.

    Walks /proc, takes the transitive descendants of this process
    (executor JVMs AND their python workers) plus its ancestor chain
    (the launcher names this script too — membership only, never
    expanded: expanding ancestors would swallow the whole host once
    the chain reaches PID 1), and reports every OTHER process whose
    command line looks like compute, prefixed with its CPU share
    over a ``sample_s``-second window (utime+stime delta from
    /proc/<pid>/stat against wall·HZ). The keyword match is
    deliberately broad — a command line that merely REFERENCES a
    bench artifact (``tail bench_x.err.log``) hits it — so the CPU
    figure is what separates real contamination from an idle
    bystander."""
    me = os.getpid()
    ppid_of, cmd_of = {}, {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid_of[int(d)] = int(f.read().split(")")[-1].split()[1])
            with open(f"/proc/{d}/cmdline", "rb") as f:
                cmd_of[int(d)] = (
                    f.read().replace(b"\0", b" ").decode(errors="replace")
                )
        except OSError:
            continue
    related = {me}
    grew = True
    while grew:
        grew = False
        for pid, pp in ppid_of.items():
            if pp in related and pid not in related:
                related.add(pid)
                grew = True
    pid = me
    while pid in ppid_of and pid > 1:
        pid = ppid_of[pid]
        related.add(pid)
    suspects = {}
    for pid, cmd in cmd_of.items():
        if pid in related:
            continue
        low = cmd.lower()
        if any(k in low for k in ("pyspark", "pytest", "org.apache.spark",
                                  "bench_", "duckdb")):
            suspects[pid] = cmd.strip()[:120]
    if not suspects:
        return []

    def _cputicks(pid: int) -> int | None:
        try:
            with open(f"/proc/{pid}/stat") as f:
                parts = f.read().split(")")[-1].split()
            return int(parts[11]) + int(parts[12])   # utime + stime
        except (OSError, IndexError, ValueError):
            return None

    t_mono0 = time.monotonic()
    t0 = {pid: _cputicks(pid) for pid in suspects}
    time.sleep(sample_s)
    # ADVICE r6: sysconf can return -1 for a defined-but-unavailable
    # name, and `-1 or 100` is truthy -1 (negative percentages) —
    # guard on positivity; and divide by the MEASURED elapsed wall
    # (sleep overshoot + per-pid stat reads exceed sample_s, which
    # systematically overstated the shares)
    hz = os.sysconf("SC_CLK_TCK")
    hz = hz if isinstance(hz, int) and hz > 0 else 100
    hits = []
    for pid, cmd in suspects.items():
        t1 = _cputicks(pid)
        if t0[pid] is None or t1 is None:   # exited mid-sample
            hits.append(f"[cpu ?%] {cmd}")
            continue
        elapsed = max(time.monotonic() - t_mono0, 1e-6)
        pct = 100.0 * (t1 - t0[pid]) / (elapsed * hz)
        hits.append(f"[cpu {pct:.0f}%] {cmd}")
    return sorted(hits)


def load_snapshot() -> dict:
    """One host-load stamp: loadavg + the foreign-process census."""
    try:
        l1, l5, l15 = os.getloadavg()
    except OSError:  # pragma: no cover
        l1 = l5 = l15 = -1.0
    return {
        "load1": round(l1, 2),
        "load5": round(l5, 2),
        "foreign_compute_procs": foreign_compute_procs(),
    }
