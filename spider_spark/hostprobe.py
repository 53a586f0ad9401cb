"""Host-condition probe shared by bench.py and the scaling harness.

The sandbox host's hypervisor interference comes and goes (identical
code has measured 149s and 313s headlines at 0.2% vs ~12% steal — see
BENCH.md host-noise forensics), so every wall-clock number we publish
carries the steal reading of its window.  Best-effort by design: a
container without /proc/stat, or a kernel exposing fewer than 8 cpu
fields (no ``steal`` column), reports -1.0 instead of aborting the
measurement run.
"""

from __future__ import annotations

import multiprocessing as mp
import time


def _burn(q):
    t = time.time() + 8
    x = 0
    while time.time() < t:
        x += 1
    q.put(x)


def _alu_spin(cpu, seconds, out):
    try:
        import os
        os.sched_setaffinity(0, {cpu})
    except OSError:
        pass
    end = time.perf_counter() + seconds
    x = 1
    ops = 0
    while time.perf_counter() < end:
        for _ in range(100_000):
            x = (x * 1103515245 + 12345) & 0x7FFFFFFF
        ops += 100_000
    out.put(ops / seconds)


def alu_probe(nproc: int = 4, seconds: float = 3.0) -> float:
    """Per-process integer-ALU Mops over ``nproc`` pinned spinners —
    the host clock-state classifier (scripts/cpu_control.py's N-side,
    shortened).  Calibrated on this box: fast windows read >=10
    Mops/proc (the recorded 62s driver bench), the 8.5-10 band is the
    bandwidth-ceiling regime, and the r4-class slow-clock state reads
    ~6 (crawl walls ~1.6x the fast-window figure at identical steal).
    -1.0 if the probe cannot run."""
    try:
        q = mp.Queue()
        ps = [mp.Process(target=_alu_spin, args=(c, seconds, q), daemon=True)
              for c in range(nproc)]
        [p.start() for p in ps]
        rates = [q.get(timeout=seconds + 30) for _ in ps]
        [p.join(timeout=5) for p in ps]
        return round(sum(rates) / len(rates) / 1e6, 2)
    except Exception:
        return -1.0


def steal_probe(nproc: int = 28) -> float:
    """%hypervisor steal during an 8s all-core spin; -1.0 if unknown."""
    def stat():
        return [int(v) for v in open("/proc/stat").readline().split()[1:]]
    try:
        s0 = stat()
        q = mp.Queue()
        ps = [mp.Process(target=_burn, args=(q,)) for _ in range(nproc)]
        [p.start() for p in ps]
        [p.join() for p in ps]
        s1 = stat()
        d = [b - a for a, b in zip(s0, s1)]
        if len(d) <= 7 or sum(d) == 0:
            return -1.0  # kernel exposes no steal field
        return round(100 * d[7] / sum(d), 2)
    except Exception:  # /proc not readable — probe is best-effort
        return -1.0
