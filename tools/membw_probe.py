"""Memory-bandwidth ceiling probe for the sandbox box.

The crawl's 2-vs-8-core scaling pair reads ~0.63 while per-phase CPU
sampling shows ~7.6 of 8 cores busy with CPU-seconds inflated ~2.3x vs
the 2-core run — the signature of memory-stall cycles,
not idle cores. This probe measures the machine's aggregate copy/triad
bandwidth at 1/2/4/8/16 pinned processes: if aggregate GB/s saturates
well below 8 cores, an N-vs-4N single-box pair under-reads the efficiency
a real cluster (4x memory channels at 4x executors) would show.

Each worker runs STREAM-style kernels over arrays far larger than LLC.
Usage: python tools/membw_probe.py
"""

from __future__ import annotations

import json
import multiprocessing as mp
import os
import time

N = 64_000_000  # 64M float64 = 512 MB per array, >> any LLC


def worker(cpu: int, q) -> None:
    os.sched_setaffinity(0, {cpu})
    import numpy as np

    a = np.ones(N // 4, dtype=np.float64)
    b = np.ones(N // 4, dtype=np.float64)
    c = np.empty(N // 4, dtype=np.float64)
    # triad: c = a + 2*b — 3 arrays touched, 24 bytes moved per element
    reps, t0 = 0, time.monotonic()
    while time.monotonic() - t0 < 5.0:
        np.add(a, b, out=c)
        c *= 2.0
        reps += 1
    dt = time.monotonic() - t0
    gb = reps * (N // 4) * 8 * 5 / 1e9  # ~5 array passes per rep
    q.put(gb / dt)


def _steal() -> int:
    with open("/proc/stat") as f:
        return int(f.readline().split()[8])


def run_level(n_procs: int) -> tuple[float, int]:
    q = mp.Queue()
    s0 = _steal()
    # pin targets come from the actual affinity mask (ADVICE r6 low: a cpu
    # id beyond the mask makes sched_setaffinity raise in the worker, and
    # a bare q.get() would then block forever). One worker per cpu: two
    # workers sharing a cpu would halve each one's rate and read as a
    # bandwidth ceiling.
    avail = sorted(os.sched_getaffinity(0))
    if n_procs > len(avail):
        raise ValueError(f"{n_procs} procs > {len(avail)} cpus in the affinity mask")
    procs = [mp.Process(target=worker, args=(avail[i], q)) for i in range(n_procs)]
    for p in procs:
        p.start()
    rates = []
    for _ in procs:
        try:
            rates.append(q.get(timeout=120))
        except Exception as ex:  # queue.Empty: a worker died before putting
            for p in procs:
                p.terminate()
            raise RuntimeError(f"membw worker died or timed out: {ex}") from ex
    for p in procs:
        p.join()
    return sum(rates), _steal() - s0


def main() -> None:
    import sys

    levels = [int(x) for x in sys.argv[1:]] or [1, 2, 4, 8, 16]
    n_cpus = len(os.sched_getaffinity(0))
    out, steal = {}, {}
    for n in levels:
        if n > n_cpus:
            print(f"warning: {n} procs > {n_cpus} cpus in the affinity mask; "
                  f"clamping to {n_cpus}", file=sys.stderr)
            n = n_cpus
        if n in out:
            continue
        rate, ticks = run_level(n)
        out[n], steal[n] = round(rate, 1), ticks
        print(f"{n:>3} procs: {out[n]:>8.1f} GB/s aggregate  "
              f"({out[n]/n:>6.1f} GB/s per proc)  steal={steal[n]} ticks")
    base = out.get(1)
    print(json.dumps({"aggregate_gbps": out, "steal_ticks": steal,
                      **({"scaling_vs_1": {n: round(v / (base * n), 3) for n, v in out.items()}} if base else {})}))


if __name__ == "__main__":
    main()
