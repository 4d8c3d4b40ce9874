"""Two-parallelism scaling evidence (BASELINE.md sandbox protocol).

No real cluster exists in the sandbox, so the north rule's N-vs-4N
executor criterion is evidenced by running the SAME crawl job on the
SAME cached corpus at local[2] and local[8] and reporting:

    efficiency = (T8 / T2) / 4        (target >= 0.8)

where T_n = URLs scheduled+deduped per second. ONE protocol, stated
identically here, in BASELINE.md, BENCH.md and PLANS.md (VERDICT r1 #2):
2 vs 8 cores, each level pinned with `taskset -c 0-(N-1)` and its JVM
GC pools sized to N — the largest 4x pair whose upper level still
leaves most of the box's 32 vCPUs free, so co-tenant steal bursts and
JVM service threads cannot distort a level (an 8-vs-32 pair would need
every vCPU, stolen ones included).

Each level runs in a fresh subprocess (a JVM can't change master
mid-flight); identical Spark confs apart from local[N]. This VM takes
bursty co-tenant CPU steal (multi-minute storms of 150-300 ticks/15s
alternating with quiet spells of < 20), so each attempt first WAITS for
a quiet window (steal < 60 ticks / 15 s) before launching, records the
steal ticks taken DURING the run, and the per-level result is the best
(highest-throughput) run — steal only ever slows a run. ALL runs are
reported in BENCH.md so the distribution and its steal correlation are
visible, per VERDICT r2 #1.

Usage: python tools/scaling_evidence.py [n_docs] [out_md]
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _steal_ticks() -> int:
    with open("/proc/stat") as f:
        return int(f.readline().split()[8])


def wait_for_quiet(threshold: int = 60, window_s: int = 15, max_wait_s: int = 900) -> int:
    """Block until a window_s sample shows < threshold steal ticks (or the
    wait budget runs out). Returns the last sampled tick count."""
    t0 = time.monotonic()
    while True:
        s0 = _steal_ticks()
        time.sleep(window_s)
        r = _steal_ticks() - s0
        if r < threshold or (time.monotonic() - t0) > max_wait_s:
            return r


def run_level(cpus: int, n_docs: int) -> dict:
    env = dict(
        os.environ,
        SPARK_GRAFT_CPUS=str(cpus),
        SPARK_GRAFT_BENCH_MODE="crawl",
        SPARK_GRAFT_CRAWL_DOCS=str(n_docs),
        # bench.py's own quiet-gated best-of-N (round 5) would nest inside
        # THIS harness's gating — run exactly one crawl per subprocess so
        # the protocol (best-of-N fresh-JVM runs, gated HERE) is unchanged
        SPARK_GRAFT_CRAWL_RUNS="1",
        SPARK_GRAFT_QUIET_WAIT_S="0",
        # enough storage memory that corpus + retained round caches never
        # evict mid-bench (identical at both levels)
        SPARK_GRAFT_DRIVER_MEM=os.environ.get("SPARK_GRAFT_DRIVER_MEM", "48g"),
        # a real N-core executor sizes GC pools from its N cores — without
        # this the JVM sizes them from the machine's 32 cpus and thrashes
        # the taskset mask (session.py)
        SPARK_GRAFT_GC_THREADS=str(cpus),
    )
    # the printed line is compact since round 6 (VERDICT r5 #1); the full
    # crawl record (incl. per-phase timings) lives in the detail side file
    detail_path = f"/tmp/dwsc_scaling_detail_{cpus}_{os.getpid()}.json"
    env["SPARK_GRAFT_DETAIL_PATH"] = detail_path
    # stale-detail guard (ADVICE r6 medium): the path is reused across
    # best-of-N attempts — remove any previous attempt's file so a crashed
    # bench can never silently return the prior attempt's measurement
    try:
        os.remove(detail_path)
    except FileNotFoundError:
        pass
    # taskset: local[N] only caps TASK SLOTS — Python UDF workers, GC,
    # JIT and shuffle threads would otherwise spill onto the machine's
    # other idle cores and hand the low level free parallelism. Pinning
    # the whole process tree to exactly N cpus makes "N cores" literal,
    # the same resource envelope a real N-core executor gets.
    cmd = ["taskset", "-c", f"0-{cpus - 1}", sys.executable, os.path.join(REPO, "bench.py")]
    out = subprocess.run(
        cmd,
        env=env,
        capture_output=True,
        text=True,
        timeout=3600,
    )
    if out.returncode != 0:
        # a crashed bench must abort the attempt loudly, never fall
        # through to a possibly-present file (ADVICE r6 medium)
        tail = "\n".join(out.stderr.strip().splitlines()[-3:]) if out.stderr else "(no stderr)"
        raise RuntimeError(f"bench.py exited {out.returncode} at local[{cpus}]:\n{tail}")
    try:
        with open(detail_path) as f:
            return json.load(f)["crawl_best"]
    except (OSError, KeyError, ValueError):
        line = out.stdout.strip().splitlines()[-1]
        return json.loads(line)["crawl"]


def run_level_best_of(cpus: int, n_docs: int, n_runs: int) -> tuple[dict, list[dict]]:
    """Best (highest-throughput) of n_runs quiet-gated fresh-JVM runs.

    Returns (best_run, all_runs); every run records its wall, throughput
    and during-run steal ticks for the BENCH.md distribution table."""
    runs: list[dict] = []
    best = None
    for i in range(n_runs):
        wait_for_quiet()
        s0 = _steal_ticks()
        r = run_level(cpus, n_docs)
        r["steal_ticks"] = _steal_ticks() - s0
        r["run_idx"] = i
        runs.append(r)
        if best is None or r["urls_per_sec"] > best["urls_per_sec"]:
            best = r
    return best, runs


def main() -> None:
    n_docs = int(sys.argv[1]) if len(sys.argv) > 1 else 400_000
    out_md = sys.argv[2] if len(sys.argv) > 2 else os.path.join(REPO, "BENCH.md")
    # N=2 vs 4N=8, pinned (the single protocol — see module docstring).
    # SPARK_GRAFT_SCALING_LO/HI override for DIAGNOSTIC pairs only (e.g.
    # 1v4 probes the shared-socket bandwidth ceiling: the 4-core upper
    # level has 2x the per-core bandwidth of the 8-core one); the
    # published protocol pair stays 2v8.
    lo = int(os.environ.get("SPARK_GRAFT_SCALING_LO", "2"))
    hi = int(os.environ.get("SPARK_GRAFT_SCALING_HI", "8"))
    n_runs = int(os.environ.get("SPARK_GRAFT_SCALING_RUNS", "3"))
    r_lo, runs_lo = run_level_best_of(lo, n_docs, n_runs)
    r_hi, runs_hi = run_level_best_of(hi, n_docs, n_runs)
    t_lo, t_hi = r_lo["urls_per_sec"], r_hi["urls_per_sec"]
    eff = (t_hi / t_lo) / (hi // lo)

    def dist_rows(level: int, runs: list[dict]) -> str:
        return "\n".join(
            f"| local[{level}] | {r['run_idx']} | {r['wall_sec']} | {r['urls_per_sec']} "
            f"| {r['steal_ticks']} |"
            for r in runs
        )

    def phase_row(r: dict) -> str:
        return ", ".join(f"{k} {v}" for k, v in r.get("phases", {}).items())

    body = f"""# BENCH — crawl throughput + scaling evidence

North-rule metric: URLs scheduled+deduped per second (claim batch +
links pushed through canonicalize/dedup per wall-clock second), real
engine end-to-end (fetch-join, Arrow extraction, Bloom-prefiltered
anti-joins, seq assignment, state materialization).

Input: deterministic synthetic web, {n_docs} docs, 40 hosts, 16
links/doc, hot-host share 0.3 (skewed); production mode (pre-seeded fat
frontier = the large-frontier stand-in; 4 scheduling rounds; Bloom on;
hot-host-salted claim; copartitioned fetch join; lazy output tables).
Identical confs at both levels (Arrow on, UTC, shuffle partitions 32,
AQE off for the crawl job per PLANS.md ledger); only `local[N]` differs.
N={lo} vs 4N={hi}: the largest 4x pair whose upper level ({hi} pinned
cpus) still leaves most of the 32-vCPU box free, so co-tenant steal
bursts and JVM service threads (GC, netty, Python workers beyond the
pinned set's budget) cannot distort either level — an 8-vs-32 pair
would need every vCPU including the stolen ones (BASELINE.md protocol:
"N and 4N cores"). Each level runs under `taskset -c 0-(N-1)` with JVM
GC pools sized to N — `local[N]` alone caps only task slots, so Python
UDF workers, GC and shuffle threads would otherwise spill onto the
machine's other 30 idle cores and hand the LOW level free parallelism
(measured: unpinned local[2] ran 24% faster than its pinned envelope on
this box). Pinning gives each level exactly the resource envelope a
real N-core executor gets.

This VM takes bursty co-tenant CPU steal in multi-minute storms
(150-300 steal ticks/15 s, against < 20 in quiet spells; run-to-run
wall spread up to 2.3x observed on identical configs). Each attempt
therefore waits for a quiet window (< 60 ticks/15 s) before launching,
and the per-level number is the best of {n_runs} quiet-gated fresh-JVM
runs — steal only ever slows a run, so the fastest run is the closest
observation of true capability. The FULL run distribution with per-run
steal ticks is below, so the steal correlation is inspectable.

| parallelism | rounds | URLs claimed | links deduped | wall (s) | URLs/s | steal ticks during run |
|---|---|---|---|---|---|---|
| local[{lo}] | {r_lo["rounds"]} | {r_lo["urls_claimed"]} | {r_lo["links_deduped"]} | {r_lo["wall_sec"]} | {t_lo} | {r_lo["steal_ticks"]} |
| local[{hi}] | {r_hi["rounds"]} | {r_hi["urls_claimed"]} | {r_hi["links_deduped"]} | {r_hi["wall_sec"]} | {t_hi} | {r_hi["steal_ticks"]} |

**Scaling efficiency (T{hi} / T{lo}) / {hi // lo} = {eff:.3f}** (target >= 0.8)

## Run distribution (all runs, best per level selected)

| parallelism | run | wall (s) | URLs/s | steal ticks during run |
|---|---|---|---|---|
{dist_rows(lo, runs_lo)}
{dist_rows(hi, runs_hi)}

Best-run phase breakdown (driver-timed, seconds summed over 4 rounds):
- local[{lo}]: {phase_row(r_lo)}
- local[{hi}]: {phase_row(r_hi)}

## 10^10 design-point extrapolation

Per-round work is linear in (claimed + discovered links): extraction and
canonicalization are per-link Arrow batches; dedup is one hash shuffle of
the round's links plus a Bloom-prefiltered anti-join whose residue is the
false-positive mass (fpp ~1%). At a 10^10-entry frontier the per-round
structures that must NOT be O(frontier) are:
- the claim: window-rank per host over the *pending* partition only
  (status-partitioned storage prunes completed mass);
- the seen-set probe: sharded Bloom (~12 GB bits at 1% fpp) split across
  `pmod(url_hash, shards)` so each task faults in one shard
  (operators/bloom.py ShardedBloom); the ground-truth anti-join touches
  only the ~1% residue;
- seq assignment: bucketed rank (plans/seq.py) — driver traffic is one
  row per 4096-parent bucket, never per URL;
- the fetch join: copartitioned (the claim shuffles into the corpus's
  bucketing; the 100 TB side never moves, and no per-round driver-side
  broadcast build happens at any cluster size).
"""
    with open(out_md, "w") as f:
        f.write(body)
    print(
        json.dumps(
            {
                "t_lo": t_lo,
                "t_hi": t_hi,
                "efficiency": round(eff, 3),
                "runs_lo": [(r["wall_sec"], r["steal_ticks"]) for r in runs_lo],
                "runs_hi": [(r["wall_sec"], r["steal_ticks"]) for r in runs_hi],
            }
        )
    )


if __name__ == "__main__":
    main()
