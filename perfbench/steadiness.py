"""Run the benchmark on several seeds and report how steady it is.

    python3 perfbench/steadiness.py --workload crawl_durable --seeds 1 2 3 4 5
    python3 perfbench/steadiness.py --workload queries --seeds 1 2 --traced

For every end-to-end metric: the values, their median and the quartile
spread (Q3 - Q1) / median, with the quartiles ``statistics.quantiles``
gives. ``--traced`` also makes two traced runs per seed, reports the
tracing overhead (traced minus untraced op p50) and lists the counts a
seed fixes that did not repeat exactly across the three runs.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

from harness import quartile_spread  # noqa: E402

# counts that depend only on the seed, never on timing: in the detail
# line of every run, and among the per-layer metrics of traced runs
REPEATING = {
    "crawl_durable": ("round_counts",),
    "queries": ("rows",),
}
REPEATING_LAYERS = {
    "crawl_durable": (
        "spark.jobs_per_round",
        "plans.round.urls_claimed",
        "plans.round.links_found",
        "plans.round.links_new",
    ),
    "queries": ("spark.jobs_per_sweep",),
}


def run_once(workload: str, seed: int, seconds: int, trace: int) -> tuple[dict, dict]:
    cmd = [
        sys.executable,
        os.path.join(HERE, "run.py"),
        "--workload", workload,
        "--seed", str(seed),
        "--seconds", str(seconds),
        "--trace", str(trace),
    ]
    proc = subprocess.run(cmd, capture_output=True, text=True, cwd=os.path.dirname(HERE))
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or len(lines) < 2:
        raise RuntimeError(f"{' '.join(cmd)} exited {proc.returncode}:\n{proc.stderr[-3000:]}")
    return json.loads(lines[-1]), json.loads(lines[-2])["detail"]


def summarize(values: list[float]) -> dict:
    out = {"values": values, "median": statistics.median(values)}
    if len(values) >= 2:
        out["spread"] = quartile_spread(values)
    return out


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", type=int, nargs="+", required=True)
    ap.add_argument("--seconds", type=int, default=None, help="default: BENCHMARK.json run_seconds")
    ap.add_argument("--traced", action="store_true")
    args = ap.parse_args()
    seconds = args.seconds
    if seconds is None:
        with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
            seconds = json.load(f)["run_seconds"]

    runs = []
    for seed in args.seeds:
        line, detail = run_once(args.workload, seed, seconds, 0)
        runs.append({"seed": seed, "line": line, "detail": detail})
        print(json.dumps({"seed": seed, "metrics": {k: v["value"] for k, v in line["metrics"].items()},
                          "failed": line["failed"], "steal": detail["environment"]["steal_ticks"]}),
              flush=True)
    report = {
        "workload": args.workload,
        "seconds": seconds,
        "failed": sum(r["line"]["failed"] for r in runs),
        "metrics": {
            k: summarize([r["line"]["metrics"][k]["value"] for r in runs])
            for k in runs[0]["line"]["metrics"]
        },
    }
    if args.traced:
        traced = []
        for r in runs:
            line, detail = run_once(args.workload, r["seed"], seconds, 1)
            again, detail2 = run_once(args.workload, r["seed"], seconds, 1)
            layers = {k: v["value"] for k, v in line["metrics"].items()}
            mismatched = [k for k in REPEATING[args.workload] if detail[k] != r["detail"][k]]
            mismatched += [k for k in REPEATING[args.workload] if detail2[k] != r["detail"][k]]
            mismatched += [
                k for k in REPEATING_LAYERS[args.workload]
                if again["metrics"][k]["value"] != layers[k]
            ]
            traced.append(
                {
                    "seed": r["seed"],
                    "failed": line["failed"] + again["failed"],
                    "overhead_s": layers["trace.op_s_p50"] - r["line"]["metrics"]["op_s_p50"]["value"],
                    "not_repeating": mismatched,
                    "layers": layers,
                }
            )
        report["traced"] = traced
    print(json.dumps(report, indent=1))
    return 0


if __name__ == "__main__":
    sys.exit(main())
