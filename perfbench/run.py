"""Benchmark entry point.

    python3 perfbench/run.py --workload crawl_durable --seed 1 --seconds 24 --trace 0

Runs one workload in a fresh ``local[4]`` JVM and prints, as the last line
of standard output, one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` (the end-to-end metrics with ``--trace 0``, the
per-layer metrics with ``--trace 1``). The line before it holds the run's
detail: samples, failed ops and the environment record. Exits 1 when an
output check failed and 2 when the checkout cannot run the benchmark.
"""

from __future__ import annotations

import time

T_START = time.monotonic()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import crawl_durable  # noqa: E402
import harness  # noqa: E402
import queries  # noqa: E402

# nominal op lengths on a 4-vCPU box: --seconds sets the op count through
# these, so the count is fixed for a given --seconds and never depends on
# how fast this run happens to be
NOMINAL_CYCLE_S = 22.0  # one compaction cycle of crawl_durable rounds
NOMINAL_SWEEP_S = 7.0  # one queries sweep

END_TO_END = {"setup_s": "s", "op_s_p50": "s", "work_per_s": "1/s"}
PER_LAYER = {
    "session.start_s": "s",
    "sources.corpus.generate_s": "s",
    "setup.tables_s": "s",
    "setup.warmup_s": "s",
    "plans.politeness.claim_s": "s",
    "plans.round.links_s": "s",
    "plans.round.dedup_seq_s": "s",
    "operators.bloom.add_s": "s",
    "plans.round.fetched_count_s": "s",
    "plans.crawl.materialize_s": "s",
    "plans.checkpoint.write_s": "s",
    "plans.checkpoint.load_s": "s",
    "plans.round.other_s": "s",
    "plans.crawl.resume_s": "s",
    "plans.checkpoint.bytes_per_round": "B",
    "plans.checkpoint.bytes_per_url": "B",
    "functions.canonicalize.kernel_s": "s",
    "operators.extract.udf_s": "s",
    "operators.bloom.probe_udf_s": "s",
    "spark.jobs_per_round": "count",
    "spark.tasks_per_round": "count",
    "plans.round.urls_claimed": "count",
    "plans.round.links_found": "count",
    "plans.round.links_new": "count",
    "plans.round.dedup_hit_ratio": "ratio",
    **{f"analytics.{q}_s": "s" for q in queries.HEADLINE},
    "spark.jobs_per_sweep": "count",
    "spark.tasks_per_sweep": "count",
    "trace.op_s_p50": "s",
    "trace.round_coverage": "ratio",
    "trace.sweep_coverage": "ratio",
}


def workload_params(name: str, seconds: int):
    if name == "crawl_durable":
        cycles = max(1, round(seconds / NOMINAL_CYCLE_S))
        return crawl_durable, crawl_durable.Params(cycles=cycles)
    return queries, queries.Params(sweeps=max(3, round(seconds / NOMINAL_SWEEP_S)))


def stop_session(spark) -> None:
    """Stop Spark and wait for its JVM (and with it the Python workers)
    to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def compose(name: str, res: dict, trace: bool, session_s: float) -> tuple[dict, dict]:
    # every failure message starts with its op id; a check that fails
    # outside the timed ops (validation, say) counts as one more op
    failed_ops = {f.split(": ", 1)[0] for f in res["failures"]}
    failed = len(failed_ops)
    attempted = len(set(res["ops"]) | failed_ops)
    if trace:
        layers = dict(res.get("layers", {}))
        layers["session.start_s"] = session_s
        metrics = {k: harness.metric(float(layers.get(k, 0.0)), u) for k, u in PER_LAYER.items()}
    else:
        metrics = {k: harness.metric(float(res["e2e"][k]), u) for k, u in END_TO_END.items()}
    line = {"correct": failed == 0, "attempted": attempted, "failed": failed, "metrics": metrics}
    n = len(res["detail"]["op_s"])
    detail = {
        "workload": name,
        "samples": n,
        "highest_percentile_supported": harness.supported_percentile(n),
        "failed_share": failed / attempted,
        "failures": res["failures"],
        **res["detail"],
    }
    return line, detail


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=("crawl_durable", "queries"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    try:
        harness.require_checkout()
    except harness.SetupError as ex:
        print(f"perfbench: {ex}", file=sys.stderr)
        return 2

    module, params = workload_params(args.workload, args.seconds)
    steal0 = harness.steal_ticks()
    dirs = harness.RunDirs.create(args.workload)
    spark = None
    try:
        harness.prepare_environment(dirs)
        t0 = time.monotonic()
        spark = harness.start_session(dirs)
        session_s = time.monotonic() - t0

        def mark_setup() -> float:
            return time.monotonic() - T_START

        res = module.run(spark, dirs, args.seed, params, bool(args.trace), mark_setup)
    finally:
        if spark is not None:
            stop_session(spark)
        dirs.remove()
    line, detail = compose(args.workload, res, bool(args.trace), session_s)
    detail["session.start_s"] = session_s
    detail["environment"] = harness.environment_record(
        args.seed, steal0, time.monotonic() - T_START
    )
    os.makedirs(harness.OUT_DIR, exist_ok=True)
    record = os.path.join(
        harness.OUT_DIR, f"{args.workload}-seed{args.seed}-trace{args.trace}.json"
    )
    with open(record, "w") as f:
        json.dump({"result": line, "detail": detail}, f, indent=1)
    print(json.dumps({"detail": detail}))
    print(json.dumps(line))
    return 0 if line["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
