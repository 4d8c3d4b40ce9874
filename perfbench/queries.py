"""``queries``: the ten headline registry queries as a dashboard runs them.

Each query runs to completion into the ``noop`` sink (``.count()`` would
let Catalyst prune the columns a dashboard reads). The op is one sweep of
all ten. The tables are generated from the workload seed (``tables.py``).
Set-up checks every query once against its DuckDB oracle, which is also
the warm-up sweep; row counts are checked again after the timed sweeps.
"""

from __future__ import annotations

import os
import time
from dataclasses import dataclass

import numpy as np

from harness import CHECKOUT, OUT_DIR, JobGroups, Tracer, p50, udf_profile_seconds
from tables import TABLES, make_tables, write_tables

# the headline list of bench.py, kept here so the benchmark's op does not
# change when that harness does
HEADLINE = (
    "flagship_q1",
    "revenue_by_nation",
    "topk_per_group",
    "sessionize",
    "text_search",
    "lsh_candidate_pairs",
    "ngram_jaccard_pairs",
    "embedding_topk",
    "token_stats",
    "recent_activity",
)


@dataclass(frozen=True)
class Params:
    sf: float = 0.01
    sweeps: int = 3


def _normalize():
    import sys

    tools = os.path.join(CHECKOUT, "tools")
    if tools not in sys.path:
        sys.path.insert(0, tools)
    from selfcheck import normalize

    return normalize


def oracle_mismatch(spark_pdf, oracle_pdf) -> str | None:
    """Compare like tools/selfcheck.py (sorted columns, order-insensitive
    rows, exact values), except that floats may differ by 1e-9 relative:
    the two engines sum doubles in different orders."""
    normalize = _normalize()
    a, b = normalize(spark_pdf), normalize(oracle_pdf)
    if list(a.columns) != list(b.columns):
        return f"columns {list(a.columns)} vs {list(b.columns)}"
    if len(a) != len(b):
        return f"rowcount {len(a)} vs {len(b)}"
    for c in a.columns:
        x, y = a[c], b[c]
        if x.dtype.kind == "f" or y.dtype.kind == "f":
            ok = np.isclose(x.astype(float), y.astype(float), rtol=1e-9, atol=0.0, equal_nan=True)
        else:
            ok = (x == y) | (x.isna() & y.isna())
        if not bool(np.all(ok)):
            i = int(np.argmin(np.asarray(ok)))
            return f"col {c} row {i}: {x.iloc[i]!r} vs {y.iloc[i]!r}"
    return None


def validate(spark, data_dir: str) -> tuple[dict[str, int], list[str]]:
    """Each query once against its DuckDB oracle on the same files."""
    import duckdb

    from distributed_web_scrapper_and_crawler_spark.analytics import QUERY_REGISTRY

    con = duckdb.connect()
    try:
        for name in TABLES:
            path = os.path.join(data_dir, f"{name}.parquet")
            con.execute(f"CREATE VIEW {name} AS SELECT * FROM '{path}'")
        rows, failures = {}, []
        for q in HEADLINE:
            spec = QUERY_REGISTRY[q]
            got = spec.fn(spark, data_dir).toPandas()
            rows[q] = len(got)
            bad = oracle_mismatch(got, con.execute(spec.sql).fetchdf())
            if bad:
                failures.append(f"validate-{q}: {bad}")
    finally:
        con.close()
    return rows, failures


def sweep(spark, data_dir: str, tracer: Tracer, op: str) -> tuple[float, dict[str, float]]:
    from distributed_web_scrapper_and_crawler_spark.analytics import QUERY_REGISTRY

    per_query = {}
    with tracer.span("analytics.sweep", op=op):
        t0 = time.monotonic()
        for q in HEADLINE:
            with tracer.span(f"analytics.{q}"):
                a = time.monotonic()
                QUERY_REGISTRY[q].fn(spark, data_dir).write.format("noop").mode("overwrite").save()
                per_query[q] = time.monotonic() - a
        wall = time.monotonic() - t0
    return wall, per_query


def timed_sweeps(spark, data_dir, p: Params, tracer, jobs: JobGroups):
    walls, per_query, failures, counts = [], {q: [] for q in HEADLINE}, [], []
    for i in range(p.sweeps):
        gid = f"sweep-{i}"
        try:
            with jobs.group(gid):
                wall, pq = sweep(spark, data_dir, tracer, gid)
        except Exception as ex:  # a failed op is counted, the run goes on
            failures.append(f"{gid}: {type(ex).__name__}: {ex}")
            continue
        walls.append(wall)
        for q, s in pq.items():
            per_query[q].append(s)
        if tracer.enabled:
            counts.append(jobs.counts(gid))
    return walls, per_query, failures, counts


def recount(spark, data_dir: str, rows: dict[str, int]) -> list[str]:
    from distributed_web_scrapper_and_crawler_spark.analytics import QUERY_REGISTRY

    out = []
    for q in HEADLINE:
        n = QUERY_REGISTRY[q].fn(spark, data_dir).count()
        if n != rows[q]:
            out.append(f"recount-{q}: {n} rows after the sweeps, {rows[q]} at validation")
    return out


def run(spark, dirs, seed: int, p: Params, trace: bool, mark_setup) -> dict:
    """Run the workload. With ``trace`` the timed sweeps also record
    spans, job-group counts and UDF profiles."""
    data_dir = dirs.sub("data")
    t0 = time.monotonic()
    write_tables(make_tables(seed, p.sf), data_dir)
    gen_s = time.monotonic() - t0
    # the validation sweep is the warm-up: the same ten query plans,
    # collected instead of written to noop. An extra untimed noop sweep
    # was measured: 10 s more set-up and no smaller spread.
    t0 = time.monotonic()
    rows, failures = validate(spark, data_dir)
    warm_s = time.monotonic() - t0
    tracer = Tracer(enabled=trace)
    jobs = JobGroups(spark)
    if trace:
        spark.conf.set("spark.sql.pyspark.udf.profiler", "perf")
        spark.profile.clear(type="perf")
    setup_s = mark_setup()
    walls, per_query, sweep_fail, counts = timed_sweeps(spark, data_dir, p, tracer, jobs)
    if trace:
        udf = udf_profile_seconds(spark, dirs.sub("profiles"))
        spark.conf.unset("spark.sql.pyspark.udf.profiler")
    failures += sweep_fail
    if walls:
        failures += recount(spark, data_dir, rows)
    out = {
        "ops": [f"sweep-{i}" for i in range(p.sweeps)],
        "failures": failures,
        "e2e": {
            "setup_s": setup_s,
            "op_s_p50": p50(walls) if walls else 0.0,
            "work_per_s": len(HEADLINE) * len(walls) / sum(walls) if walls else 0.0,
        },
        "detail": {
            "op_s": walls,
            "per_query_s": per_query,
            "rows": rows,
            "setup": {"setup.tables_s": gen_s, "setup.warmup_s": warm_s},
        },
    }
    if trace and walls:
        out["layers"] = layer_metrics(tracer, walls, per_query, counts)
        out["layers"].update({"setup.tables_s": gen_s, "setup.warmup_s": warm_s})
        tracer.dump(
            os.path.join(OUT_DIR, "trace-queries.json"),
            {"udf_profile_s": udf, "jobs_tasks_per_sweep": counts},
        )
    return out


def layer_metrics(tracer: Tracer, walls: list, per_query: dict, counts: list) -> dict[str, float]:
    n = len(walls)
    selfs = tracer.self_times()
    sweep_self = sum(selfs[s.sid] for s in tracer.spans if s.name == "analytics.sweep")
    out = {f"analytics.{q}_s": p50(per_query[q]) for q in HEADLINE}
    out.update(
        {
            "spark.jobs_per_sweep": sum(c[0] for c in counts) / n,
            "spark.tasks_per_sweep": sum(c[1] for c in counts) / n,
            "trace.op_s_p50": p50(walls),
            # share of sweep wall the ten query spans account for
            "trace.sweep_coverage": 1.0 - sweep_self / sum(walls),
        }
    )
    return out
