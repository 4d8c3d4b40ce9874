"""Self-tests of the benchmark's own code.

    python3 -m pytest perfbench/tests -q

The arithmetic tests need no JVM. The smoke tests start one local Spark
session and run each workload on tiny inputs with tracing on.
"""

from __future__ import annotations

import json
import math
import os
import shutil
import subprocess
import sys

import pandas as pd
import pytest

BENCH = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, BENCH)

import crawl_durable  # noqa: E402
import harness  # noqa: E402
import queries  # noqa: E402
import tables  # noqa: E402
from harness import Span, Tracer  # noqa: E402


def test_p50_and_percentile_support():
    assert harness.p50([3.0, 1.0, 2.0]) == 2.0
    assert harness.p50([4.0, 1.0, 2.0, 3.0]) == 2.5
    with pytest.raises(ValueError):
        harness.p50([])
    assert harness.supported_percentile(4) is None
    assert harness.supported_percentile(20) == 50.0
    assert harness.supported_percentile(100) == 90.0
    assert harness.supported_percentile(1000) == 99.0
    assert harness.supported_percentile(10000) == 99.9


def test_work_per_s_weighs_slow_ops():
    # 100 units over 1 s + 3 s of op time, not over the median op
    assert harness.work_per_s(100, [1.0, 3.0]) == 25.0
    with pytest.raises(ValueError):
        harness.work_per_s(10, [])


def test_quartile_spread():
    vals = [1.0, 2.0, 3.0, 4.0, 5.0, 6.0, 7.0, 8.0, 9.0, 10.0]
    # statistics.quantiles (exclusive): Q1 = 2.75, Q3 = 8.25, median 5.5
    assert harness.quartile_spread(vals) == pytest.approx((8.25 - 2.75) / 5.5)


def test_failed_ops_are_counted_once_against_attempted_ops():
    import run

    res = {
        "ops": ["round-1", "round-2"],
        "failures": ["round-1: enqueued 9 rows", "round-1: a URL claimed twice", "round-0: over budget"],
        "e2e": {"setup_s": 1.0, "op_s_p50": 2.0, "work_per_s": 3.0},
        "detail": {"op_s": [2.0, 2.0]},
    }
    line, detail = run.compose("crawl_durable", res, False, 1.0)
    assert (line["correct"], line["failed"], line["attempted"]) == (False, 2, 3)
    assert detail["failed_share"] == pytest.approx(2 / 3)
    assert set(line["metrics"]) == set(run.END_TO_END)


def test_self_times_clip_and_merge_children():
    spans = [
        Span("op", 0.0, 10.0, None, "a", sid=0),
        Span("x", 1.0, 4.0, 0, "a", sid=1),
        Span("y", 3.0, 6.0, 0, "a", sid=2),  # overlaps x: counted once
        Span("z", 9.0, 12.0, 0, "a", sid=3),  # sticks out: clipped to 9..10
        Span("x.child", 2.0, 3.0, 1, "a", sid=4),
    ]
    st = harness.self_times(spans)
    assert st[0] == pytest.approx(10.0 - 5.0 - 1.0)
    assert st[1] == pytest.approx(2.0)
    assert st[2] == pytest.approx(3.0)
    assert st[4] == pytest.approx(1.0)
    # self times of a non-overlapping tree add up to the root's wall
    tree = [s for s in spans if s.sid != 2 and s.sid != 3]
    assert sum(harness.self_times(tree).values()) == pytest.approx(10.0)


def test_tracer_nests_and_disabled_records_nothing():
    off = Tracer(enabled=False)
    with off.span("a", op="1") as s:
        assert s is None
    assert off.spans == []
    on = Tracer(enabled=True)
    with on.span("op", op="r1"):
        with on.span("inner"):
            pass
    assert [(s.name, s.parent, s.op) for s in on.spans] == [("op", None, "r1"), ("inner", 0, "r1")]
    assert all(not math.isnan(s.end) for s in on.spans)


def test_phase_spans_cover_round_and_adopt_checkpoint_spans():
    tr = Tracer(enabled=True)
    rnd = tr.add(crawl_durable.ROUND_SPAN, 0.0, 10.0, None, "round-1")
    write = tr.add("plans.checkpoint.write", 7.5, 9.0, rnd.sid, rnd.op)
    phases = {"claim": 1.0, "links": 2.0, "dedup_seq": 1.5, "bloom_add": 0.5,
              "fetched_count": 0.25, "materialize": 3.0}
    crawl_durable._add_phase_spans(tr, rnd, phases)
    st = tr.self_times()
    by_name = {s.name: s for s in tr.spans}
    assert write.parent == by_name["plans.crawl.materialize"].sid
    assert st[by_name["plans.crawl.materialize"].sid] == pytest.approx(3.0 - 1.5)
    assert st[rnd.sid] == pytest.approx(10.0 - sum(phases.values()))
    assert sum(st.values()) == pytest.approx(10.0)


def test_oracle_comparison_tolerates_only_float_rounding():
    a = pd.DataFrame({"k": ["x", "y"], "v": [1.0e10 + 0.01, 2.5]})
    assert queries.oracle_mismatch(a, a.iloc[::-1].copy()) is None
    b = a.copy()
    b.loc[0, "v"] += 1e-4  # 1e-14 relative: summation order
    assert queries.oracle_mismatch(a, b) is None
    c = a.copy()
    c.loc[1, "v"] = 2.6
    assert "col v" in queries.oracle_mismatch(a, c)
    assert "rowcount" in queries.oracle_mismatch(a, a.iloc[:1])


def test_tables_are_seeded():
    t1, t2 = tables.make_tables(5, 0.001), tables.make_tables(5, 0.001)
    for name in tables.TABLES:
        pd.testing.assert_frame_equal(t1[name], t2[name])
    assert not t1["documents"].equals(tables.make_tables(6, 0.001)["documents"])
    assert t1["nation"]["n_nationkey"].dtype.name == "int32"
    assert t1["lineitem"]["l_shipdate"].dtype.name == "datetime64[us]"


def test_refuses_a_directory_without_the_engine(tmp_path):
    """Only BENCHMARK.json and the benchmark's files: exit non-zero and
    print no result."""
    shutil.copytree(BENCH, tmp_path / "perfbench", ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(os.path.dirname(BENCH), "BENCHMARK.json"), tmp_path)
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "queries", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120,
    )
    assert proc.returncode != 0
    assert proc.stdout.strip() == ""


# -- smoke runs on tiny inputs -------------------------------------------------


@pytest.fixture(scope="module")
def session():
    harness.require_checkout()
    dirs = harness.RunDirs.create("selftest")
    harness.prepare_environment(dirs)
    spark = harness.start_session(dirs)
    yield spark, dirs
    spark.stop()
    dirs.remove()


def _fresh(dirs, *subs):
    for sub in subs:
        shutil.rmtree(dirs.sub(sub), ignore_errors=True)
        os.makedirs(dirs.sub(sub))


def test_smoke_crawl_durable(session):
    spark, dirs = session
    p = crawl_durable.Params(n_hosts=4, docs_per_host=40, links_per_doc=5, resumes=1)
    _fresh(dirs, "data", "store")
    plain = crawl_durable.run(spark, dirs, 3, p, False, lambda: 1.0)
    _fresh(dirs, "data", "store")
    traced = crawl_durable.run(spark, dirs, 3, p, True, lambda: 1.0)
    for res in (plain, traced):
        assert res["failures"] == []
        assert len(res["ops"]) == p.timed_rounds + p.resumes
        assert len(res["detail"]["op_s"]) == p.timed_rounds
        assert res["e2e"]["op_s_p50"] > 0 and res["e2e"]["work_per_s"] > 0
    # the same seed crawls the same rounds, traced or not
    assert plain["detail"]["round_counts"] == traced["detail"]["round_counts"]
    layers = traced["layers"]
    assert layers["spark.jobs_per_round"] > 0 and layers["plans.checkpoint.write_s"] > 0
    assert layers["functions.canonicalize.kernel_s"] > 0
    assert 0.9 <= layers["trace.round_coverage"] <= 1.0
    with open(os.path.join(harness.OUT_DIR, "trace-crawl_durable.json")) as f:
        assert json.load(f)["spans"]


def test_smoke_queries(session):
    spark, dirs = session
    p = queries.Params(sf=0.001, sweeps=1)
    _fresh(dirs, "data")
    res = queries.run(spark, dirs, 4, p, True, lambda: 1.0)
    assert res["failures"] == []
    assert len(res["detail"]["op_s"]) == 1
    layers = res["layers"]
    assert set(f"analytics.{q}_s" for q in queries.HEADLINE) <= set(layers)
    assert layers["spark.jobs_per_sweep"] > 0
    assert 0.9 <= layers["trace.sweep_coverage"] <= 1.0
