"""Shared pieces of the benchmark: checkout layout, run directories, the
Spark session, statistics, the span tracer, job-group counts, UDF
profiles and the per-run environment record.

Nothing here imports pyspark or the engine at module import time, so the
arithmetic can be tested without a JVM.
"""

from __future__ import annotations

import ast
import contextlib
import json
import math
import os
import platform
import pstats
import shutil
import statistics
import sys
import time
from dataclasses import dataclass, field

PACKAGE = "distributed_web_scrapper_and_crawler_spark"
BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
CHECKOUT = os.path.dirname(BENCH_DIR)
# trace files and per-run records; kept after the run
OUT_DIR = os.path.join(CHECKOUT, ".bench_out")
MASTER = "local[4]"
SHUFFLE_PARTITIONS = 4
DRIVER_MEMORY = "3g"


class SetupError(RuntimeError):
    """The checkout cannot run the benchmark (no engine package, say)."""


def require_checkout() -> None:
    """Fail before any work when the engine sources are not beside the
    benchmark directory: an installed copy elsewhere must never be
    measured in their place."""
    pkg = os.path.join(CHECKOUT, PACKAGE, "__init__.py")
    if not os.path.isfile(pkg):
        raise SetupError(f"engine package not found at {os.path.dirname(pkg)}")
    if CHECKOUT not in sys.path:
        sys.path.insert(0, CHECKOUT)


# -- statistics --------------------------------------------------------------


def p50(values: list[float]) -> float:
    if not values:
        raise ValueError("p50 of no samples")
    return float(statistics.median(values))


def supported_percentile(n: int) -> float | None:
    """Highest of p50/p90/p99/p99.9 with at least ten samples beyond it."""
    best = None
    for tail_per_mille in (500, 100, 10, 1):  # exact integer test, no float rounding
        if n * tail_per_mille >= 10 * 1000:
            best = 100.0 - tail_per_mille / 10.0
    return best


def work_per_s(work_units: int, op_seconds: list[float]) -> float:
    """Useful work per second of op time: units done across all timed ops
    divided by the summed op time (slow ops weigh in, unlike a median)."""
    total = math.fsum(op_seconds)
    if total <= 0:
        raise ValueError("no op time measured")
    return work_units / total


def quartile_spread(values: list[float]) -> float:
    """(Q3 - Q1) / median, with the quartiles statistics.quantiles gives."""
    q1, _, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / statistics.median(values)


# -- tracing ------------------------------------------------------------------


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None
    op: str | None
    sid: int = -1

    @property
    def duration(self) -> float:
        return self.end - self.start


@dataclass
class Tracer:
    """In-memory spans (name, start, end, parent, op id). Disabled tracers
    record nothing, so untraced runs pay one attribute check per call."""

    enabled: bool = False
    spans: list[Span] = field(default_factory=list)
    _stack: list[int] = field(default_factory=list)

    @contextlib.contextmanager
    def span(self, name: str, op: str | None = None):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        if op is None and parent is not None:
            op = self.spans[parent].op
        s = Span(name, time.monotonic(), math.nan, parent, op, sid=len(self.spans))
        self.spans.append(s)
        self._stack.append(s.sid)
        try:
            yield s
        finally:
            self._stack.pop()
            s.end = time.monotonic()

    def add(self, name: str, start: float, end: float, parent: int | None, op: str | None) -> Span:
        """Record a span measured elsewhere (an engine phase timing)."""
        s = Span(name, start, end, parent, op, sid=len(self.spans))
        self.spans.append(s)
        return s

    def self_times(self) -> dict[int, float]:
        return self_times(self.spans)

    def dump(self, path: str, extra: dict) -> None:
        st = self.self_times()
        rows = [
            {
                "id": s.sid,
                "name": s.name,
                "start": s.start,
                "end": s.end,
                "parent": s.parent,
                "op": s.op,
                "self_s": st[s.sid],
            }
            for s in self.spans
        ]
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump({"spans": rows, **extra}, f, indent=1)


def _covered(intervals: list[tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_times(spans: list[Span]) -> dict[int, float]:
    """A span's duration minus the part of its interval its children
    cover (children clipped to the parent, overlaps counted once)."""
    kids: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent is not None:
            p = spans[s.parent]
            lo, hi = max(s.start, p.start), min(s.end, p.end)
            if hi > lo:
                kids.setdefault(s.parent, []).append((lo, hi))
    return {s.sid: s.duration - _covered(kids.get(s.sid, [])) for s in spans}


# -- Spark session and job groups ---------------------------------------------


@dataclass
class RunDirs:
    """Per-run scratch inside the checkout, removed at exit."""

    root: str

    @classmethod
    def create(cls, workload: str) -> "RunDirs":
        root = os.path.join(CHECKOUT, ".bench_run", f"{workload}-{os.getpid()}")
        shutil.rmtree(root, ignore_errors=True)
        for sub in ("local", "tmp", "data", "store"):
            os.makedirs(os.path.join(root, sub))
        return cls(root)

    def sub(self, name: str) -> str:
        return os.path.join(self.root, name)

    def remove(self) -> None:
        shutil.rmtree(self.root, ignore_errors=True)
        with contextlib.suppress(OSError):
            os.rmdir(os.path.dirname(self.root))


def prepare_environment(dirs: RunDirs) -> None:
    """Pin everything the engine reads from the environment, so the
    caller's shell cannot change what is measured, and keep scratch files
    inside the run directory."""
    for k in list(os.environ):
        if k.startswith(("SPARK_GRAFT_", "DWSC_")):
            del os.environ[k]
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (CHECKOUT, os.environ.get("PYTHONPATH", "")) if p
    )
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["TMPDIR"] = dirs.sub("tmp")
    # every JVM, the Spark launcher's too, keeps its temp files in the run
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={dirs.sub('tmp')} -XX:-UsePerfData"
    # SPARK_LOCAL_DIRS overrides spark.local.dir when set
    os.environ["SPARK_LOCAL_DIRS"] = dirs.sub("local")


def start_session(dirs: RunDirs):
    from distributed_web_scrapper_and_crawler_spark import session

    # get_spark evaluates its tmpfs default (and creates that directory)
    # even when spark.local.dir is given; point it at the run instead
    session._default_local_dir = lambda: dirs.sub("local")

    conf = {
        "spark.local.dir": dirs.sub("local"),
        "spark.driver.memory": DRIVER_MEMORY,
        "spark.sql.warehouse.dir": dirs.sub("warehouse"),
        "spark.ui.retainedJobs": "100000",
        "spark.ui.retainedStages": "100000",
    }
    return session.get_spark(
        app_name="perfbench",
        master=MASTER,
        shuffle_partitions=SHUFFLE_PARTITIONS,
        extra_conf=conf,
    )


class JobGroups:
    """Labels every op's Spark jobs with a job group and counts the jobs
    and completed tasks of a group from the status tracker."""

    def __init__(self, spark):
        self.sc = spark.sparkContext

    @contextlib.contextmanager
    def group(self, gid: str):
        self.sc.setJobGroup(gid, gid)
        try:
            yield
        finally:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)

    def counts(self, gid: str, settle_s: float = 5.0) -> tuple[int, int]:
        """(jobs, completed tasks) of a finished group. The status store
        is fed asynchronously by the listener bus: poll until every job
        has ended and the totals hold still."""
        st = self.sc.statusTracker()
        deadline = time.monotonic() + settle_s
        last = None
        while True:
            ids = sorted(st.getJobIdsForGroup(gid))
            infos = [st.getJobInfo(j) for j in ids]
            running = any(i is None or i.status not in ("SUCCEEDED", "FAILED") for i in infos)
            tasks = 0
            for info in infos:
                for sid in info.stageIds if info is not None else ():
                    si = st.getStageInfo(sid)
                    tasks += si.numCompletedTasks if si is not None else 0
            now = (len(ids), tasks)
            if (not running and now == last) or time.monotonic() > deadline:
                return now
            last = now
            time.sleep(0.05)


def _package_functions() -> dict[tuple[str, str], str]:
    """(file basename, function name) -> engine module, for every function
    the engine defines (nested ones too: UDF bodies are closures)."""
    root = os.path.join(CHECKOUT, PACKAGE)
    out: dict[tuple[str, str], str] = {}
    for dirpath, _, files in os.walk(root):
        for f in files:
            if not f.endswith(".py"):
                continue
            path = os.path.join(dirpath, f)
            module = os.path.relpath(path, root)[: -len(".py")].replace(os.sep, ".")
            with open(path) as fh:
                tree = ast.parse(fh.read())
            for node in ast.walk(tree):
                if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
                    out[(f, node.name)] = module
    return out


def udf_profile_seconds(spark, out_dir: str) -> dict[str, float]:
    """Python time per engine module from the perf UDF profiler. Each UDF's
    profile (``total_tt``) goes to the engine module whose functions
    spent the most time in it; profiles name files by basename only."""
    shutil.rmtree(out_dir, ignore_errors=True)
    os.makedirs(out_dir)
    spark.profile.dump(out_dir, type="perf")
    owners = _package_functions()
    out: dict[str, float] = {}
    for name in sorted(os.listdir(out_dir)):
        st = pstats.Stats(os.path.join(out_dir, name))
        by_module: dict[str, float] = {}
        for (file, _, func), (_, _, tt, _, _) in st.stats.items():  # type: ignore[attr-defined]
            module = owners.get((os.path.basename(file), func))
            if module is not None:
                by_module[module] = by_module.get(module, 0.0) + tt
        owner = max(by_module, key=by_module.get) if by_module else "other"
        out[owner] = out.get(owner, 0.0) + st.total_tt  # type: ignore[attr-defined]
    return out


# -- environment record -------------------------------------------------------


def steal_ticks() -> int:
    """Cumulative steal ticks (USER_HZ) over all cpus; -1 if unknown."""
    try:
        with open("/proc/stat") as f:
            return int(f.readline().split()[8])
    except (OSError, IndexError, ValueError):
        return -1


def environment_record(seed: int, steal_start: int, wall_s: float) -> dict:
    import numpy
    import pandas
    import pyarrow
    import pyspark

    steal_end = steal_ticks()
    return {
        "seed": seed,
        "master": MASTER,
        "shuffle_partitions": SHUFFLE_PARTITIONS,
        "nproc": os.cpu_count(),
        "affinity": len(os.sched_getaffinity(0)) if hasattr(os, "sched_getaffinity") else None,
        "loadavg": list(os.getloadavg()),
        "steal_ticks": steal_end - steal_start if min(steal_start, steal_end) >= 0 else None,
        "run_wall_s": round(wall_s, 3),
        "python": platform.python_version(),
        "pyspark": pyspark.__version__,
        "pyarrow": pyarrow.__version__,
        "pandas": pandas.__version__,
        "numpy": numpy.__version__,
    }


def metric(value: float, unit: str) -> dict:
    return {"value": value, "unit": unit}
