"""``crawl_durable``: a politeness-limited crawl with a durable commit
every round, as a user would run it.

Default ``CrawlConfig`` (production semantics: per-host budget 16,
stats collected, broadcast fetch), a checkpoint store in a fresh
directory, ``checkpoint_every=1``, and a BFS from one seed per host.
The op is one ``CrawlEngine.run(max_rounds=1)``: one round plus its
durable commit. Round 0 is the untimed warm-up; the timed rounds are a
whole number of compaction cycles, so every run holds the same
compactions.
"""

from __future__ import annotations

import os
import time
from dataclasses import dataclass, field

from harness import OUT_DIR, JobGroups, Tracer, p50, udf_profile_seconds, work_per_s

# engine phase (round_stats[i]["phases"] key) -> layer span name, in the
# order run_round and run() execute them
PHASES = (
    ("claim", "plans.politeness.claim"),
    ("links", "plans.round.links"),
    ("dedup_seq", "plans.round.dedup_seq"),
    ("bloom_add", "operators.bloom.add"),
    ("fetched_count", "plans.round.fetched_count"),
    ("materialize", "plans.crawl.materialize"),
)
ROUND_SPAN = "plans.crawl.round"
# CheckpointStore.compact_every for the run's store. With round 0 as the
# warm-up, timed rounds 1-3 are one whole cycle: round 2 compacts
# ``enqueued`` (its chain also holds the seeds' commit) and round 3 the
# other append tables. The default (8) would need 8 timed rounds of ~7 s.
COMPACT_EVERY = 3
UDF_MODULES = {
    "functions.canonicalize": "functions.canonicalize.kernel_s",
    "operators.extract": "operators.extract.udf_s",
    "operators.bloom": "operators.bloom.probe_udf_s",
}


@dataclass(frozen=True)
class Params:
    n_hosts: int = 40
    docs_per_host: int = 60
    links_per_doc: int = 16
    cycles: int = 1  # timed rounds = COMPACT_EVERY * cycles
    resumes: int = 3

    @property
    def timed_rounds(self) -> int:
        return COMPACT_EVERY * self.cycles


def corpus_spec(seed: int, p: Params):
    from distributed_web_scrapper_and_crawler_spark.config import CorpusSpec

    return CorpusSpec(
        seed=seed,
        n_hosts=p.n_hosts,
        docs_per_host=p.docs_per_host,
        links_per_doc=p.links_per_doc,
        hot_host_share=0.3,
        query_fragment_rate=0.5,
        relative_href_rate=0.4,
    )


def load_corpus(spark, seed: int, p: Params, path: str):
    """Generate the seeded web with ``sources.corpus``, write it once as
    parquet and cache it: the crawl's "network"."""
    from distributed_web_scrapper_and_crawler_spark.sources.corpus import (
        generate_corpus,
        read_corpus,
        write_corpus_parquet,
    )

    spec = corpus_spec(seed, p)
    write_corpus_parquet(generate_corpus(spec), path)
    corpus = read_corpus(spark, path).cache()
    corpus.count()
    return corpus, spec


def traced_store(tracer: Tracer):
    """A CheckpointStore whose write and load calls are spans."""
    from distributed_web_scrapper_and_crawler_spark.plans.checkpoint import CheckpointStore

    class TracedStore(CheckpointStore):
        def write_round(self, state, deltas):
            with tracer.span("plans.checkpoint.write"):
                return super().write_round(state, deltas)

        def load_state(self, field_names, rnd=None):
            with tracer.span("plans.checkpoint.load"):
                return super().load_state(field_names, rnd)

    return TracedStore


def dir_bytes(path: str) -> int:
    total = 0
    for root, _, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(root, f))
    return total


@dataclass
class Pass:
    """One crawl from seeding to the last timed round."""

    engine: object
    store_dir: str
    n_seeds: int
    counts: list  # (urls_claimed, links_found, links_new) per round, round 0 first
    op_s: list = field(default_factory=list)
    failures: list = field(default_factory=list)
    bytes: list = field(default_factory=list)  # store growth per timed round
    jobs: list = field(default_factory=list)
    tasks: list = field(default_factory=list)


def start_pass(spark, corpus, spec, p: Params, store_dir: str, tracer: Tracer) -> Pass:
    """New engine and store, seed, then round 0 (the untimed warm-up)."""
    from distributed_web_scrapper_and_crawler_spark.config import CrawlConfig
    from distributed_web_scrapper_and_crawler_spark.plans.checkpoint import CheckpointStore
    from distributed_web_scrapper_and_crawler_spark.plans.crawl import CrawlEngine

    eng = CrawlEngine(
        spark=spark, corpus=corpus, cfg=CrawlConfig(parity_mode=False), ckpt_dir=store_dir
    )
    store_cls = traced_store(tracer) if tracer.enabled else CheckpointStore
    eng.store = store_cls(spark, store_dir, compact_every=COMPACT_EVERY)
    eng.seed([f"http://{h}/page/0" for h in spec.hosts])
    n_seeds = eng.state.pending_count
    eng.run(max_rounds=1)
    s = eng.round_stats[-1]
    return Pass(eng, store_dir, n_seeds, [(s["urls_claimed"], s["links_found"], s["links_new"])])


def timed_rounds(ps: Pass, p: Params, tracer: Tracer, jobs: JobGroups) -> None:
    from pyspark.sql import functions as F

    eng = ps.engine
    for r in range(p.timed_rounds):
        gid = f"round-{r + 1}"
        before_stats = len(eng.round_stats)
        before_bytes = dir_bytes(ps.store_dir)
        with jobs.group(gid), tracer.span(ROUND_SPAN, op=gid) as sp:
            t0 = time.monotonic()
            eng.run(max_rounds=1)
            dt = time.monotonic() - t0
        ps.op_s.append(dt)
        ps.bytes.append(dir_bytes(ps.store_dir) - before_bytes)
        if len(eng.round_stats) == before_stats:
            ps.failures.append(f"{gid}: frontier drained")
            ps.counts.append((0, 0, 0))
            continue
        s = eng.round_stats[-1]
        ps.counts.append((s["urls_claimed"], s["links_found"], s["links_new"]))
        if tracer.enabled:
            n_jobs, n_tasks = jobs.counts(gid)
            ps.jobs.append(n_jobs)
            ps.tasks.append(n_tasks)
            _add_phase_spans(tracer, sp, s["phases"])
        # untimed output check: enqueued is duplicate-free and holds
        # exactly the seeds plus every round's new links
        n, n_distinct = eng.state.enqueued.agg(F.count("*"), F.countDistinct("url")).first()
        expected = ps.n_seeds + sum(c[2] for c in ps.counts)
        if n != n_distinct or n != expected:
            ps.failures.append(f"{gid}: enqueued {n} rows, {n_distinct} distinct, expected {expected}")


def _add_phase_spans(tracer: Tracer, round_span, phases: dict) -> None:
    """Lay the engine's phase timings out as child spans ending at the
    round's end, and move the checkpoint spans recorded during the round
    under the materialize span (the durable commit runs inside it)."""
    end = round_span.end
    starts = {}
    for key, name in reversed(PHASES):
        d = phases.get(key, 0.0)
        starts[name] = tracer.add(name, end - d, end, round_span.sid, round_span.op)
        end -= d
    mat = starts["plans.crawl.materialize"]
    for s in tracer.spans:
        if s.parent == round_span.sid and s.name.startswith("plans.checkpoint."):
            s.parent = mat.sid


def end_checks(ps: Pass, budget: int) -> list[str]:
    """Claim invariants over the whole pass, attributed to rounds: no URL
    claimed twice, and no host over its per-round budget."""
    from pyspark.sql import functions as F

    done = ps.engine.state.done.filter(F.col("status").isin("completed", "failed"))
    twice = (
        done.groupBy("url")
        .agg(F.count("*").alias("n"), F.max("completed_round").alias("r"))
        .filter("n > 1")
        .select("r")
        .distinct()
        .collect()
    )
    over = (
        done.groupBy("completed_round", "host")
        .count()
        .filter(F.col("count") > budget)
        .select("completed_round")
        .distinct()
        .collect()
    )
    out = [f"round-{row['r']}: a URL claimed twice" for row in twice]
    out += [f"round-{row['completed_round']}: a host over budget {budget}" for row in over]
    return out


def resume_checks(spark, corpus, ps: Pass, p: Params, tracer: Tracer) -> tuple[list, list]:
    """Restart latency: fresh engines resume from the final store. Each
    must see the live engine's pending count and enqueued set."""
    from distributed_web_scrapper_and_crawler_spark.config import CrawlConfig
    from distributed_web_scrapper_and_crawler_spark.plans.crawl import CrawlEngine

    live = ps.engine.state
    live_enq = live.enqueued.count()
    times, failures = [], []
    for i in range(p.resumes):
        eng = CrawlEngine(
            spark=spark, corpus=corpus, cfg=CrawlConfig(parity_mode=False), ckpt_dir=ps.store_dir
        )
        if tracer.enabled:
            eng.store = traced_store(tracer)(spark, ps.store_dir)
        with tracer.span("plans.crawl.resume", op=f"resume-{i}"):
            t0 = time.monotonic()
            st = eng.resume()
            times.append(time.monotonic() - t0)
        got = (st.pending_count, st.enqueued.count())
        if got != (live.pending_count, live_enq):
            failures.append(f"resume-{i}: pending/enqueued {got} vs live {(live.pending_count, live_enq)}")
    return times, failures


def run(spark, dirs, seed: int, p: Params, trace: bool, mark_setup) -> dict:
    """Run the workload. ``mark_setup`` is called right before the first
    timed op and returns the set-up time. With ``trace`` the same pass
    records spans, job-group counts and UDF profiles."""
    from distributed_web_scrapper_and_crawler_spark.config import CrawlConfig

    tracer = Tracer(enabled=trace)
    jobs = JobGroups(spark)
    t0 = time.monotonic()
    corpus, spec = load_corpus(spark, seed, p, os.path.join(dirs.sub("data"), "corpus.parquet"))
    gen_s = time.monotonic() - t0

    if trace:
        spark.conf.set("spark.sql.pyspark.udf.profiler", "perf")
    t0 = time.monotonic()
    ps = start_pass(spark, corpus, spec, p, dirs.sub("store"), tracer)
    warm_s = time.monotonic() - t0
    if trace:
        spark.profile.clear(type="perf")
        tracer.spans.clear()
    setup_s = mark_setup()
    timed_rounds(ps, p, tracer, jobs)
    if trace:
        udf = udf_profile_seconds(spark, dirs.sub("profiles"))
        spark.conf.unset("spark.sql.pyspark.udf.profiler")
    failures = list(ps.failures)
    resume_s, resume_fail = resume_checks(spark, corpus, ps, p, tracer)
    failures += resume_fail
    failures += end_checks(ps, CrawlConfig().per_host_budget)
    corpus.unpersist()

    timed = ps.counts[-len(ps.op_s):]
    claimed = sum(c[0] for c in timed)
    found = sum(c[1] for c in timed)
    out = {
        "ops": [f"round-{r + 1}" for r in range(p.timed_rounds)]
        + [f"resume-{i}" for i in range(p.resumes)],
        "failures": failures,
        "e2e": {
            "setup_s": setup_s,
            "op_s_p50": p50(ps.op_s),
            "work_per_s": work_per_s(claimed + found, ps.op_s),
        },
        "detail": {
            "op_s": ps.op_s,
            "resume_s": resume_s,
            "round_counts": ps.counts,
            "store_bytes": ps.bytes,
            "setup": {"sources.corpus.generate_s": gen_s, "setup.warmup_s": warm_s},
        },
    }
    if trace:
        out["layers"] = layer_metrics(tracer, ps, udf)
        out["layers"].update(
            {
                "plans.crawl.resume_s": p50(resume_s),
                "sources.corpus.generate_s": gen_s,
                "setup.warmup_s": warm_s,
            }
        )
        tracer.dump(
            os.path.join(OUT_DIR, "trace-crawl_durable.json"),
            {"udf_profile_s": udf, "round_counts": ps.counts, "jobs": ps.jobs, "tasks": ps.tasks},
        )
    return out


def layer_metrics(tracer: Tracer, ps: Pass, udf: dict[str, float]) -> dict[str, float]:
    """Per-round means of each layer's self time, plus counts and ratios."""
    n = len(ps.op_s)
    selfs = tracer.self_times()
    layer_s: dict[str, float] = {}
    for s in tracer.spans:
        if s.op is not None and s.op.startswith("round-"):
            layer_s[s.name] = layer_s.get(s.name, 0.0) + selfs[s.sid]
    timed = ps.counts[-n:]
    claimed = sum(c[0] for c in timed)
    found = sum(c[1] for c in timed)
    new = sum(c[2] for c in timed)
    out = {
        f"{name}_s": layer_s.get(name, 0.0) / n
        for name in (*(span for _, span in PHASES), "plans.checkpoint.write", "plans.checkpoint.load")
    }
    out.update(
        {
            "plans.round.other_s": layer_s.get(ROUND_SPAN, 0.0) / n,
            "plans.checkpoint.bytes_per_round": sum(ps.bytes) / n,
            "plans.checkpoint.bytes_per_url": sum(ps.bytes) / max(1, claimed),
            "spark.jobs_per_round": sum(ps.jobs) / n,
            "spark.tasks_per_round": sum(ps.tasks) / n,
            "plans.round.urls_claimed": claimed / n,
            "plans.round.links_found": found / n,
            "plans.round.links_new": new / n,
            "plans.round.dedup_hit_ratio": 1.0 - new / found if found else 0.0,
            "trace.op_s_p50": p50(ps.op_s),
            # share of round wall the named layers account for
            "trace.round_coverage": 1.0 - layer_s.get(ROUND_SPAN, 0.0) / sum(ps.op_s),
        }
    )
    for module, name in UDF_MODULES.items():
        out[name] = udf.get(module, 0.0) / n
    return out
