"""Resumability: kill after round k, resume from the snapshot, final state
identical to an uninterrupted run (SURVEY.md §5.5 / north-rule checkpoint
contract)."""

from __future__ import annotations

import json
import math
import os
import shutil
from collections import Counter

from distributed_web_scrapper_and_crawler_spark.config import CrawlConfig
from distributed_web_scrapper_and_crawler_spark.plans.crawl import CrawlEngine


from tests.conftest import collect_engine_state as _collect_state

# the columns each state table is compared on (pages: its keys; metrics:
# everything but the wall clock)
_TABLE_COLS = {
    "pending": ("url", "url_hash", "host", "depth", "discovered_round", "seq", "added_by"),
    "done": ("url", "url_hash", "seq", "status", "completed_round"),
    "seen": ("url", "url_hash", "round"),
    "enqueued": ("url", "url_hash"),
    "pages": ("url", "depth", "round"),
    "metrics": ("round", "partition_id", "urls_claimed", "urls_fetched", "links_found", "links_new", "dedup_hits"),
}


def _tables(state) -> dict:
    """Every state table as a multiset of rows over ``_TABLE_COLS``."""
    return {
        name: Counter(tuple(r) for r in getattr(state, name).select(*cols).collect())
        for name, cols in _TABLE_COLS.items()
    }


def _manifest_tables(ckpt: str) -> set:
    """The distinct sorted table-name lists of every manifest in the store."""
    out = set()
    for d in os.listdir(ckpt):
        with open(os.path.join(ckpt, d, "_MANIFEST.json")) as f:
            out.add(tuple(sorted(json.load(f)["tables"])))
    return out


def test_kill_resume_equals_uninterrupted(spark, tiny_corpus, tiny_seeds, tmp_path, tiny_uninterrupted):
    cfg = CrawlConfig(parity_mode=True, round_budget=32)
    ckpt = str(tmp_path / "ckpt")

    eng = CrawlEngine(spark=spark, corpus=tiny_corpus, cfg=cfg, ckpt_dir=ckpt)
    eng.seed(tiny_seeds)
    eng.run(max_rounds=2)
    del eng  # "crash"

    eng2 = CrawlEngine(spark=spark, corpus=tiny_corpus, cfg=cfg, ckpt_dir=ckpt)
    eng2.resume()
    assert eng2.state.round == 1
    eng2.run()
    assert _collect_state(eng2) == tiny_uninterrupted


def test_uncommitted_round_is_invisible(spark, tiny_corpus, tiny_seeds, tmp_path, tiny_uninterrupted):
    """A round dir without _MANIFEST.json (crash mid-write) must be ignored:
    the manifest is the atomic commit marker."""
    cfg = CrawlConfig(parity_mode=True, round_budget=32)
    ckpt = str(tmp_path / "ckpt")
    eng = CrawlEngine(spark=spark, corpus=tiny_corpus, cfg=cfg, ckpt_dir=ckpt)
    eng.seed(tiny_seeds)
    eng.run(max_rounds=2)
    # simulate a crash mid-write of round 1: drop its manifest
    os.remove(os.path.join(ckpt, "round_000001", "_MANIFEST.json"))

    eng2 = CrawlEngine(spark=spark, corpus=tiny_corpus, cfg=cfg, ckpt_dir=ckpt)
    eng2.resume()
    assert eng2.state.round == 0  # round 1 never happened
    eng2.run()
    assert _collect_state(eng2) == tiny_uninterrupted


def test_checkpoint_every_2_loses_nothing(spark, tiny_corpus, tiny_seeds, tmp_path, tiny_uninterrupted):
    """checkpoint_every > 1 buffers skipped rounds' deltas and unions them
    into the next durable write — resume state must equal a fresh run
    (ADVICE r1 #1: non-durable rounds were silently dropped)."""
    # budget 32 matches the shared tiny_uninterrupted reference; the budget
    # never binds on the tiny corpus so the buffering behavior under test
    # is unchanged
    cfg = CrawlConfig(parity_mode=True, round_budget=32)
    ckpt = str(tmp_path / "ckpt")
    eng = CrawlEngine(spark=spark, corpus=tiny_corpus, cfg=cfg, ckpt_dir=ckpt, checkpoint_every=2)
    eng.seed(tiny_seeds)
    eng.run(max_rounds=3)  # rounds 0,1,2: round 1 is non-durable, flushed at stop
    del eng

    eng2 = CrawlEngine(spark=spark, corpus=tiny_corpus, cfg=cfg, ckpt_dir=ckpt, checkpoint_every=2)
    eng2.resume()
    assert eng2.state.round == 2
    eng2.run()
    assert _collect_state(eng2) == tiny_uninterrupted


def test_lifecycle_mutations_survive_restart(spark, tiny_corpus, tiny_seeds, tmp_path):
    """enqueue_seeds / cancel / readmit must commit to the store so a
    restart can't resurrect cancelled URLs or re-crawl stream-enqueued
    seeds (ADVICE r1 #2)."""
    from pyspark.sql import functions as F

    cfg = CrawlConfig(parity_mode=True, round_budget=8)
    ckpt = str(tmp_path / "ckpt")
    eng = CrawlEngine(spark=spark, corpus=tiny_corpus, cfg=cfg, ckpt_dir=ckpt)
    eng.seed(tiny_seeds)
    eng.run(max_rounds=2)
    n_cancelled = eng.cancel()
    assert n_cancelled > 0
    live_cancelled = {
        r["url"] for r in eng.state.done.filter("status = 'cancelled'").collect()
    }
    del eng  # "crash" right after cancel

    eng2 = CrawlEngine(spark=spark, corpus=tiny_corpus, cfg=cfg, ckpt_dir=ckpt)
    eng2.resume()
    stored_cancelled = {
        r["url"] for r in eng2.state.done.filter("status = 'cancelled'").collect()
    }
    assert stored_cancelled == live_cancelled  # cancel survived the restart
    assert eng2.state.pending_count == 0

    # readmit + re-enqueue, crash again, resume: the re-crawl must proceed
    eng2.readmit_cancelled()
    n = eng2.enqueue_seeds(sorted(live_cancelled))
    assert n == len(live_cancelled)
    enq_live = eng2.state.enqueued.count()
    del eng2

    # the same lifecycle on an engine without a store, whose enqueued
    # table is maintained by every transition, not derived (seen is
    # derived from done on both sides)
    twin = CrawlEngine(spark=spark, corpus=tiny_corpus, cfg=cfg)
    twin.seed(tiny_seeds)
    twin.run(max_rounds=2)
    twin.cancel()
    twin.readmit_cancelled()
    twin.enqueue_seeds(sorted(live_cancelled))

    eng3 = CrawlEngine(spark=spark, corpus=tiny_corpus, cfg=cfg, ckpt_dir=ckpt)
    eng3.resume()
    assert eng3.state.done.filter("status = 'cancelled'").count() == 0  # readmit survived
    assert eng3.state.enqueued.count() == enq_live  # enqueue_seeds survived
    assert eng3.state.pending_count == len(live_cancelled)
    assert _tables(eng3.state) == _tables(twin.state)
    eng3.run()
    twin.run()
    seen = {r["url"] for r in eng3.state.seen.collect()}
    in_corpus = {r["doc_id"] for r in tiny_corpus.select("doc_id").collect()}
    assert {u for u in live_cancelled if u in in_corpus} <= seen

    # the store holds pending, done, pages and metrics only; resume derives
    # enqueued equal to the maintained table, and seen equal, as multisets
    assert _manifest_tables(ckpt) == {("done", "metrics", "pages", "pending")}
    eng4 = CrawlEngine(spark=spark, corpus=tiny_corpus, cfg=cfg, ckpt_dir=ckpt)
    eng4.resume()
    assert _tables(eng4.state) == _tables(twin.state)


def test_compaction_preserves_state(spark, tiny_corpus, tiny_seeds, tmp_path):
    cfg = CrawlConfig(parity_mode=True, round_budget=4)
    ckpt = str(tmp_path / "ckpt")
    eng = CrawlEngine(spark=spark, corpus=tiny_corpus, cfg=cfg, ckpt_dir=ckpt)
    eng.store.compact_every = 2  # force frequent compaction
    eng.seed(tiny_seeds)
    eng.run(max_rounds=5)
    eng2 = CrawlEngine(spark=spark, corpus=tiny_corpus, cfg=cfg, ckpt_dir=ckpt)
    eng2.resume()
    a = sorted(r["url"] for r in eng.state.enqueued.collect())
    b = sorted(r["url"] for r in eng2.state.enqueued.collect())
    assert a == b
    assert eng2.state.round == eng.state.round


def test_compaction_bounds_file_count(spark, tiny_corpus, tiny_seeds, tmp_path):
    """A compacted table holds ceil(chain bytes / COMPACT_FILE_BYTES) files
    (at least one), however many partitions its inputs were read as; two
    compaction cycles leave the resumed state equal to an engine without a
    store."""
    from distributed_web_scrapper_and_crawler_spark.plans.checkpoint import (
        APPEND_TABLES,
        COMPACT_FILE_BYTES,
        _dir_bytes,
    )

    cfg = CrawlConfig(parity_mode=True, round_budget=2)
    ckpt = str(tmp_path / "ckpt")
    eng = CrawlEngine(spark=spark, corpus=tiny_corpus, cfg=cfg, ckpt_dir=ckpt)
    eng.store.compact_every = 2
    eng.seed(tiny_seeds)
    eng.run(max_rounds=5)  # rounds 0-4: chains compact at rounds 2 and 4
    assert eng.state.round == 4

    store = eng.store
    compacted = {name: 0 for name in APPEND_TABLES}
    for rnd in store.list_rounds()[1:]:
        prior = store._read_manifest(rnd - 1)["tables"]
        for name in APPEND_TABLES:
            if len(prior[name]) < store.compact_every:
                continue
            compacted[name] += 1
            want = max(1, math.ceil(_dir_bytes(prior[name]) / COMPACT_FILE_BYTES))
            (path,) = store._read_manifest(rnd)["tables"][name]
            files = [f for f in os.listdir(path) if f.endswith(".parquet")]
            assert len(files) == want, (rnd, name, files)
    assert compacted == {name: 2 for name in APPEND_TABLES}

    # a manifest from a store that still persisted seen and enqueued loads
    # the same: those entries are ignored
    mpath = store._manifest_path(4)
    with open(mpath) as f:
        m = json.load(f)
    m["tables"].update(seen=[os.path.join(ckpt, "gone")], enqueued=[os.path.join(ckpt, "gone")])
    with open(mpath, "w") as f:
        json.dump(m, f)

    twin = CrawlEngine(spark=spark, corpus=tiny_corpus, cfg=cfg)
    twin.seed(tiny_seeds)
    twin.run(max_rounds=5)
    eng2 = CrawlEngine(spark=spark, corpus=tiny_corpus, cfg=cfg, ckpt_dir=ckpt)
    eng2.resume()
    assert eng2.state.round == 4
    assert _tables(eng2.state) == _tables(twin.state)


def test_round_stats_match_done(spark, tiny_corpus, tiny_seeds, tmp_path):
    """On the default production config each round's metrics row agrees
    with the rows the round wrote, live and after resume: urls_claimed and
    urls_fetched are that round's done and completed rows, dedup_hits is
    links_found - links_new, and no stat is NULL."""
    from pyspark.sql import functions as F

    cfg = CrawlConfig(parity_mode=False)
    ckpt = str(tmp_path / "ckpt")
    eng = CrawlEngine(spark=spark, corpus=tiny_corpus, cfg=cfg, ckpt_dir=ckpt)
    eng.seed(tiny_seeds)
    eng.run(max_rounds=3)
    n_rounds = len(eng.round_stats)
    assert n_rounds >= 2
    eng2 = CrawlEngine(spark=spark, corpus=tiny_corpus, cfg=cfg, ckpt_dir=ckpt)
    eng2.resume()

    cols = ("urls_claimed", "urls_fetched", "links_found", "links_new", "dedup_hits")
    for state in (eng.state, eng2.state):
        per_round = {
            r["completed_round"]: (r["claimed"], r["completed"])
            for r in state.done.groupBy("completed_round")
            .agg(
                F.count("*").alias("claimed"),
                F.count(F.when(F.col("status") == "completed", 1)).alias("completed"),
            )
            .collect()
        }
        rows = state.metrics.filter("partition_id = -1").select("round", *cols).collect()
        assert sorted(r["round"] for r in rows) == list(range(n_rounds))
        for r in rows:
            assert all(r[c] is not None for c in cols), r
            assert (r["urls_claimed"], r["urls_fetched"]) == per_round[r["round"]], r
            assert r["dedup_hits"] == r["links_found"] - r["links_new"], r
        assert sum(r["urls_fetched"] for r in rows) > 0
        assert sum(r["links_found"] for r in rows) > 0
    for s in eng.round_stats:
        assert s["urls_fetched"] == per_round[s["round"]][1]
        assert s["dedup_hits"] == s["links_found"] - s["links_new"]


def test_table_format_probe(spark, tmp_path):
    """The store probes for an ACID runtime (Iceberg jar > delta-spark >
    parquet-manifest fallback) and configures itself accordingly; every
    other test in this file exercises whichever backend the environment
    offers (VERDICT r1 #9)."""
    from distributed_web_scrapper_and_crawler_spark.plans.checkpoint import CheckpointStore
    from distributed_web_scrapper_and_crawler_spark.session import probe_table_format

    fmt = probe_table_format()
    assert fmt in ("iceberg", "delta", "parquet-manifest")
    store = CheckpointStore(spark, str(tmp_path / "s"))
    assert store.storage_format == ("delta" if fmt == "delta" else "parquet")


def test_delta_branch_exercised_with_stub(spark, tmp_path, monkeypatch):
    """Force storage_format='delta' and drive the Delta read/write branches
    with stub writer/reader objects — the sandbox ships no delta-spark, so
    this is the honest way to keep the ACID path executed (VERDICT r2 #5).
    If delta-spark IS present, test_kill_resume_* already round-trips it."""
    from types import SimpleNamespace

    import distributed_web_scrapper_and_crawler_spark.session as sess
    from distributed_web_scrapper_and_crawler_spark.plans.checkpoint import CheckpointStore

    monkeypatch.setattr(sess, "probe_table_format", lambda: "delta")
    store = CheckpointStore(spark, str(tmp_path / "d"))
    assert store.storage_format == "delta"

    # _write must route through .format('delta')
    calls: dict = {}

    class _W:
        def mode(self, m):
            calls["mode"] = m
            return self

        def format(self, f):
            calls["format"] = f
            return self

        def save(self, p):
            calls["path"] = p

    store._write(SimpleNamespace(write=_W()), str(tmp_path / "d" / "t"))
    assert calls == {"mode": "overwrite", "format": "delta", "path": str(tmp_path / "d" / "t")}

    # _read must load each path via format('delta') and union the parts
    class _FakeDF:
        def __init__(self, paths):
            self.paths = paths

        def unionByName(self, other):
            return _FakeDF(self.paths + other.paths)

    class _R:
        def format(self, f):
            assert f == "delta"
            return self

        def load(self, p):
            return _FakeDF([p])

    store.spark = SimpleNamespace(read=_R())
    out = store._read(None, ["p1", "p2", "p3"])
    assert out.paths == ["p1", "p2", "p3"]


def test_flush_caches_pins_buffered_deltas(spark, tiny_corpus, tiny_seeds, tmp_path, tiny_uninterrupted):
    """flush_caches(materialize=True) unpersists the retained round caches;
    buffered (not-yet-durable) deltas from checkpoint_every > 1 are lazy
    plans over those caches and must be localCheckpointed first, so the
    eventual flush_to_store() writes pinned rows instead of re-running the
    buffered rounds from lineage (ADVICE r4 medium). The resumed crawl must
    end exactly where an uninterrupted one does."""
    cfg = CrawlConfig(
        parity_mode=True,
        round_budget=32,
        lazy_output_tables=True,
    )
    ckpt = str(tmp_path / "ckpt")
    eng = CrawlEngine(
        spark=spark, corpus=tiny_corpus, cfg=cfg, ckpt_dir=ckpt, checkpoint_every=3
    )
    eng.seed(tiny_seeds)
    # round 1 is non-durable: its deltas sit in _buffered_deltas as lazy
    # plans over the caches retained by lazy_output_tables
    for _ in range(2):
        from distributed_web_scrapper_and_crawler_spark.plans.round import run_round

        res = run_round(eng.spark, eng.state, eng.corpus, eng.cfg)
        assert not res.drained
        eng._materialize(res)
    assert eng._buffered_deltas and eng._retained_caches
    eng.flush_caches(materialize=True)  # user frees memory mid-crawl
    eng.flush_to_store()  # writes the pinned buffered rounds
    eng.run()  # finish the crawl

    eng2 = CrawlEngine(
        spark=spark, corpus=tiny_corpus, cfg=cfg, ckpt_dir=ckpt, checkpoint_every=3
    )
    eng2.resume()
    eng2.run()
    assert _collect_state(eng2) == tiny_uninterrupted


def test_store_less_rounds_leave_no_driver_temp_files(spark, tiny_corpus, tiny_seeds):
    """A round broadcasts nothing from Python. Every Python broadcast
    pickles its value into the driver's temp dir and keeps the file until
    it is destroyed, so a crawl that left one per round would grow the
    driver's disk with the crawl's length."""
    temp_dir = spark.sparkContext._temp_dir
    before = set(os.listdir(temp_dir))
    eng = CrawlEngine(
        spark=spark, corpus=tiny_corpus, cfg=CrawlConfig(parity_mode=True, round_budget=1)
    )
    eng.seed(tiny_seeds)
    eng.run(max_rounds=3)
    assert len(eng.round_stats) == 3
    assert set(os.listdir(temp_dir)) - before == set()
