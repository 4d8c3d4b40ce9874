"""Crawl driver loop: seed -> rounds until drained -> checkpointed state.

``while pending > 0: run_round()`` replaces the reference's
worker pull loops + heartbeat threads (SURVEY.md §3.1). Between
checkpoint writes, state lineage is truncated with ``localCheckpoint``
so iterative unions don't stack into an ever-deeper plan.
"""

from __future__ import annotations

import time
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from distributed_web_scrapper_and_crawler_spark.config import CrawlConfig
from distributed_web_scrapper_and_crawler_spark.functions.canonicalize import (
    allowed_domain_filter,
    canonicalize_udf,
)
from distributed_web_scrapper_and_crawler_spark.plans.checkpoint import (
    APPEND_TABLES,
    CheckpointStore,
)
from distributed_web_scrapper_and_crawler_spark.plans.round import run_round
from distributed_web_scrapper_and_crawler_spark.plans.seq import assign_global_seq
from distributed_web_scrapper_and_crawler_spark.plans.state import CrawlState, empty_state


@dataclass
class CrawlEngine:
    spark: SparkSession
    corpus: DataFrame
    cfg: CrawlConfig
    ckpt_dir: str | None = None
    checkpoint_every: int = 1  # rounds between durable snapshots
    robots: DataFrame | None = None
    state: CrawlState | None = None
    round_stats: list[dict] = field(default_factory=list)
    _retained_caches: list = field(default_factory=list)
    # deltas of rounds completed since the last durable commit
    # (checkpoint_every > 1): unioned into the next write_round so no
    # round's done/pages/metrics rows are ever dropped from the store
    _buffered_deltas: dict = field(default_factory=dict)

    def flush_caches(self, materialize: bool = True) -> None:
        """Unpersist the round caches retained by lazy_output_tables.

        A still-lazy plan over a released cache recomputes its whole
        round from lineage on its next read. With ``materialize=True``
        (default) the state tables are ``localCheckpoint()``ed first, so
        post-flush reads of ``state.*`` stay cheap; internal durable
        commits pass ``materialize=False`` because state was just
        reloaded from the parquet store and references nothing
        retained."""
        if materialize and self._retained_caches and self.state is not None:
            st = self.state
            self.state = st.evolve(
                **{
                    k: getattr(st, k).localCheckpoint()
                    for k in ("pending", "done", "enqueued", "pages", "metrics")
                }
            )
        if materialize and self._retained_caches and self._buffered_deltas:
            # buffered (not-yet-durable) deltas are lazy plans over the same
            # retained caches: pin them too, or the eventual flush_to_store()
            # would re-run their rounds from lineage
            self._buffered_deltas = {
                k: v.localCheckpoint() for k, v in self._buffered_deltas.items()
            }
        for c in self._retained_caches:
            c.unpersist()
        self._retained_caches.clear()

    def __post_init__(self):
        self.store = (
            CheckpointStore(self.spark, self.ckpt_dir) if self.ckpt_dir else None
        )

    # -- seeding (scheduler.py:62-117 / seed_urls.py:32-94) ---------------
    def seed(self, urls: list[str]) -> CrawlState:
        """Insert seeds at depth 0 iff allowed ∧ not already queued; seq =
        input order (the deterministic stand-in for time.time() at
        scheduler.py:82)."""
        state = empty_state(self.spark, self.cfg.field_names())
        seeds = self.spark.createDataFrame(
            [(u, i) for i, u in enumerate(urls)], "raw_url string, input_order long"
        )
        canon = canonicalize_udf(parity=self.cfg.parity_mode)
        seeds = seeds.withColumn("_c", canon("raw_url")).select(
            "input_order", F.col("_c.url").alias("url"), F.col("_c.host").alias("host")
        )
        seeds = seeds.filter(allowed_domain_filter(F.col("host"), self.cfg.allowed_domains, parity=self.cfg.parity_mode))
        w = Window.partitionBy("url").orderBy("input_order")
        seeds = seeds.withColumn("_rn", F.row_number().over(w)).filter(F.col("_rn") == 1).drop("_rn")
        # bucketed dense rank, NOT a global single-partition window: bench
        # frontiers seed 100k+ URLs at once (plans/seq.py)
        seeds, n = assign_global_seq(seeds, start=0, order_cols=("input_order",))
        pending = seeds.select(
            "url",
            F.xxhash64("url").alias("url_hash"),
            "host",
            F.lit(0).alias("depth"),
            F.lit(0).alias("discovered_round"),
            F.col("seq").cast("long"),
            F.lit("seed").alias("added_by"),
        ).localCheckpoint()
        state = state.evolve(
            pending=pending,
            enqueued=pending.select("url", "url_hash"),
            max_seq=n,
            round=-1,
            pending_count=n,
        )
        if self.store is not None:
            # commit the seeded state as round -1: the seeds' enqueued-set
            # membership must survive a restart or they would be re-crawled
            # when a page links back to a seed (the "any status" queue
            # check, server.py:440-443). The pending snapshot carries it:
            # the store derives enqueued from pending ∪ done.
            self.store.write_round(state, {})
        self.state = state
        return state

    def enqueue_seeds(self, urls: list[str]) -> int:
        """Enqueue extra seeds into a live crawl (the streaming-bridge path,
        streaming/rounds_stream.py). Same dedup contract as discovery:
        allowed ∧ not already enqueued; idempotent on (url_hash, url)."""
        assert self.state is not None, "call seed() first"
        self.flush_to_store()  # manifest must be current before the lifecycle commit
        st = self.state
        seeds = self.spark.createDataFrame(
            [(u, i) for i, u in enumerate(urls)], "raw_url string, input_order long"
        )
        canon = canonicalize_udf(parity=self.cfg.parity_mode)
        seeds = (
            seeds.withColumn("_c", canon("raw_url"))
            .select("input_order", F.col("_c.url").alias("url"), F.col("_c.host").alias("host"))
            .filter(allowed_domain_filter(F.col("host"), self.cfg.allowed_domains, parity=self.cfg.parity_mode))
        )
        w = Window.partitionBy("url").orderBy("input_order")
        seeds = seeds.withColumn("_rn", F.row_number().over(w)).filter(F.col("_rn") == 1).drop("_rn")
        seeds = seeds.withColumn("url_hash", F.xxhash64("url")).join(
            st.enqueued, ["url_hash", "url"], "left_anti"
        )
        # bucketed dense rank (no single-partition window), like seed()
        seeds, n = assign_global_seq(seeds, start=st.max_seq, order_cols=("input_order",))
        rows = seeds.select(
            "url",
            "url_hash",
            "host",
            F.lit(0).alias("depth"),
            F.lit(st.round + 1).alias("discovered_round"),
            F.col("seq").cast("long").alias("seq"),
            F.lit("seed").alias("added_by"),
        ).localCheckpoint()
        if n:
            self.state = st.evolve(
                pending=st.pending.unionByName(rows),
                enqueued=st.enqueued.unionByName(rows.select("url", "url_hash")),
                max_seq=st.max_seq + n,
                pending_count=st.pending_count + n,
                round=st.round + 1,  # a lifecycle mutation is its own round
            )
            # durably commit: stream-enqueued seeds must keep their enqueued
            # membership across a restart or a later link to them would be
            # re-crawled (exactly-once contract, streaming/rounds_stream.py);
            # the pending snapshot carries it
            self._commit_lifecycle()
        return n

    def cancel(self) -> int:
        """Stop-crawl: bulk pending -> cancelled (app.py:611-633)."""
        from distributed_web_scrapper_and_crawler_spark.plans.politeness import cancel_pending

        assert self.state is not None
        self.flush_to_store()
        st = self.state
        n = st.pending_count
        new_pending, new_done, cancelled_delta = cancel_pending(st.pending, st.done, rnd=st.round + 1)
        self.state = st.evolve(
            pending=new_pending.localCheckpoint(), done=new_done, pending_count=0, round=st.round + 1
        )
        self._commit_lifecycle(append_deltas={"done": cancelled_delta})
        return n

    def _commit_lifecycle(self, append_deltas: dict | None = None, snapshot: bool = False) -> None:
        """Persist a lifecycle mutation when a store is attached; no-op
        otherwise. Append-expressible mutations commit as a normal round:
        cancel appends its ``done`` rows, enqueue_seeds changes only
        ``pending`` (snapshotted every round); shrinking mutations
        (readmit) need a full snapshot. Buffered rounds are flushed first
        so the prior manifest is current."""
        if self.store is None:
            return
        if snapshot:
            self.store.write_snapshot(self.state)
        else:
            self.store.write_round(self.state, append_deltas or {})
        self.state = self.store.load_state(self.cfg.field_names(), rnd=self.state.round)
        self.flush_caches(materialize=False)  # state is parquet-backed now

    def readmit_cancelled(self) -> int:
        """Make cancelled URLs enqueueable again — the deletable-entry path
        the reference cannot express (its "any status" queue check blocks
        cancelled URLs forever, server.py:440-443). Removes them from the
        ``enqueued`` key set that every round's dedup anti-joins against."""
        assert self.state is not None
        self.flush_to_store()
        st = self.state
        cancelled = st.done.filter(F.col("status") == "cancelled").select("url", "url_hash")
        cancelled = cancelled.localCheckpoint()
        n = cancelled.count()
        if n == 0:
            return 0
        new_enqueued = st.enqueued.join(cancelled, ["url_hash", "url"], "left_anti").localCheckpoint()
        new_done = st.done.filter(F.col("status") != "cancelled").localCheckpoint()
        self.state = st.evolve(enqueued=new_enqueued, done=new_done, round=st.round + 1)
        # removal is not append-expressible => full snapshot commit
        self._commit_lifecycle(snapshot=True)
        return n

    def resume(self) -> CrawlState:
        """Reload the latest committed snapshot; the store derives
        ``enqueued`` and ``seen`` from it on load."""
        assert self.store is not None, "resume requires ckpt_dir"
        self.state = self.store.load_state(self.cfg.field_names())
        return self.state

    # -- the loop ---------------------------------------------------------
    def run(self, max_rounds: int | None = None, collect_partition_metrics: bool = False) -> CrawlState:
        assert self.state is not None, "call seed() or resume() first"
        rounds_done = 0
        while max_rounds is None or rounds_done < max_rounds:
            res = run_round(
                self.spark,
                self.state,
                self.corpus,
                self.cfg,
                robots=self.robots,
                collect_partition_metrics=collect_partition_metrics,
            )
            if res.drained:
                break
            t = time.monotonic()
            self._materialize(res)
            res.stats.setdefault("phases", {})["materialize"] = round(time.monotonic() - t, 3)
            self.round_stats.append(res.stats)
            rounds_done += 1
        # with checkpoint_every > 1 the run may stop between durable rounds;
        # commit the buffered tail so "run returned" implies "store current"
        self.flush_to_store()
        return self.state

    def _merge_buffered(self, deltas: dict) -> dict:
        """Union deltas buffered since the last durable commit with this
        round's — write_round must persist EVERY round's rows, including
        rounds skipped by checkpoint_every > 1."""
        if not self._buffered_deltas:
            return deltas
        merged = dict(deltas)
        for k, buffered in self._buffered_deltas.items():
            merged[k] = buffered.unionByName(merged[k]) if k in merged else buffered
        return merged

    def _commit_durable(self, state, deltas: dict) -> None:
        """Write a durable round (buffered + current deltas), reload state
        from the store, release retained caches (nothing references them
        once state is parquet-backed)."""
        self.store.write_round(state, self._merge_buffered(deltas))
        self._buffered_deltas = {}
        self.state = self.store.load_state(self.cfg.field_names(), rnd=state.round)
        self.flush_caches(materialize=False)  # state is parquet-backed now

    def flush_to_store(self) -> None:
        """Force-commit any rounds buffered by checkpoint_every > 1 (called
        automatically when a crawl drains; public for lifecycle callers)."""
        if self.store is not None and self._buffered_deltas:
            self._commit_durable(self.state, {})

    def _materialize(self, res) -> None:
        """Truncate lineage each round.

        - ``pending`` is the rewritten active set => full localCheckpoint
          (or parquet snapshot on durable rounds).
        - append-only tables (done/enqueued/pages/metrics) checkpoint
          ONLY this round's delta and lazily union it onto the previous
          (already-materialized) table — O(rows) total work across the
          crawl instead of O(rows x rounds). This is exactly the Iceberg
          append-file model, in block-manager form.
        """
        durable = self.store is not None and (res.state.round % self.checkpoint_every == 0)
        if durable:
            self._commit_durable(res.state, res.deltas)
        else:
            # Partition-count hygiene, but ONLY for the tables re-scanned
            # inside every round (enqueued anti-join, pending claim): a
            # 30-row delta checkpointed as 32 partitions costs a task per
            # partition in every later scan, and the append chain
            # accumulates hundreds of empty tasks. The write-only tables
            # (pages/done/metrics) keep their natural partitioning —
            # coalescing those would collapse the extraction UDF into one
            # task.
            st = res.stats

            def npart(n: int) -> int:
                # ~25k rows per partition, capped: tiny test states collapse
                # to 1 partition (no empty-task spam in the append chain)
                # while bench/production states keep enough partitions that
                # the NEXT round's claim scan and anti-join probe can use
                # every core — 200k/partition measured as the claim-phase
                # scaling ceiling at the 400k-doc bench (PLANS.md ledger)
                return max(1, min(64, n // 25_000 + 1))

            prev = self.state
            lazy_names = APPEND_TABLES if self.cfg.lazy_output_tables else ()
            todo = {
                k: v for k, v in res.deltas.items() if k != "enqueued" and k not in lazy_names
            }
            todo["enqueued"] = res.deltas["enqueued"].coalesce(npart(st["links_new"]))
            todo["pending"] = res.state.pending.coalesce(npart(res.state.pending_count))
            if self.cfg.lazy_output_tables:
                # lazy (eager=False) checkpoints: materialization folds into
                # the NEXT round's first action over each table (claim for
                # pending, the dedup anti-join for enqueued) instead of costing
                # two dedicated driver-scheduled jobs per round — measured
                # ~1 s/round of flat serial time on the crawl bench. Safe
                # here because this mode retains the round caches the lazy
                # plans read from (see bottom of this method).
                d = {k: v.localCheckpoint(eager=False) for k, v in todo.items()}
            else:
                d = {k: v.localCheckpoint() for k, v in todo.items()}
            for k in lazy_names:
                d[k] = res.deltas[k]  # lazy: plan over retained caches
            if self.store is not None:
                # a store is attached but this round isn't durable
                # (checkpoint_every > 1): buffer its deltas for the next
                # write_round so the store never silently loses rounds
                for k in APPEND_TABLES:
                    prev_buf = self._buffered_deltas.get(k)
                    self._buffered_deltas[k] = (
                        prev_buf.unionByName(d[k]) if prev_buf is not None else d[k]
                    )
            self.state = res.state.evolve(
                pending=d["pending"],
                done=prev.done.unionByName(d["done"]),
                enqueued=prev.enqueued.unionByName(d["enqueued"]),
                pages=prev.pages.unionByName(d["pages"]),
                metrics=prev.metrics.unionByName(d["metrics"]),
            )
        if self.cfg.lazy_output_tables and not durable:
            self._retained_caches.extend(res.caches)  # lazy deltas still need them
        else:
            for c in res.caches:
                c.unpersist()

    # -- observability ----------------------------------------------------
    def register_views(self, prefix: str = "crawl_") -> list[str]:
        """Expose the state tables as temp views so users can spark.sql()
        over them — the engine analog of pointing a dashboard at the
        reference's Mongo collections (app.py:144-149)."""
        assert self.state is not None
        names = []
        for name in ("pending", "done", "seen", "enqueued", "pages", "metrics"):
            getattr(self.state, name).createOrReplaceTempView(prefix + name)
            names.append(prefix + name)
        return names

    def claim_order(self) -> list[str]:
        """Reconstruct the global claim sequence from the done table —
        the engine analog of the oracle's claim_order."""
        assert self.state is not None
        rows = self.state.done.filter(F.col("status").isin("completed", "failed")).orderBy(
            "completed_round", "seq"
        )
        return [r["url"] for r in rows.select("url").collect()]
