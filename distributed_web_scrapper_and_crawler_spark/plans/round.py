"""One scheduling round — the engine's replacement for the reference's
entire worker/server/broker control plane (SURVEY.md §3.1 Spark trace).

A round turns steps 1-7 of the reference's per-URL loop into ONE
declarative plan over a whole batch::

    pending --window/limit--> claim --inner join corpus--> fetched
      fetched --Arrow UDFs--> pages + exploded links
      links --canonicalize/allow/dedup--> candidates
      candidates --anti-join enqueued--> new frontier rows
      state' = (pending - claim + new, done + claim, enqueued + new, ...)

Every boundary that was a socket / broker hop / Mongo round-trip in the
reference (server.py:378-414, distributed_crawler.py:282-291) is a
shuffle or a broadcast here, planned by Catalyst + AQE.

Scale notes (the 100 TB design points):
- claim⋈corpus: a ``left`` join from the claim side, so under
  ``fetch_join="auto"`` Spark may broadcast only the corpus side; when
  the corpus is small it does, otherwise both sides shuffle. On a real
  cluster the corpus is bucketed by ``url`` so this is a shuffle-free
  bucket join, which ``fetch_join="copartition"`` models (local-mode
  parquet can't bucket; documented, not faked).
- dedup: the intra-batch aggregate and the anti-join against
  ``enqueued`` both key on (url_hash, url), and hot-host skew lands on
  AQE's skew-join handling (hash keys spread hot *hosts* anyway).
- no ``collect()`` anywhere in the data path; the only driver traffic
  is bucket counts and the round's stats (tiny).
"""

from __future__ import annotations

import time
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from distributed_web_scrapper_and_crawler_spark.config import CrawlConfig
from distributed_web_scrapper_and_crawler_spark.functions.canonicalize import allowed_domain_filter
from distributed_web_scrapper_and_crawler_spark.operators.extract import (
    extract_fields_udf,
    link_rows,
    spans_sorted,
)
from distributed_web_scrapper_and_crawler_spark.plans.politeness import apply_robots, claim_batch
from distributed_web_scrapper_and_crawler_spark.plans.seq import assign_global_seq
from distributed_web_scrapper_and_crawler_spark.plans.state import (
    METRICS_SCHEMA,
    CrawlState,
    local_table,
)

FRONTIER_COLS = ["url", "url_hash", "host", "depth", "discovered_round", "seq", "added_by"]


@dataclass
class RoundResult:
    state: CrawlState
    deltas: dict[str, DataFrame]
    stats: dict
    drained: bool  # True when no pending URL was claimable
    caches: tuple[DataFrame, ...] = ()  # to unpersist once state is materialized


def run_round(
    spark: SparkSession,
    state: CrawlState,
    corpus: DataFrame,
    cfg: CrawlConfig,
    robots: DataFrame | None = None,
    collect_partition_metrics: bool = False,
) -> RoundResult:
    rnd = state.round + 1
    t0 = time.monotonic()

    phase_t: dict[str, float] = {}

    def _mark(name: str, t_start: float) -> None:
        phase_t[name] = round(time.monotonic() - t_start, 3)

    # exact pending_count is tracked arithmetically — drain detection is
    # free, no claim job needed to discover an empty frontier
    if state.pending_count == 0:
        return RoundResult(state, {}, {"round": rnd, "urls_claimed": 0}, drained=True)

    t = time.monotonic()
    claim = claim_batch(state.pending, cfg).cache()
    n_claimed = claim.count()
    _mark("claim", t)
    if n_claimed == 0:
        claim.unpersist()
        return RoundResult(state, {}, {"round": rnd, "urls_claimed": 0}, drained=True)

    rest_pending = state.pending.join(claim.select("url_hash", "url"), ["url_hash", "url"], "left_anti")

    # -- fetch: join the claimed batch against the corpus (the "network") --
    # The claim batch is budget-bounded (small); the corpus is the 100 TB
    # side. The claim is the preserved side of a left join, so Spark can
    # never broadcast it: under fetch_join="auto" the planner broadcasts
    # the corpus when it is small and otherwise shuffles both sides. On a
    # real cluster the unshuffled corpus is a bucket join on the Iceberg
    # corpus, which fetch_join="copartition" models (no bound on claim
    # size).
    corpus_keyed = corpus.withColumnRenamed("doc_id", "url")
    claim_side = claim
    if cfg.fetch_join == "copartition":
        # corpus is cached hash-partitioned on the key: only the ~budget-
        # sized claim side shuffles, and each task builds a tiny hash table
        # of its claim partition — no driver-side broadcast collect+build
        # (serial per round at any cluster size)
        claim_side = claim.hint("shuffle_hash")
    # ONE left join yields both outcomes: matched rows are the fetch,
    # null-extended rows are the failures — the separate claim ⋈ fetched
    # anti-join used to cost a second join (and a second driver-side
    # broadcast build) every round
    joined = (
        claim_side.join(corpus_keyed.withColumn("_hit", F.lit(True)), "url", "left").cache()
    )
    fetched = joined.filter(F.col("_hit").isNotNull()).drop("_hit")
    failed = joined.filter(F.col("_hit").isNull()).select(*claim.columns)

    # -- pages: field extraction + ordered span sequence -------------------
    fields = extract_fields_udf(cfg.extraction_rules)
    pages_delta = fetched.select(
        fields("spans").alias("_f"),
        "url",
        "depth",
        F.lit(rnd).alias("round"),
        spans_sorted(F.col("spans")).alias("spans"),
    ).select("_f.*", "url", "depth", "round", "spans")

    # -- link extraction (the table-generating function, SURVEY.md §2.3) --
    # JVM-side kind filter, offset sort, pos rank and depth delta; one
    # Arrow crossing per document into the vectorized canonicalize kernel
    need_path = bool(cfg.enforce_robots and robots is not None)
    links = link_rows(fetched, cfg.parity_mode, need_path)
    # allow-filter on netloc substring — identical pre/post normalization
    # because normalize preserves netloc (distributed_crawler.py:67-78)
    links = links.filter(allowed_domain_filter(F.col("host"), cfg.allowed_domains, parity=cfg.parity_mode))
    if cfg.enforce_max_depth:
        links = links.filter(F.col("depth") <= cfg.max_depth)
    if cfg.enforce_robots and robots is not None:
        links = apply_robots(links, robots)
    if need_path:
        links = links.drop("path")
    links = links.withColumn("url_hash", F.xxhash64("url"))

    # -- intra-batch dedup: first discovery wins (SURVEY.md §2.4) ----------
    # Hash aggregate, NOT a sort window: min(struct(parent_seq, pos, ...))
    # is exactly "row_number() over (partition by url order by parent_seq,
    # pos) = 1" but with MAP-SIDE partial aggregation — the raw links table
    # is ~16x its unique set on dup-heavy rounds, so partial agg collapses
    # the shuffle volume by that factor before it hits the wire (the
    # dominant bandwidth cost of a round; PLANS.md ledger). The dup count
    # rides along, so links_found is a sum over the (cached, already-
    # unique) result instead of a count over the raw links — extraction
    # runs exactly once per round.
    t = time.monotonic()
    unique_links = (
        links.groupBy("url_hash", "url")
        .agg(
            F.min(F.struct("parent_seq", "pos", "depth", "host")).alias("_first"),
            F.count(F.lit(1)).alias("_dups"),
        )
        .select(
            "url_hash",
            "url",
            F.col("_first.parent_seq").alias("parent_seq"),
            F.col("_first.pos").alias("pos"),
            F.col("_first.depth").alias("depth"),
            F.col("_first.host").alias("host"),
            "_dups",
        )
        .cache()
    )
    # the round's stats in ONE action: two single-row aggregates, one over
    # each cached input, unioned and collected together
    counts = {
        r["k"]: int(r["n"] or 0)
        for r in unique_links.agg(F.lit("links").alias("k"), F.sum("_dups").alias("n"))
        .unionByName(joined.agg(F.lit("fetched").alias("k"), F.count("_hit").alias("n")))
        .collect()
    }
    n_links, n_fetched = counts["links"], counts["fetched"]
    unique_links = unique_links.drop("_dups")
    _mark("links", t)

    # -- cross-round dedup: ground-truth anti-join against enqueued -------
    new_links = unique_links.join(state.enqueued, ["url_hash", "url"], "left_anti")

    # -- dense discovery seq (deterministic ordering backbone) -------------
    # cache BEFORE assign_global_seq: its bucket-count action is the first
    # pass over the dedup pipeline; without the cache every downstream
    # consumer (pending/enqueued deltas) re-runs the aggregate + anti-join
    # chain from scratch.
    t = time.monotonic()
    candidates = new_links.cache()
    new_links, n_new = assign_global_seq(candidates, start=state.max_seq)
    _mark("dedup_seq", t)

    pending_delta = new_links.select(
        "url",
        "url_hash",
        "host",
        "depth",
        F.lit(rnd).alias("discovered_round"),
        "seq",
        F.lit(f"round:{rnd}").alias("added_by"),
    )

    done_delta = (
        fetched.select(*FRONTIER_COLS)
        .withColumn("status", F.lit("completed"))
        .withColumn("completed_round", F.lit(rnd))
        .unionByName(
            failed.select(*FRONTIER_COLS)
            .withColumn("status", F.lit("failed"))
            .withColumn("completed_round", F.lit(rnd))
        )
    )
    enqueued_delta = pending_delta.select("url", "url_hash")

    wall_ms = int((time.monotonic() - t0) * 1000)
    stats = {
        "round": rnd,
        "urls_claimed": n_claimed,
        "urls_fetched": n_fetched,
        "links_found": n_links,
        "links_new": n_new,
        "dedup_hits": n_links - n_new,
        "wall_ms": wall_ms,
        "phases": phase_t,
    }
    metric_rows = [(rnd, -1, n_claimed, n_fetched, n_links, n_new, n_links - n_new, wall_ms)]
    if collect_partition_metrics:
        per_part = (
            new_links.groupBy(F.spark_partition_id().alias("pid")).agg(F.count(F.lit(1)).alias("n")).collect()
        )
        metric_rows += [(rnd, int(r["pid"]), 0, 0, 0, int(r["n"]), 0, 0) for r in per_part]
    metrics_delta = local_table(spark, metric_rows, METRICS_SCHEMA)

    new_state = state.evolve(
        pending=rest_pending.unionByName(pending_delta),
        done=state.done.unionByName(done_delta),
        enqueued=state.enqueued.unionByName(enqueued_delta),
        pages=state.pages.unionByName(pages_delta),
        metrics=state.metrics.unionByName(metrics_delta),
        max_seq=state.max_seq + n_new,
        round=rnd,
        pending_count=state.pending_count - n_claimed + n_new,
    )
    deltas = {
        "done": done_delta,
        "enqueued": enqueued_delta,
        "pages": pages_delta,
        "metrics": metrics_delta,
    }
    return RoundResult(
        new_state,
        deltas,
        stats,
        drained=False,
        caches=(claim, joined, unique_links, candidates),
    )
