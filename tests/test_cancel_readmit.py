"""Cancel + re-admission lifecycle — the deletable-entry capability the
reference lacks (cancelled URLs are blocked forever by its any-status
queue check, server.py:440-443). Re-admission removes the cancelled URLs
from the ``enqueued`` key set the round's dedup anti-joins against."""

from __future__ import annotations

import pytest

from distributed_web_scrapper_and_crawler_spark.config import CrawlConfig
from distributed_web_scrapper_and_crawler_spark.plans.crawl import CrawlEngine

# The case ids are the names the three cases had when the engine carried a
# seen-set prefilter (bloom / cuckoo / sharded). Every round now dedups with
# one anti-join against ``enqueued``, so each id runs the same lifecycle
# through one of the three ways a readmission reaches that key set:
#   bloom   — in memory, no store attached
#   cuckoo  — durable store: readmit commits a full snapshot
#   sharded — durable store, then a fresh engine resumes from it
LIFECYCLES = ("bloom", "cuckoo", "sharded")


@pytest.mark.parametrize("lifecycle", LIFECYCLES)
def test_cancel_then_readmit_then_recrawl(spark, tiny_corpus, tiny_seeds, tmp_path, lifecycle):
    cfg = CrawlConfig(parity_mode=True, round_budget=8)
    ckpt = None if lifecycle == "bloom" else str(tmp_path / "ckpt")
    eng = CrawlEngine(spark=spark, corpus=tiny_corpus, cfg=cfg, ckpt_dir=ckpt)
    eng.seed(tiny_seeds)
    # one round is enough state for the lifecycle under test: done rows to
    # cancel, discovered links left pending
    eng.run(max_rounds=1)

    n_cancelled = eng.cancel()
    assert n_cancelled > 0
    assert eng.state.pending_count == 0
    # drained: cancelled URLs are NOT re-enqueuable (reference semantics)
    assert eng.enqueue_seeds([eng.state.done.collect()[0]["url"]]) in (0, 1)

    cancelled_urls = [
        r["url"] for r in eng.state.done.filter("status = 'cancelled'").collect()
    ]
    n_readmitted = eng.readmit_cancelled()
    assert n_readmitted == n_cancelled
    if lifecycle == "sharded":
        # the readmission must be durable: a restarted engine sees the
        # cancelled URLs gone from enqueued and from done
        eng = CrawlEngine(spark=spark, corpus=tiny_corpus, cfg=cfg, ckpt_dir=ckpt)
        eng.resume()
        assert eng.state.done.filter("status = 'cancelled'").count() == 0
    # now the same URLs can be enqueued again and get crawled
    n = eng.enqueue_seeds(cancelled_urls)
    assert n == len(cancelled_urls)
    eng.run()
    seen = {r["url"] for r in eng.state.seen.collect()}
    in_corpus = {r["doc_id"] for r in tiny_corpus.select("doc_id").collect()}
    for u in cancelled_urls:
        if u in in_corpus:
            assert u in seen
