"""End-to-end parity: engine vs the serial reference oracle.

Asserts the BASELINE.json:6 correctness contract: identical claim
ordering, identical URL-seen membership, and span-sequence equality
(kind, text, media_ref, order) per emitted document — at several round
budgets (budget=1 is the reference's literal one-URL-at-a-time mode;
larger budgets must preserve the same global FIFO order, SURVEY.md §3.3).

One full-drain crawl (module-scoped ``eng_full``) is shared by every
assertion that doesn't need a distinct engine config — the crawl is the
expensive part, the assertions are cheap (VERDICT r1 #8).
"""

from __future__ import annotations

import pytest

from distributed_web_scrapper_and_crawler_spark.config import CrawlConfig
from distributed_web_scrapper_and_crawler_spark.plans.crawl import CrawlEngine
from tests.oracle import crawl_oracle


def _run_engine(spark, corpus, seeds, budget, max_rounds=None, **kw):
    cfg = CrawlConfig(parity_mode=True, round_budget=budget, **kw)
    eng = CrawlEngine(spark=spark, corpus=corpus, cfg=cfg)
    eng.seed(seeds)
    eng.run(max_rounds=max_rounds)
    return eng


@pytest.fixture(scope="module")
def oracle(small_corpus_pdf, seeds):
    return crawl_oracle(small_corpus_pdf, seeds)


@pytest.fixture(scope="module")
def eng_full(spark, small_corpus, seeds):
    """One full-drain parity crawl shared across the read-only assertions."""
    return _run_engine(spark, small_corpus, seeds, budget=64)


def test_claim_order_and_seen_parity_full_drain(eng_full, oracle):
    assert eng_full.claim_order() == oracle.claim_order
    engine_seen = {r["url"] for r in eng_full.state.seen.select("url").collect()}
    assert engine_seen == oracle.seen
    statuses = {r["url"]: r["status"] for r in eng_full.state.done.select("url", "status").collect()}
    assert statuses == oracle.statuses


@pytest.mark.parametrize("budget,rounds", [(1, 8), (7, 4)])
def test_claim_order_prefix_parity(spark, small_corpus, oracle, seeds, budget, rounds):
    """budget=1 is the reference's literal serial dispatch (server.py:416-434
    claims exactly one pending URL); the engine's claim order must match the
    oracle claim-for-claim. Bounded to a prefix to keep rounds tractable."""
    eng = _run_engine(spark, small_corpus, seeds, budget, max_rounds=rounds)
    got = eng.claim_order()
    assert len(got) > 0
    assert got == oracle.claim_order[: len(got)]


def test_span_sequence_invariant(eng_full, oracle):
    """Per-row invariant (BASELINE.json:15): for every emitted document the
    engine's span sequence equals the oracle's (kind, text, media_ref,
    order-by-offset) tuple sequence."""
    rows = eng_full.state.pages.select("url", "spans").collect()
    engine_pages = {
        r["url"]: [(sp["kind"], sp["text"], sp["media_ref"]) for sp in r["spans"]] for r in rows
    }
    oracle_pages = {u: p["span_seq"] for u, p in oracle.pages.items()}
    assert engine_pages == oracle_pages


def test_field_extraction_parity(eng_full, oracle):
    fields = ("title", "price", "rating", "availability", "category", "description")
    got = {r["url"]: tuple(r[f] for f in fields) for r in eng_full.state.pages.collect()}
    want = {u: tuple(p[f] for f in fields) for u, p in oracle.pages.items()}
    assert got == want


def test_depth_semantics(eng_full, oracle):
    """link_book => depth+1; link_next/link_cat => same depth
    (remote_worker.py:220,:236,:252)."""
    got = {r["url"]: r["depth"] for r in eng_full.state.pages.select("url", "depth").collect()}
    want = {u: p["depth"] for u, p in oracle.pages.items()}
    assert got == want


def test_copartition_fetch_join_parity(spark, small_corpus, seeds, eng_full):
    """fetch_join='copartition' (claim-side-only shuffle into the corpus's
    cached hash partitioning — the broadcast-free bench/scale path) must
    not change crawl semantics."""
    keyed = small_corpus.repartition(4, "doc_id").cache()
    keyed.count()
    eng = _run_engine(spark, keyed, seeds, budget=64, fetch_join="copartition")
    assert eng_full.claim_order() == eng.claim_order()
    assert {r["url"] for r in eng.state.seen.select("url").collect()} == {
        r["url"] for r in eng_full.state.seen.select("url").collect()
    }
    keyed.unpersist()


def test_fetch_join_validated():
    """An unknown fetch_join must raise, not silently run a join the
    caller did not ask for."""
    for bad in ("copartion", "shuffle", "broadcast", None):
        with pytest.raises(ValueError, match="fetch_join"):
            CrawlConfig(fetch_join=bad)
    assert CrawlConfig().fetch_join == "auto"
    CrawlConfig(fetch_join="copartition")


def test_interrupted_equals_uninterrupted(spark, small_corpus, seeds, eng_full):
    part = _run_engine(spark, small_corpus, seeds, budget=64, max_rounds=2)
    part.run()  # continue to drain
    assert part.claim_order() == eng_full.claim_order()
    a = {r["url"] for r in part.state.seen.collect()}
    b = {r["url"] for r in eng_full.state.seen.collect()}
    assert a == b
