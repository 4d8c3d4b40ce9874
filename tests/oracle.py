"""Serial in-memory reimplementation of the reference crawler's semantics.

The reference ships **no tests** (SURVEY.md §5), so this oracle IS the
authoritative encoding of its behavior, built line-by-line from
``/root/reference`` citations. It follows the path-B crawl
(``distributed_crawler.py`` — the RabbitMQ consumer), which normalizes
URLs; SURVEY.md §3.3 documents why path B is the engine default.

No Spark, no Mongo, no network: dict frontier + set seen over the
synthetic corpus. Parity tests assert the engine reproduces this
oracle's claim order, seen membership, and page span sequences exactly.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from urllib.parse import urljoin, urlsplit

import pandas as pd

LINK_DELTA = {"link_book": 1, "link_next": 0, "link_cat": 0}


def normalize_url(url: str) -> str:
    # distributed_crawler.py:75-78 — f"{scheme}://{netloc}{path}"
    s = urlsplit(url)
    return f"{s.scheme}://{s.netloc}{s.path}"


def is_allowed(url: str, allowed_domains: tuple[str, ...]) -> bool:
    # distributed_crawler.py:67-73 — SUBSTRING match on netloc
    netloc = urlsplit(url).netloc
    return any(d in netloc for d in allowed_domains)


def oracle_links(base: str, spans) -> list[tuple[str, int, int]]:
    """Reference per-document link extraction: ``(abs_url, depth_delta,
    pos)`` for each link span in offset order.

    Three selector families with their depth deltas (remote_worker.py:
    208-254); ``media`` and ``text`` spans are never enqueued. ``pos`` is
    the rank among the document's link spans. Absolutization is the
    reference's unconditional ``urljoin(base, href)``
    (distributed_crawler.py:234,245,256): its urlunsplit round-trip also
    strips tab/CR/LF and drops empty ?/# from absolute hrefs.
    """
    out = []
    for sp in sorted(() if spans is None else spans, key=lambda sp: sp["offset"]):
        delta = LINK_DELTA.get(sp["kind"])
        if delta is not None:
            out.append((urljoin(base, sp["text"]), delta, len(out)))
    return out


@dataclass
class OracleResult:
    claim_order: list[str] = field(default_factory=list)  # FIFO, server.py:416-434
    seen: set[str] = field(default_factory=set)  # visited_urls membership
    pages: dict[str, dict] = field(default_factory=dict)  # url -> page row
    statuses: dict[str, str] = field(default_factory=dict)  # url -> final status
    enqueue_order: list[str] = field(default_factory=list)  # discovery order (seq)


def crawl_oracle(
    corpus: pd.DataFrame,
    seeds: list[str],
    allowed_domains: tuple[str, ...] = ("example.test",),
    field_markers: tuple[str, ...] = ("title", "price", "rating", "availability", "category", "description"),
    max_steps: int | None = None,
) -> OracleResult:
    """Serial FIFO crawl.

    - frontier is a FIFO list; claim = oldest pending (server.py:416-434,
      sort=[("timestamp",1)] — here: discovery order).
    - enqueue rejects URLs already in the queue with ANY status
      (server.py:440-443) or already visited (distributed_crawler.py:111).
    - fetch = corpus lookup on the normalized URL; miss => status failed,
      NOT marked visited (distributed_crawler.py:350-357 drops after nack;
      visited only marked after success at :265).
    - link families + depth deltas per remote_worker.py:208-254.
    """
    docs = {r.doc_id: r.spans for r in corpus.itertuples(index=False)}
    res = OracleResult()
    queue: list[tuple[str, int]] = []  # (normalized url, depth) FIFO
    ever_enqueued: set[str] = set()

    def enqueue(raw_url: str, depth: int) -> None:
        if not is_allowed(raw_url, allowed_domains):
            return
        u = normalize_url(raw_url)  # path-B normalization at discovery
        if u in ever_enqueued or u in res.seen:  # server.py:440-449
            return
        ever_enqueued.add(u)
        res.enqueue_order.append(u)
        queue.append((u, depth))

    for s in seeds:
        enqueue(s, 0)  # depth 0: scheduler.py:81, seed_urls.py:78

    steps = 0
    i = 0
    while i < len(queue):
        if max_steps is not None and steps >= max_steps:
            break
        url, depth = queue[i]
        i += 1
        steps += 1
        res.claim_order.append(url)
        spans = docs.get(url)
        if spans is None:
            res.statuses[url] = "failed"
            continue
        ordered = sorted(spans, key=lambda sp: sp["offset"])
        # field extraction (distributed_crawler.py:199-215 analog)
        fields: dict[str, str | None] = {m: None for m in field_markers}
        for sp in ordered:
            if sp["kind"] == "text":
                for m in field_markers:
                    pref = m + "="
                    if fields[m] is None and (sp["text"] or "").startswith(pref):
                        fields[m] = sp["text"][len(pref) :].strip()
        res.pages[url] = {
            **fields,
            "url": url,
            "depth": depth,
            "span_seq": [(sp["kind"], sp["text"], sp["media_ref"]) for sp in ordered],
        }
        # 3-family link extraction, in offset order
        for absu, delta, _ in oracle_links(url, spans):
            enqueue(absu, depth + delta)
        res.statuses[url] = "completed"
        res.seen.add(url)  # visited AFTER success, distributed_crawler.py:265
    return res
