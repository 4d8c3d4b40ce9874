"""Crawl configuration — the engine analog of the reference's ``config.yaml``.

The reference loads a YAML dict (``/root/reference/config.yaml:1-37``) with
crawler params (``allowed_domains``, ``max_depth``, ``rate_limit``,
``start_url``, ``user_agent``) and ``extraction_rules``. Here the same
surface is a frozen dataclass built on the driver and captured by the
(broadcast-serialized) Arrow UDF closures. The robots user agent is not a
config field: the caller that builds the robots table names it in
``plans.politeness.parse_robots_txt``.

One flag, ``parity_mode``, chooses reference-parity vs production behavior:

- ``parity_mode``: reference-exact semantics — path-B URL normalization
  (drop query+fragment, keep case, ``distributed_crawler.py:75-78``), NO
  max-depth / rate-limit enforcement (the reference declares both in
  ``config.yaml:4-5`` but never reads them — zero code references), global
  FIFO claim order (``server.py:416-434``).
- production mode: full canonicalization (lowercase scheme/host, sorted
  query params, fragment strip), per-host politeness budgets, robots
  rules, depth cap — the north-rule capabilities the reference lacks.

Each engine-behavior field (``parity_mode`` onwards) is set by some
caller — a test, ``bench.py`` or ``perfbench`` — for a reason it measures
or checks. The per-round ``metrics`` stats are not optional: ``run_round``
collects them in the same action as the links count.
"""

from __future__ import annotations

from dataclasses import dataclass, field


@dataclass(frozen=True)
class ExtractionRule:
    """One field-extraction rule (analog of ``config.yaml:9-27``).

    The reference's CSS selectors become span *markers*: a text span whose
    payload starts with ``{marker}=`` yields the field value. ``type`` is
    kept for parity (text vs href) though all synthetic markers are text.
    """

    field: str
    marker: str
    type: str = "text"  # 'text' | 'href'


DEFAULT_EXTRACTION_RULES: tuple[ExtractionRule, ...] = tuple(
    ExtractionRule(field=f, marker=f)
    for f in ("title", "price", "rating", "availability", "category", "description")
)


@dataclass(frozen=True)
class CrawlConfig:
    """Engine configuration; defaults mirror the reference's config.yaml."""

    allowed_domains: tuple[str, ...] = ("example.test",)
    max_depth: int = 3
    rate_limit: float = 1.0  # seconds between requests per host (production mode)
    extraction_rules: tuple[ExtractionRule, ...] = DEFAULT_EXTRACTION_RULES

    # --- engine behavior ------------------------------------------------
    parity_mode: bool = True
    # URLs claimed per scheduling round. In parity mode the claim set is the
    # lowest-seq ``round_budget`` pending URLs (global FIFO == reference
    # order); in production mode it is a per-host window budget.
    round_budget: int = 1024
    # production-mode politeness: max URLs per host per round. When
    # ``round_duration_s`` is set, the effective budget is DERIVED as
    # floor(round_duration_s / rate_limit) per the north rule — a host
    # with crawl_delay 1.0s inside a 16s scheduling round gets 16 claims;
    # ``per_host_budget`` then acts as a hard ceiling. With
    # ``round_duration_s=None`` the count knob stands alone (round-1
    # behavior, kept for benchmarks that want explicit fat batches).
    per_host_budget: int = 16
    round_duration_s: float | None = None
    enforce_max_depth: bool = False
    enforce_robots: bool = False
    # >1 => salt the per-host claim window across this many shards so a
    # hot host's rank doesn't funnel through one task (north-rule skew
    # handling). Trades strict per-host FIFO for per-(host,salt) FIFO.
    salt_hot_hosts: int = 0
    # Fetch-join strategy: "auto" (the default) leaves the join to the
    # planner. The claim is the preserved side of a left join, so Spark
    # never broadcasts it: it broadcasts the corpus when that is small and
    # otherwise shuffles both sides. "copartition" shuffles ONLY the claim
    # side into the corpus's existing hash partitioning (corpus must be
    # cached pre-partitioned on its doc_id/url key) with a per-partition
    # hash build — no driver-side broadcast collect+build (serial time
    # every round, identical at every cluster size), and no bound on claim
    # size. The bucket-join analog for an Iceberg corpus.
    fetch_join: str = "auto"
    # Keep the write-only output tables (done/pages/metrics) as lazy
    # unions over retained round caches instead of checkpointing them every
    # round. Each skipped checkpoint is a serial driver job; the bench.py
    # crawl enables this (outputs are only read at the end). Costs cache
    # memory proportional to total fetched rows — bound crawls only.
    lazy_output_tables: bool = False

    def __post_init__(self) -> None:
        # round.py dispatches on == 'copartition'; without this a typo
        # would silently run the default join
        if self.fetch_join not in ("auto", "copartition"):
            raise ValueError(f"unknown fetch_join {self.fetch_join!r}: use auto|copartition")

    def field_names(self) -> list[str]:
        return [r.field for r in self.extraction_rules]


@dataclass(frozen=True)
class CorpusSpec:
    """Knobs of the deterministic synthetic web (FIXTURES.md §1).

    Every knob is seeded; the same spec always yields byte-identical
    parquet. ``hot_host_share`` concentrates links on host 0 to exercise
    skew handling; ``disallowed_hosts`` exercise the substring allow-filter
    (``distributed_crawler.py:67-73``)."""

    seed: int = 42
    n_hosts: int = 8
    docs_per_host: int = 40
    links_per_doc: int = 6
    dup_link_rate: float = 0.25
    hot_host_share: float = 0.5
    relative_href_rate: float = 0.2
    query_fragment_rate: float = 0.2
    media_spans_per_doc: int = 2
    text_spans_per_doc: int = 3
    disallowed_hosts: tuple[str, ...] = ("forbidden.test", "evil.test")
    field: str = "example.test"  # allowed domain root

    @property
    def hosts(self) -> list[str]:
        return [f"h{i:03d}.{self.field}" for i in range(self.n_hosts)]
