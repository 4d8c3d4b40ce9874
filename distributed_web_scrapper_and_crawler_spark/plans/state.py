"""Crawl state tables — the engine analog of the reference's Mongo collections.

=================  ============================  ===============================
state table        reference collection          notes
=================  ============================  ===============================
``pending``        ``url_queue`` status=pending  the live frontier; rewritten
                                                 per round (active set)
``done``           ``url_queue`` other statuses  append-only
                                                 (completed/failed/cancelled)
``seen``           ``visited_urls``              normalized URLs fetched, with
                                                 their round (derived, read-only)
``enqueued``       unique index on url_queue     membership keys (url_hash,url)
                                                 = pending ∪ claimed ∪ done;
                                                 drives the "already queued
                                                 with ANY status" check
                                                 server.py:440-443
``pages``          ``pages``                     extraction fields + ordered
                                                 span sequence
``metrics``        worker registry (observability) per-round / per-partition
=================  ============================  ===============================

Two of the six tables are functions of the others:

- ``seen`` = the ``status = 'completed'`` rows of ``done``, with
  ``completed_round`` as ``round`` (``derive_seen``). It is derived
  everywhere: ``CrawlState.seen`` is a read-only property over ``done``,
  so no transition maintains it and no store persists it;
- ``enqueued`` = π(url, url_hash)(``pending`` ∪ ``done``) — a URL is
  queued with some status iff it is pending or done (``derive_enqueued``).
  It is the one derived table the in-memory engine still maintains: every
  transition (seeding, ``run_round``, ``cancel``, ``readmit_cancelled``,
  ``enqueue_seeds``) appends to or filters it, because the dedup
  anti-join reads it every round. The checkpoint store persists only the
  four other tables and rebuilds ``enqueued`` on load.

Schemas are fixed ``StructType``s (FIXTURES.md §5) — a strict improvement
over the reference's code-defined implicit Mongo schemas (SURVEY.md §1.3).
"""

from __future__ import annotations

from dataclasses import dataclass, replace

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from distributed_web_scrapper_and_crawler_spark.sources.corpus import SPANS_SPARK_SCHEMA

FRONTIER_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType(), False),
        T.StructField("url_hash", T.LongType(), False),
        T.StructField("host", T.StringType()),
        T.StructField("depth", T.IntegerType()),
        T.StructField("discovered_round", T.IntegerType()),
        T.StructField("seq", T.LongType()),
        T.StructField("added_by", T.StringType()),
    ]
)

DONE_SCHEMA = T.StructType(
    FRONTIER_SCHEMA.fields
    + [
        T.StructField("status", T.StringType()),
        T.StructField("completed_round", T.IntegerType()),
    ]
)

ENQUEUED_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType(), False),
        T.StructField("url_hash", T.LongType(), False),
    ]
)

METRICS_SCHEMA = T.StructType(
    [
        T.StructField("round", T.IntegerType()),
        T.StructField("partition_id", T.IntegerType()),  # -1 = round aggregate
        T.StructField("urls_claimed", T.LongType()),
        T.StructField("urls_fetched", T.LongType()),
        T.StructField("links_found", T.LongType()),
        T.StructField("links_new", T.LongType()),
        T.StructField("dedup_hits", T.LongType()),
        T.StructField("wall_ms", T.LongType()),
    ]
)


def pages_schema(field_names: list[str]) -> T.StructType:
    """Pages table: one STRING column per extraction rule (known at plan
    time from config — SURVEY.md §1.3) + metadata + the ordered span
    sequence for the per-row invariant."""
    return T.StructType(
        [T.StructField(f, T.StringType()) for f in field_names]
        + [
            T.StructField("url", T.StringType(), False),
            T.StructField("depth", T.IntegerType()),
            T.StructField("round", T.IntegerType()),
            T.StructField("spans", SPANS_SPARK_SCHEMA),
        ]
    )


@dataclass
class CrawlState:
    """All engine state as DataFrames + the two scalar watermarks."""

    pending: DataFrame
    done: DataFrame
    enqueued: DataFrame
    pages: DataFrame
    metrics: DataFrame
    max_seq: int  # next seq to assign (dense discovery counter)
    round: int  # last completed round (-1 = only seeded)
    pending_count: int = 0  # exact: seeds, then +new -claimed each round

    @property
    def seen(self) -> DataFrame:
        return derive_seen(self.done)

    def evolve(self, **kw) -> "CrawlState":
        return replace(self, **kw)


def local_table(spark: SparkSession, rows: list[tuple], schema: T.StructType) -> DataFrame:
    """A DataFrame of a few driver-side rows, planned as a JVM
    ``LocalTableScan``: the rows cross to the JVM once as an Arrow table,
    where ``createDataFrame(list)`` would make a Python RDD that a Python
    worker unpickles on every evaluation. ``None`` stays NULL."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    arrow_schema = to_arrow_schema(schema)
    table = pa.table(
        [pa.array(c, type=f.type) for c, f in zip(zip(*rows), arrow_schema)], schema=arrow_schema
    )
    return spark.createDataFrame(table, schema)


def derive_enqueued(pending: DataFrame, done: DataFrame) -> DataFrame:
    """The ``enqueued`` key set: every pending or done URL (a union, not a
    distinct — the two tables are disjoint and each is duplicate-free)."""
    return pending.select("url", "url_hash").unionByName(done.select("url", "url_hash"))


def derive_seen(done: DataFrame) -> DataFrame:
    """The ``seen`` table: completed rows of ``done``, keyed by the round
    that fetched them."""
    return done.filter(F.col("status") == "completed").select(
        "url", "url_hash", F.col("completed_round").alias("round")
    )


def empty_state(spark: SparkSession, field_names: list[str]) -> CrawlState:
    e = lambda s: spark.createDataFrame([], s)  # noqa: E731
    return CrawlState(
        pending=e(FRONTIER_SCHEMA),
        done=e(DONE_SCHEMA),
        enqueued=e(ENQUEUED_SCHEMA),
        pages=e(pages_schema(field_names)),
        metrics=e(METRICS_SCHEMA),
        max_seq=0,
        round=-1,
    )
