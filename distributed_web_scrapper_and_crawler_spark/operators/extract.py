"""Span extraction — the engine's "table-generating function".

The reference turns one fetched page into many ``(url, depth)`` rows via
three BeautifulSoup selector families with *different depth semantics*
(SURVEY.md §2.3):

====================  =========================  =================================
span kind             emitted depth              reference site
====================  =========================  =================================
``link_book``         parent depth **+ 1**       remote_worker.py:208-222 (:220)
``link_next``         parent depth (unchanged)   remote_worker.py:225-238 (:236)
``link_cat``          parent depth (unchanged)   remote_worker.py:241-254 (:252)
====================  =========================  =================================

All families absolutize with ``urljoin(base_url, href)``
(remote_worker.py:216, distributed_crawler.py:234). ``media`` spans are
recorded but never enqueued (the reference never fetches images).

Spark shape (``link_rows``): kind filter, offset sort and depth delta in
codegen, one vectorized Arrow canonicalize call per document, then
``posexplode`` — the UDTF-equivalent. Field extraction (config.yaml:9-27
analog) is a Series→struct pandas UDF. No per-row Python UDFs anywhere.
"""

from __future__ import annotations

from functools import lru_cache

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from distributed_web_scrapper_and_crawler_spark.config import ExtractionRule
from distributed_web_scrapper_and_crawler_spark.functions.canonicalize import canon_links_doc_udf


def link_rows(fetched: DataFrame, parity: bool, need_path: bool) -> DataFrame:
    """The round's link table: one row per link span of each fetched doc,
    ``(parent_seq, depth, pos, url, host[, path])``.

    ``fetched`` carries ``(seq, depth, url, spans)`` per document. Kind
    filter, offset sort, ``pos`` rank and the depth delta stay in
    whole-stage codegen; the Arrow crossing is at DOC granularity
    (VERDICT r4 #3): the base URL ships once per document and its hrefs
    as one ``array<string>`` into ``canon_links_doc_udf``, whose
    parallel-array outputs are re-aligned with the kinds by
    ``arrays_zip`` (the kernel is order-preserving) and exploded AFTER
    the kernel. ``pos`` is the link's rank among the document's link
    spans ordered by ``offset`` — the deterministic stand-in for the
    reference's soup.select iteration order, and the tiebreak that makes
    crawl ordering total (SURVEY.md §3.3). ``path`` is computed only when
    ``need_path`` (robots enforcement reads it): a third string column
    over the round's biggest intermediate is pure transfer cost
    otherwise.
    """
    link_spans = F.expr(
        "array_sort(filter(spans, s -> s.kind IN ('link_book', 'link_next', 'link_cat')),"
        " (a, b) -> CASE WHEN a.offset < b.offset THEN -1 WHEN a.offset > b.offset THEN 1 ELSE 0 END)"
    )
    canon_doc = canon_links_doc_udf(parity, need_path)
    doc = fetched.select(
        F.col("seq").alias("parent_seq"),
        F.col("depth").alias("parent_depth"),
        F.col("url").alias("_base"),
        link_spans.alias("_spans"),
    ).withColumn("_c", canon_doc(F.col("_base"), F.expr("transform(_spans, s -> s.text)")))
    doc = (
        doc.withColumn("_kinds", F.expr("transform(_spans, s -> s.kind)"))
        .withColumn("_urls", F.col("_c.urls"))
        .withColumn("_hosts", F.col("_c.hosts"))
    )
    zip_cols = ["_kinds", "_urls", "_hosts"]
    if need_path:
        doc = doc.withColumn("_paths", F.col("_c.paths"))
        zip_cols.append("_paths")
    return doc.select(
        "parent_seq",
        "parent_depth",
        F.posexplode(F.arrays_zip(*zip_cols)).alias("pos", "_z"),
    ).select(
        "parent_seq",
        (
            F.col("parent_depth")
            + F.when(F.col("_z._kinds") == "link_book", F.lit(1)).otherwise(F.lit(0))
        )
        .cast("int")
        .alias("depth"),
        F.col("pos").cast("int").alias("pos"),
        F.col("_z._urls").alias("url"),
        F.col("_z._hosts").alias("host"),
        *([F.col("_z._paths").alias("path")] if need_path else []),
    )


@lru_cache(maxsize=8)
def extract_fields_udf(rules: tuple[ExtractionRule, ...]):
    """pandas UDF spans -> struct(<field> string, ...) per the rule set.
    Cached per rule tuple (hashable): the round loop builds it every round.

    A rule matches the first text span whose payload starts with
    ``{marker}=`` (the span-marker analog of the reference's CSS
    selectors, distributed_crawler.py:199-215); the value is
    ``get_text().strip()``-equivalent: the remainder, stripped.
    Rules with a null selector are pruned at config time
    (distributed_crawler.py:203).
    """
    markers = [(r.field, r.marker + "=") for r in rules if r.marker]
    schema = T.StructType([T.StructField(f, T.StringType()) for f, _ in markers])

    @F.pandas_udf(schema)
    def _fields(spans_col: pd.Series) -> pd.DataFrame:
        cols: dict[str, list] = {f: [] for f, _ in markers}
        for spans in spans_col:
            found = {f: None for f, _ in markers}
            if spans is not None:
                for sp in sorted(spans, key=lambda s: s["offset"]):
                    if sp["kind"] != "text":
                        continue
                    txt = sp["text"] or ""
                    for f, pref in markers:
                        if found[f] is None and txt.startswith(pref):
                            found[f] = txt[len(pref) :].strip()
            for f, _ in markers:
                cols[f].append(found[f])
        return pd.DataFrame(cols)

    return _fields


def spans_sorted(spans_col: Column) -> Column:
    """Span sequence sorted by offset — pure Catalyst (array_sort with a
    comparator), no UDF. This is the per-row invariant surface:
    (kind, text, media_ref, order-by-offset) per BASELINE.json:15."""
    return F.array_sort(
        spans_col,
        lambda a, b: F.when(a["offset"] < b["offset"], -1).when(a["offset"] > b["offset"], 1).otherwise(0),
    )
