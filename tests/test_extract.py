"""Link/field extraction semantics: the 3 selector families, depth deltas,
urljoin, offset ordering, media exclusion — the engine's link path
(``link_rows``) checked against the serial oracle's in both modes — and
field extraction."""

from __future__ import annotations

from urllib.parse import urlsplit

from pyspark.sql import functions as F
from pyspark.sql import types as T

from distributed_web_scrapper_and_crawler_spark.config import DEFAULT_EXTRACTION_RULES
from distributed_web_scrapper_and_crawler_spark.functions.canonicalize import (
    canonicalize_url_py,
    normalize_url_py,
)
from distributed_web_scrapper_and_crawler_spark.operators.extract import (
    extract_fields_udf,
    link_rows,
    spans_sorted,
)
from distributed_web_scrapper_and_crawler_spark.sources.corpus import CORPUS_SPARK_SCHEMA
from tests.oracle import oracle_links

DOC = {
    "doc_id": "http://h.example.test/page/1",
    "spans": [
        # deliberately out of offset order: extraction must sort by offset
        {"kind": "link_book", "text": "/page/2?b=2&a=1#f", "media_ref": "", "offset": 30},
        {"kind": "text", "text": "title=The Book", "media_ref": "", "offset": 0},
        {"kind": "media", "text": "", "media_ref": "http://h.example.test/i.jpg", "offset": 20},
        {"kind": "link_next", "text": "http://h.example.test/page/2", "media_ref": "", "offset": 10},
        {"kind": "link_cat", "text": "/cat/3", "media_ref": "", "offset": 40},
        {"kind": "text", "text": "price=£9.99", "media_ref": "", "offset": 50},
    ],
}


def _df(spark):
    import pandas as pd

    return spark.createDataFrame(pd.DataFrame([DOC]), schema=CORPUS_SPARK_SCHEMA)


# the round's link path on adversarial hrefs: mixed-case host and scheme,
# default port, unsorted query, dot segments, tab/CR inside the href, an
# out-of-domain host — plus a document with no link spans at all
ODD_DOC = {
    "doc_id": "http://h.example.test/a/b/page",
    "spans": [
        {"kind": "link_cat", "text": "HTTP://H.Example.TEST:80/Cat/4?z=1&a=2#x", "media_ref": "", "offset": 5},
        {"kind": "link_book", "text": "../up/./item?b=&a=1", "media_ref": "", "offset": 3},
        {"kind": "media", "text": "/img.png", "media_ref": "http://h.example.test/img.png", "offset": 4},
        {"kind": "link_next", "text": "next\tpa\rge", "media_ref": "", "offset": 7},
        {"kind": "link_book", "text": "https://evil.test:443/x", "media_ref": "", "offset": 9},
    ],
}
NO_LINKS_DOC = {
    "doc_id": "http://h.example.test/empty",
    "spans": [{"kind": "text", "text": "title=Empty", "media_ref": "", "offset": 0}],
}


def _fetched(spark, docs):
    """The fetched rows run_round hands to ``link_rows``: (seq, depth, url,
    spans), every parent at depth 2, seq 10, 20, ... in ``docs`` order."""
    import pandas as pd

    schema = T.StructType([T.StructField("seq", T.LongType()), *CORPUS_SPARK_SCHEMA.fields])
    pdf = pd.DataFrame([{"seq": 10 * (i + 1), **d} for i, d in enumerate(docs)])
    return spark.createDataFrame(pdf, schema=schema).select(
        "seq", F.lit(2).alias("depth"), F.col("doc_id").alias("url"), "spans"
    )


def _oracle_rows(docs, parity):
    """The reference's per-document extraction (``oracle_links``) then
    normalize (parity) or canonicalize (production), shaped like
    ``link_rows``: (parent_seq, depth, pos, url, host, path)."""
    canon = normalize_url_py if parity else canonicalize_url_py
    want = []
    for i, d in enumerate(docs):
        for absu, delta, pos in oracle_links(d["doc_id"], d["spans"]):
            s = urlsplit(absu)
            host = s.netloc if parity else s.netloc.lower()
            want.append((10 * (i + 1), 2 + delta, pos, canon(absu), host, s.path or "/"))
    return want


def _check_link_rows(spark, docs, parity):
    """``link_rows`` (the link path run_round executes) must emit exactly
    ``_oracle_rows`` — with and without the path column."""
    fetched = _fetched(spark, docs)
    want = _oracle_rows(docs, parity)
    for need_path in (True, False):
        rows = link_rows(fetched, parity, need_path).collect()
        got = sorted(tuple(r) for r in rows)
        expect = sorted(w if need_path else w[:5] for w in want)
        assert got == expect, (parity, need_path)
        cols = ["parent_seq", "depth", "pos", "url", "host"] + (["path"] if need_path else [])
        assert rows[0].__fields__ == cols
    return want


def test_three_families_and_depth_deltas(spark):
    # reference golden case: offset order link_next(10) pos0, link_book(30)
    # pos1, link_cat(40) pos2; media span NOT emitted (reference never
    # fetches images)
    assert oracle_links(DOC["doc_id"], DOC["spans"]) == [
        ("http://h.example.test/page/2", 0, 0),  # pagination: same depth (remote_worker.py:236)
        ("http://h.example.test/page/2?b=2&a=1#f", 1, 1),  # book: depth+1 (:220), urljoin'd
        ("http://h.example.test/cat/3", 0, 2),  # category: same depth (:252)
    ]
    rows = link_rows(_fetched(spark, [DOC]), True, True).orderBy("pos").collect()
    assert [(r["depth"], r["pos"], r["url"]) for r in rows] == [
        (2, 0, normalize_url_py("http://h.example.test/page/2")),
        (3, 1, normalize_url_py("http://h.example.test/page/2?b=2&a=1#f")),
        (2, 2, normalize_url_py("http://h.example.test/cat/3")),
    ]
    assert all(r["parent_seq"] == 10 and r["host"] == "h.example.test" for r in rows)
    assert rows[2]["path"] == "/cat/3"


def test_fused_equals_unfused_plus_normalize(spark):
    """Parity mode: the engine's fused extract+canonicalize link path
    equals the reference's unfused extraction plus ``normalize_url_py`` —
    url, host, path, depth and pos — on the golden doc, an adversarial doc
    and a doc with no links."""
    want = _check_link_rows(spark, [DOC, ODD_DOC, NO_LINKS_DOC], parity=True)
    assert len(want) == 7  # 3 + 4 links; media and text spans never emitted


def test_flat_link_path_equals_fused(spark):
    """Production mode: the same link path with ``canonicalize_url_py``
    (lower-cased host, default port dropped, sorted query) equals the
    reference's extraction plus canonicalization, with and without the
    path column."""
    want = _check_link_rows(spark, [DOC, ODD_DOC, NO_LINKS_DOC], parity=False)
    assert len(want) == 7
    assert "http://h.example.test/Cat/4?a=2&z=1" in {w[3] for w in want}


def test_field_extraction_first_match_and_strip(spark):
    row = _df(spark).select(extract_fields_udf(DEFAULT_EXTRACTION_RULES)("spans").alias("f")).collect()[0]["f"]
    assert row["title"] == "The Book"
    assert row["price"] == "£9.99"
    assert row["rating"] is None  # absent marker => null column


def test_spans_sorted_is_offset_order(spark):
    spans = _df(spark).select(spans_sorted(F.col("spans")).alias("s")).collect()[0]["s"]
    offsets = [sp["offset"] for sp in spans]
    assert offsets == sorted(offsets)
    assert [sp["kind"] for sp in spans] == ["text", "link_next", "media", "link_book", "link_cat", "text"]
