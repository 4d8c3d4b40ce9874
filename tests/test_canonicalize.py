"""Unit + property tests for URL normalization/canonicalization."""

from __future__ import annotations

from hypothesis import given, settings
from hypothesis import strategies as st

from distributed_web_scrapper_and_crawler_spark.functions.canonicalize import (
    canonicalize_url_py,
    normalize_url_py,
)


def test_normalize_reference_exact():
    # distributed_crawler.py:75-78: drop query AND fragment, keep case
    assert normalize_url_py("http://Host.Test/Path/x?b=2&a=1#frag") == "http://Host.Test/Path/x"
    assert normalize_url_py("https://h.test/") == "https://h.test/"
    assert normalize_url_py("http://h.test") == "http://h.test"


def test_canonicalize_production():
    # north rule: lowercase scheme/host, sorted query, fragment strip
    assert canonicalize_url_py("HTTP://Host.Test/P?b=2&a=1#f") == "http://host.test/P?a=1&b=2"
    assert canonicalize_url_py("http://h.test:80/x") == "http://h.test/x"
    assert canonicalize_url_py("https://h.test:443/x") == "https://h.test/x"
    assert canonicalize_url_py("http://h.test") == "http://h.test/"


_url = st.builds(
    lambda host, path, q, frag: f"http://{host}/{path}" + (f"?{q}" if q else "") + (f"#{frag}" if frag else ""),
    host=st.from_regex(r"[a-z]{1,8}\.(test|example)", fullmatch=True),
    path=st.from_regex(r"[A-Za-z0-9/_-]{0,20}", fullmatch=True),
    q=st.from_regex(r"([a-z]=[0-9](&[a-z]=[0-9]){0,3})?", fullmatch=True),
    frag=st.from_regex(r"[a-z0-9]{0,6}", fullmatch=True),
)


@given(_url)
@settings(max_examples=200, deadline=None)
def test_canonicalize_idempotent(url):
    once = canonicalize_url_py(url)
    assert canonicalize_url_py(once) == once


@given(_url)
@settings(max_examples=200, deadline=None)
def test_normalize_idempotent_and_strips(url):
    once = normalize_url_py(url)
    assert normalize_url_py(once) == once
    assert "?" not in once and "#" not in once


_HREF_CASES = [
    "http://abs.example.test/x",
    "https://abs2.test/y?b=2&a=1#f",
    "/rooted/path",
    "plain/rel.html",
    "rel.html",
    "../up/one.html",
    "./same/dir.html",
    "//proto.rel/test",
    "",
    "page-2.html",
    "?only=query",
    "#onlyfrag",
    "mailto:x@y.z",
    "x/y/z?q=1#m",
    "/x?b=2&a=1",
    "WeIrD/CaSe.HTML",
    "a b/space.html",
    "/page/17?b=1&a=2#frag",
    # dot SEGMENTS urljoin resolves that substring checks miss
    ".",
    "x/.",
    "x/..",
    "a/./b.html",
    "a/../b.html",
    # urlsplit's WHATWG cleanup (bpo-43882): tab/CR/LF stripped anywhere,
    # leading C0-control/space stripped (ADVICE r3 medium)
    "sub\npage.html",
    "ta\tbbed/x.html",
    " lead-space.html",
    "\x01ctl.html",
    "http://abs.test/a\nb",
    # absolute with dot segments: urljoin KEEPS them (no merge happens)
    "http://abs.test/a/../b",
    # absolute with EMPTY netloc: urljoin resolves against the base
    "http:///rooted-by-scheme",
    "HTTP://UPPER.SCHEME/x",
    # query-string zoo: sortable fast path vs parse_qsl-only shapes
    "/x?b=2&a=1",
    "x?b=2&a=1#f",
    "/x?a=2&a=1",
    "/x?ab=1&a=2",  # prefix keys: tuple sort == string sort only for alpha keys
    "/x?x=1&x=",
    "/x?flag&b=1",  # pair without '=': parse_qsl appends 'flag=' -> slow
    "/x?a%20b=1",  # percent-encoding round-trips differently -> slow
    "/x?a=1&&b=2",  # empty pair collapsed by parse_qsl -> slow
    "/x?a=1;b=2",  # ';' is DATA since py3.10 (single separator)
    "/x?",
    "/x?#",
    "/x#a?b",  # '?' inside the fragment is not a query
    "x;p/y?b=1&a=2",  # path params stay literal path bytes
    "/x?a=b+c&d=e",  # '+' decodes to space and re-encodes to '+' -> slow-safe
]

_BASE_CASES = [
    "http://h000.example.test/page/17",
    "http://books.toscrape.com/catalogue/category/books/poetry_23/index.html",
    "http://host.test/",
    "http://host.test",
    "HTTP://MiXeD.Case/Path",
    "https://h.test:443/x",
    "http://h.test:80/x?a=1",
    # dotty BASE paths: urljoin resolves '..'/'.' during the relative
    # merge — the fast path must route these rows to the stdlib fallback
    "http://h.test/a/../b/",
    "http://h.test/a/./b/",
    "http://h.test/a/..",
    "http://h.test/a/../",
    # base with stray tab (urlsplit strips it from the base too)
    "http://h.test/x\t/y/",
]


def test_vectorized_canon_links_matches_stdlib():
    """The vectorized kernel ``_canon_links_pd`` (crawl hot path, run by
    the doc kernel inside link extraction) must be byte-identical to urljoin + urlsplit +
    normalize/canonicalize per row — including every fallback trigger
    (dot segments, protocol-relative, foreign schemes, query strings,
    mixed-case schemes, portful/pathless bases)."""
    import pandas as pd
    from urllib.parse import urljoin, urlsplit

    from distributed_web_scrapper_and_crawler_spark.functions.canonicalize import (
        _canon_links_pd,
    )

    rows = [(b, h) for b in _BASE_CASES for h in _HREF_CASES]
    base = pd.Series([r[0] for r in rows])
    href = pd.Series([r[1] for r in rows])
    for parity, canon in ((True, normalize_url_py), (False, canonicalize_url_py)):
        got = _canon_links_pd(base, href, parity)
        for i, (b, h) in enumerate(rows):
            # the TRUE oracle: unconditional urljoin, like the reference
            # (distributed_crawler.py:234,245,256) — no absolute-href
            # shortcut, so dot-segment/ctl-char semantics are the stdlib's
            absu = urljoin(b, h)
            s = urlsplit(absu)
            want = (canon(absu), s.netloc if parity else s.netloc.lower(), s.path or "/")
            g = got.iloc[i]
            assert (g["url"], g["host"], g["path"]) == want, (parity, b, h)


# Hypothesis sweep: adversarial (base, href) pairs — URL-ish alphabets
# salted with dot segments, control chars, '//', schemes, queries — the
# vectorized kernel must agree with the stdlib per-row computation on
# EVERY row (fast path and fallback alike). This property-tests the
# fast-path/fallback boundary itself rather than enumerated triggers.
_hy_href = st.one_of(
    st.from_regex(r"[A-Za-z0-9./_~%\- ]{0,12}", fullmatch=True),
    st.from_regex(r"(\.\./){0,2}[a-z0-9./]{0,8}(\?[a-z]=[0-9])?(#[a-z0-9]{0,3})?", fullmatch=True),
    st.from_regex(r"(https?|ftp|HTTP)://[a-z0-9.\-]{0,8}(/[a-z0-9./]{0,8})?", fullmatch=True),
    st.from_regex(r"//?[a-z0-9./]{0,8}", fullmatch=True),
    st.from_regex(
        r"/?[a-z0-9./]{0,8}\?[A-Za-z_~%&=+;0-9.\-]{0,12}(#[a-z?/]{0,4})?", fullmatch=True
    ),
    st.builds(
        lambda a, c, b: a + c + b,
        st.from_regex(r"[a-z0-9./]{0,6}", fullmatch=True),
        st.sampled_from(["\t", "\n", "\r", " ", "\x01", "\x1f"]),
        st.from_regex(r"[a-z0-9./]{0,6}", fullmatch=True),
    ),
)
_hy_base = st.one_of(
    st.from_regex(r"https?://[a-z]{1,6}\.test(:\d{1,4})?(/[a-z0-9./_\-]{0,14})?(\?[a-z]=[0-9])?", fullmatch=True),
    st.from_regex(r"http://[a-z]{1,4}\.test/(\.\./|\./|[a-z0-9]{1,4}/){0,3}([a-z0-9]{0,4}|\.\.|\.)", fullmatch=True),
    st.from_regex(r"http://h\.test/x\t[a-z]{0,3}/", fullmatch=True),
)


@given(_hy_base, st.lists(_hy_href, min_size=1, max_size=6))
@settings(max_examples=250, deadline=None)
def test_vectorized_canon_links_property(b, hs):
    import pandas as pd
    from urllib.parse import urljoin, urlsplit

    from distributed_web_scrapper_and_crawler_spark.functions.canonicalize import (
        _canon_links_pd,
    )

    base = pd.Series([b] * len(hs))
    href = pd.Series(hs)
    for parity, canon in ((True, normalize_url_py), (False, canonicalize_url_py)):
        got = _canon_links_pd(base, href, parity)
        for i, h in enumerate(hs):
            absu = urljoin(b, h)
            s = urlsplit(absu)
            want = (canon(absu), s.netloc if parity else s.netloc.lower(), s.path or "/")
            g = got.iloc[i]
            assert (g["url"], g["host"], g["path"]) == want, (parity, b, h)


def test_udf_matches_py(spark):
    from pyspark.sql import functions as F

    from distributed_web_scrapper_and_crawler_spark.functions.canonicalize import canonicalize_udf

    urls = [
        "http://Host.Test/Path?b=2&a=1#frag",
        "https://h.test:443/x",
        "http://h042.example.test/cat/7",
    ]
    df = spark.createDataFrame([(u,) for u in urls], "url string")
    for parity, ref in ((True, normalize_url_py), (False, canonicalize_url_py)):
        got = df.select(canonicalize_udf(parity)("url").alias("c")).select("c.url").collect()
        assert [r["url"] for r in got] == [ref(u) for u in urls]


def test_allow_filter_case_sensitive_parity(spark):
    """Reference parity: `any(d in parsed.netloc)` is CASE-SENSITIVE on
    the raw netloc (distributed_crawler.py:67-73) — a mixed-case host
    must NOT match a lowercase allowed domain in parity mode (ADVICE r1,
    canonicalize low finding)."""
    from distributed_web_scrapper_and_crawler_spark.functions.canonicalize import (
        allowed_domain_filter,
        canonicalize_udf,
    )
    from pyspark.sql import functions as F

    df = spark.createDataFrame(
        [("http://BOOKS.ToScrape.com/x",), ("http://books.toscrape.com/y",)], "raw string"
    )
    parity = df.select(canonicalize_udf(parity=True)("raw").alias("c")).select(
        F.col("c.host").alias("host")
    )
    kept = [r["host"] for r in parity.filter(allowed_domain_filter(F.col("host"), ("books.toscrape.com",))).collect()]
    assert kept == ["books.toscrape.com"]  # mixed-case host rejected, like the reference
    # production mode lowercases the host => both match
    prod = df.select(canonicalize_udf(parity=False)("raw").alias("c")).select(
        F.col("c.host").alias("host")
    )
    kept2 = prod.filter(allowed_domain_filter(F.col("host"), ("books.toscrape.com",))).count()
    assert kept2 == 2
    # production mode also lowercases the configured DOMAIN — a mixed-case
    # config entry must still match the lowercased hosts (ADVICE r2)
    kept3 = prod.filter(
        allowed_domain_filter(F.col("host"), ("Books.ToScrape.COM",), parity=False)
    ).count()
    assert kept3 == 2


def test_doc_kernel_matches_canon_links_pd(spark):
    """canon_links_doc_udf (one Arrow crossing per DOCUMENT, parallel-array
    outputs — VERDICT r4 #3) must be byte-identical to ``_canon_links_pd``
    run on the flattened (base, href) pairs, over the full fixture zoo, in
    both modes, with and without paths, including ragged docs (0-link
    documents must yield empty arrays, not nulls)."""
    import pandas as pd
    from pyspark.sql import functions as F

    from distributed_web_scrapper_and_crawler_spark.functions.canonicalize import (
        _canon_links_pd,
        canon_links_doc_udf,
    )

    # one "document" per base carrying the whole href zoo, plus a 0-link doc
    # and a NULL-array doc (a null spans column upstream yields hrefs=NULL;
    # the kernel must emit empty arrays, not kill the Python worker —
    # ADVICE r5 medium)
    docs = [(b, list(_HREF_CASES)) for b in _BASE_CASES]
    docs.append(("http://empty.example.test/", []))
    docs.append(("http://nullspans.example.test/", None))
    df = spark.createDataFrame(docs, "b string, hs array<string>").coalesce(2)
    for parity in (True, False):
        for include_path in (True, False):
            udf = canon_links_doc_udf(parity, include_path)
            got = {
                r["b"]: r["_c"]
                for r in df.withColumn("_c", udf(F.col("b"), F.col("hs"))).collect()
            }
            for b, hs in docs:
                hs = hs or []  # null array ≡ zero links
                want = _canon_links_pd(
                    pd.Series([b] * len(hs)), pd.Series(list(hs)), parity
                )
                c = got[b]
                assert list(c["urls"]) == list(want["url"]), (parity, b)
                assert list(c["hosts"]) == list(want["host"]), (parity, b)
                if include_path:
                    assert list(c["paths"]) == list(want["path"]), (parity, b)
                else:
                    assert "paths" not in c.asDict()
