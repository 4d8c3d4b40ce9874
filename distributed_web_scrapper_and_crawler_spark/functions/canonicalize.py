"""URL normalization / canonicalization — vectorized Arrow UDFs.

Two modes:

- **parity** (reference-exact): ``normalize_url_py`` replicates
  ``DistributedCrawler.normalize_url`` (``/root/reference/distributed_crawler.py:75-78``):
  ``f"{scheme}://{netloc}{path}"`` — drops query string AND fragment,
  preserves case. This is the dedup key of the reference's path-B crawl.
- **full** (north-rule production): lowercase scheme+host, sort query
  params, strip fragment, drop default ports — a superset that the
  reference lacks; flag-gated so parity tests stay exact.

The Spark-facing surface is a single pandas UDF returning a struct
``(url, host, path)`` so one Arrow crossing yields every derived column
(host for politeness partitioning, path for robots prefix checks).
"""

from __future__ import annotations

from functools import lru_cache
from urllib.parse import parse_qsl, urlencode, urljoin, urlsplit

import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql import types as T

_DEFAULT_PORTS = {"http": ":80", "https": ":443"}


def url_parts_py(url: str) -> tuple[str, str, str]:
    """(scheme, netloc, path) via one urlsplit."""
    s = urlsplit(url)
    return s.scheme, s.netloc, s.path


def normalize_url_py(url: str) -> str:
    """Reference-exact normalization (distributed_crawler.py:75-78)."""
    s = urlsplit(url)
    return f"{s.scheme}://{s.netloc}{s.path}"


def canonicalize_url_py(url: str) -> str:
    """Production canonicalization (north rule, BASELINE.json:6).

    Lowercase scheme/host, strip fragment, strip default port, sort query
    params, collapse empty path to '/'.
    """
    s = urlsplit(url)
    scheme = s.scheme.lower()
    netloc = s.netloc.lower()
    dp = _DEFAULT_PORTS.get(scheme)
    if dp and netloc.endswith(dp):
        netloc = netloc[: -len(dp)]
    path = s.path or "/"
    query = urlencode(sorted(parse_qsl(s.query, keep_blank_values=True)))
    return f"{scheme}://{netloc}{path}" + (f"?{query}" if query else "")


_CANON_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType()),
        T.StructField("host", T.StringType()),
        T.StructField("path", T.StringType()),
    ]
)


def canonicalize_udf(parity: bool = True):
    """pandas UDF: raw url -> struct(url, host, path) under the given mode.

    In parity mode ``host`` is the RAW netloc — the reference's allow
    filter substring-matches the unlowered netloc
    (``any(d in parsed.netloc)``, distributed_crawler.py:67-73), so a
    mixed-case host must stay mixed-case for the filter to agree.
    Production mode lowercases (part of full canonicalization)."""

    canon = normalize_url_py if parity else canonicalize_url_py

    @F.pandas_udf(_CANON_SCHEMA)
    def _canon(urls: pd.Series) -> pd.DataFrame:
        out_url, out_host, out_path = [], [], []
        for u in urls:
            s = urlsplit(u if u is not None else "")
            out_host.append(s.netloc if parity else s.netloc.lower())
            out_path.append(s.path or "/")
            out_url.append(canon(u) if u is not None else None)
        return pd.DataFrame({"url": out_url, "host": out_host, "path": out_path})

    return _canon


# slow-path triggers inside a path being MERGED by urljoin: a segment that
# is exactly '.' or '..' (resolved), or an empty '//' segment (urljoin
# collapses internal empty segments: `segments[1:-1] = filter(None, ...)`)
_MERGE_SLOW = r"(?:^|/)\.\.?(?:/|$)|//"
# urlsplit's WHATWG cleanup (bpo-43882): lstrip C0-control-or-space, then
# remove tab/CR/LF anywhere.
_URL_CLEAN = r"^[\x00-\x20]+|[\t\r\n]"
# detection twin of _URL_CLEAN: matches iff the replace would change the
# string (leading C0/space, or tab/CR/LF anywhere)
_URL_DIRTY = r"^[\x00-\x20]|[\t\r\n]"


def _clean_urlish(s: pd.Series) -> pd.Series:
    """Apply urlsplit's cleanup, allocation-free on the clean common case:
    one regex SCAN over all rows, then rewrite only the dirty ones —
    real-world link batches are overwhelmingly clean, and an unconditional
    .str.replace would copy every string in the crawl's hottest loop."""
    s = s.fillna("")
    dirty = s.str.contains(_URL_DIRTY, regex=True)
    if dirty.any():
        s = s.copy()
        s[dirty] = s[dirty].str.replace(_URL_CLEAN, "", regex=True)
    return s


# queries whose raw-pair string sort is PROVABLY identical to
# urlencode(sorted(parse_qsl(q, keep_blank_values=True))):
# - full pair(&pair)* structure, every pair carrying '=' (parse_qsl drops
#   empty chunks and appends '=' to bare keys otherwise);
# - key chars limited to [A-Za-z_~] — every code point ABOVE '=' (0x3D),
#   so string order of 'k=v' equals tuple order (k, v) even when one key
#   is a prefix of another;
# - value chars limited to unreserved [A-Za-z0-9_.~-] minus '=' —
#   unquote_plus/quote_plus round-trip them byte-identically (no %XX, no
#   '+', and no value '=' that urlencode would escape to %3D).
_SORTABLE_Q = r"^[A-Za-z_~]+=[A-Za-z0-9_.~\-]*(?:&[A-Za-z_~]+=[A-Za-z0-9_.~\-]*)*$"


def _append_canon_query(base_url: pd.Series, q: pd.Series) -> pd.Series:
    """base_url + canonical (param-sorted) query, vectorized where provable.

    Byte-identical to canonicalize_url_py's query handling: rows whose raw
    query fits ``_SORTABLE_Q`` get a plain split/sort/join (no urllib
    machinery); other non-empty queries run the real parse_qsl+urlencode
    per row — but only on the query STRING, the scheme/host/path work
    stays vectorized either way."""
    has_q = q.notna() & (q != "")
    if not has_q.any():
        return base_url
    out = base_url.copy()
    sortable = has_q & q.str.match(_SORTABLE_Q, na=False)
    if sortable.any():
        si = sortable[sortable].index
        out.loc[si] = base_url[sortable] + "?" + pd.Series(
            ["&".join(sorted(s.split("&"))) for s in q[sortable]], index=si
        )
    hard = has_q & ~sortable
    if hard.any():
        hi = hard[hard].index
        vals = []
        for bu, s in zip(base_url[hard], q[hard]):
            enc = urlencode(sorted(parse_qsl(s, keep_blank_values=True)))
            vals.append(f"{bu}?{enc}" if enc else bu)
        out.loc[hi] = vals
    return out


def _canon_links_pd(base: pd.Series, href: pd.Series, parity: bool) -> pd.DataFrame:
    """Vectorized absolutize + canonicalize for a FLAT (base, href) batch —
    the crawl's hottest loop (every discovered link crosses it).

    Contract: byte-identical to the reference's unconditional
    ``urljoin(base, href)`` (distributed_crawler.py:234,245,256) followed
    by ``normalize_url_py``/``canonicalize_url_py``, for every non-empty
    base (the crawl invariant — base is the fetched page URL). urlsplit's
    WHATWG cleanup (lstrip C0-control/space, strip tab/CR/LF anywhere —
    bpo-43882) applies to BOTH urljoin operands inside the stdlib, so it
    is applied once up front here and every later branch — fast or
    per-row fallback — sees exactly the bytes the stdlib would.

    Fast paths are pure pandas string kernels; any row outside them falls
    back to the per-row stdlib path: foreign or mixed-case scheme, a
    ``.``/``..`` dot SEGMENT in the href OR in the base's path (urljoin
    resolves dot segments when merging relative refs — but keeps them in
    absolute hrefs, which therefore stay fast), protocol-relative ``//``,
    absolute href without a netloc (``http:///x`` resolves against the
    base), href query/fragment, production-mode query strings that need
    param sorting. Equivalence is pinned by the fixture sweep AND a
    Hypothesis property test in tests/test_canonicalize.py.
    """
    import numpy as np

    href = _clean_urlish(href)
    base = _clean_urlish(base)
    n = len(href)
    # absolute iff lowercase http(s) scheme AND a non-empty netloc:
    # urljoin resolves 'http:///x' (empty netloc) against the base
    is_abs = href.str.match(r"https?://[^/?#]")
    rel = ~is_abs

    url = pd.Series([None] * n, index=href.index, dtype=object)
    host = pd.Series([None] * n, index=href.index, dtype=object)
    out_path = pd.Series([None] * n, index=href.index, dtype=object)
    handled = is_abs.copy()

    # -- fast relative branches: outputs are ASSEMBLED from the pieces the
    # branch already knows (origin, branch path, raw query), never
    # re-extracted from the joined string — one less full-width regex pass
    if rel.any():
        h_rel = href[rel]
        # split at the first '?'/'#': path part drives the merge; the raw
        # query (text between the first '?' and any '#') is dropped by
        # parity-normalize and param-sorted by production-canonicalize;
        # fragments are dropped by both
        hm = h_rel.str.extract(r"^([^?#]*)(?:\?([^#]*))?")
        h_pre, h_q = hm[0], hm[1]
        # simple relative: non-empty path part, no scheme, and none of
        # urljoin's merge rewrites ('.'/'..' segments are resolved; '//'
        # anywhere — including protocol-relative — is collapsed by the
        # internal empty-segment filter). A query/fragment no longer
        # disqualifies: it never participates in the path merge. An EMPTY
        # path part ('?q', '#f') hits urljoin's take-the-base-path branch
        # => stdlib.
        simple = (h_pre != "") & ~h_pre.str.contains(
            r"^[A-Za-z][A-Za-z0-9+.-]*:|(?:^|/)\.\.?(?:/|$)|//", regex=True
        )
        bm = base[rel].str.extract(r"^(https?://[^/?#]*)(/[^?#]*)")
        origin, bpath = bm[0], bm[1]
        rooted = h_pre.str.startswith("/")
        root_rel = simple & rooted & origin.notna()
        # dot segments / '//' in the BASE path are rewritten by urljoin's
        # merge => such rows must take the stdlib path (rooted hrefs
        # ignore the base path entirely, so only this branch checks)
        plain_rel = simple & ~rooted & bpath.notna() & ~bpath.str.contains(_MERGE_SLOW, na=False)
        fastrel = root_rel | plain_rel
        if fastrel.any():
            path_rel = pd.Series([None] * len(h_rel), index=h_rel.index, dtype=object)
            path_rel[root_rel] = h_pre[root_rel]
            if plain_rel.any():
                bdir = bpath[plain_rel].str.replace(r"/[^/]*$", "/", regex=True)
                path_rel[plain_rel] = bdir + h_pre[plain_rel]
            # origin == scheme://netloc with a guaranteed-lowercase scheme
            # (the extract pattern is case-sensitive) => netloc by slicing
            https = origin.str.startswith("https://", na=False)
            netloc_rel = origin.str.slice(7)
            if https.any():
                netloc_rel[https] = origin[https].str.slice(8)
            fi = fastrel[fastrel].index
            handled.loc[fi] = True
            pr = path_rel[fastrel]  # starts with '/', never empty
            out_path.loc[fi] = pr
            if parity:
                # normalize_url_py == scheme://netloc + path — the query
                # and fragment are dropped wholesale, so url IS origin+path
                url.loc[fi] = origin[fastrel] + pr
                host.loc[fi] = netloc_rel[fastrel]
            else:
                sch = https[fastrel]
                nl = netloc_rel[fastrel].str.lower()
                nls = nl.copy()
                m80 = ~sch & nl.str.endswith(":80")
                if m80.any():
                    nls[m80] = nl[m80].str[:-3]
                m443 = sch & nl.str.endswith(":443")
                if m443.any():
                    nls[m443] = nl[m443].str[:-4]
                base_url = (
                    pd.Series(np.where(sch.to_numpy(), "https://", "http://"), index=fi) + nls + pr
                )
                url.loc[fi] = _append_canon_query(base_url, h_q[fastrel])
                host.loc[fi] = nl

    # -- absolute hrefs: the one branch that still needs an extract, run
    # over the abs subset only (is_abs guarantees a match)
    if is_abs.any():
        ai = is_abs[is_abs].index
        am = href[is_abs].str.extract(r"^(https?)://([^/?#]*)([^?#]*)(?:\?([^#]*))?")
        scheme_a, netloc_a, path_a, q_a = am[0], am[1], am[2], am[3]
        p_a = path_a.where(path_a != "", "/")
        out_path.loc[ai] = p_a
        if parity:
            # normalize drops query+fragment; path kept verbatim (may be '')
            url.loc[ai] = scheme_a + "://" + netloc_a + path_a
            host.loc[ai] = netloc_a
        else:
            nl = netloc_a.str.lower()
            host.loc[ai] = nl
            nls = nl.copy()
            m80 = (scheme_a == "http") & nl.str.endswith(":80")
            if m80.any():
                nls[m80] = nl[m80].str[:-3]
            m443 = (scheme_a == "https") & nl.str.endswith(":443")
            if m443.any():
                nls[m443] = nl[m443].str[:-4]
            url.loc[ai] = _append_canon_query(scheme_a + "://" + nls + p_a, q_a)

    # -- everything else: per-row stdlib, one urljoin + one urlsplit
    restm = ~handled
    if restm.any():
        ri = restm[restm].index
        urls_r, hosts_r, paths_r = [], [], []
        for b, h in zip(base[restm], href[restm]):
            u = urljoin(b, h)
            if parity:
                s = urlsplit(u)
                urls_r.append(f"{s.scheme}://{s.netloc}{s.path}")  # == normalize_url_py
                hosts_r.append(s.netloc)
            else:
                urls_r.append(canonicalize_url_py(u))
                s = urlsplit(u)
                hosts_r.append(s.netloc.lower())
            paths_r.append(s.path or "/")
        url.loc[ri] = urls_r
        host.loc[ri] = hosts_r
        out_path.loc[ri] = paths_r
    return pd.DataFrame({"url": url, "host": host, "path": out_path})


@lru_cache(maxsize=8)
def canon_links_doc_udf(parity: bool = True, include_path: bool = True):
    """DOC-granularity canonicalize: ``(base, hrefs: array<string>) ->
    struct(urls: array<string>, hosts: array<string>[, paths])``.

    Each base string crosses Arrow ONCE per document (a per-link
    crossing would ship it ~16x over on the round's biggest
    intermediate; VERDICT r4 #3). The kernel flattens with ``np.repeat``
    (object-pointer fan-out, no string copies), runs ``_canon_links_pd``
    verbatim — so every byte-equality proof for that kernel covers this
    one — and re-chunks the outputs with ``np.split`` (again pointer
    slices). Outputs are PARALLEL ARRAYS, not array<struct>: per-link
    Python struct/dict construction is what made the old fused
    array<struct> UDF lose (PLANS.md ledger); a struct-of-arrays return
    keeps the per-doc Python work to three list headers. The caller
    re-aligns positionally with ``arrays_zip`` + ``posexplode`` — order
    is preserved end-to-end.
    """
    import numpy as np

    fields = [
        T.StructField("urls", T.ArrayType(T.StringType())),
        T.StructField("hosts", T.ArrayType(T.StringType())),
    ]
    if include_path:
        fields.append(T.StructField("paths", T.ArrayType(T.StringType())))
    schema = T.StructType(fields)

    @F.pandas_udf(schema)
    def _canon(base: pd.Series, hrefs: pd.Series) -> pd.DataFrame:
        # null hrefs arrays (e.g. a null spans column upstream) count as 0
        # links: an empty array, which the caller's posexplode drops
        # (ADVICE r5 medium)
        counts = np.fromiter(
            (0 if h is None else len(h) for h in hrefs), dtype=np.int64, count=len(hrefs)
        )
        total = int(counts.sum())
        if total == 0:
            empty = [[] for _ in range(len(base))]
            out = {"urls": empty, "hosts": list(empty)}
            if include_path:
                out["paths"] = list(empty)
            return pd.DataFrame(out, index=base.index)
        flat_base = pd.Series(np.repeat(base.to_numpy(), counts))
        flat_href = pd.Series(
            np.concatenate(
                [np.asarray(h, dtype=object) for h in hrefs if h is not None and len(h)]
            )
        )
        flat = _canon_links_pd(flat_base, flat_href, parity)
        # np.split at the doc boundaries: each chunk is an object-pointer
        # view, which Arrow accepts as a list element directly
        cuts = np.cumsum(counts)[:-1]
        out = {
            "urls": np.split(flat["url"].to_numpy(), cuts),
            "hosts": np.split(flat["host"].to_numpy(), cuts),
        }
        if include_path:
            out["paths"] = np.split(flat["path"].to_numpy(), cuts)
        return pd.DataFrame(out, index=base.index)

    return _canon


def allowed_domain_filter(host_col, allowed_domains: tuple[str, ...], parity: bool = True):
    """Column predicate: reference's substring-on-netloc allow filter.

    ``any(domain in parsed.netloc for domain in allowed_domains)``
    (distributed_crawler.py:67-73) — deliberately substring, not suffix,
    and in parity mode CASE-SENSITIVE on the domain string exactly like
    the reference. In production mode hosts are lowercased by
    canonicalization, so the configured domains are lowercased too —
    otherwise a mixed-case entry silently matches nothing. Pure Catalyst
    (no UDF): OR of ``contains``.
    """
    pred = F.lit(False)
    for d in allowed_domains:
        pred = pred | host_col.contains(d if parity else d.lower())
    return pred
