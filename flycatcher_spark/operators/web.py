"""Web-corpus operators: URL canonicalization and URL-keyed dedup.

Crawled corpora key almost everything on the URL — recrawl dedup,
per-host caps, domain mixing — and the same page arrives under
textually different URLs (scheme/host case, default ports, tracking
parameters, fragments, trailing slashes). :func:`canonical_url`
collapses those variants with a pure Column expression (map-only,
whole-stage codegen — at 100 TB canonicalization costs the scan), and
:func:`url_dedup` keeps one best row per canonical URL with an
exact_dedup-shaped slim shuffle (key + id + preference columns only;
page payloads never enter the exchange).

Every transformation is deliberately regex/string-builtin only so the
DuckDB oracle replays it verbatim (the ``url_dedup`` query).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from .text import _col

__all__ = [
    "canonical_url",
    "extract_links",
    "host_of",
    "host_links",
    "html_to_text",
    "resolve_link",
    "sitemap_entries",
    "url_dedup",
    "parse_robots",
    "robots_rules",
    "robots_gate",
    "robots_sitemaps",
    "TRACKING_PARAM_RE",
]

# Query parameters that never identify content: analytics/click IDs.
# Anchored prefix match against "name=value" strings. Deliberately
# NARROW: a generic "ref" is frequently content-bearing (?ref=branch
# on code hosts), so only the known tracking variants ref_src/ref_url
# are dropped — pass a custom list to :func:`canonical_url` to widen.
TRACKING_PARAM_RE = r"^(utm_[^=]*|gclid|fbclid|ref_src|ref_url|mc_cid|mc_eid)="

_URL_RE = r"^([A-Za-z][A-Za-z0-9+.-]*)://([^/?#]*)([^?#]*)(\?[^#]*)?(#.*)?$"


def canonical_url(
    url: Column | str, tracking_re: str = TRACKING_PARAM_RE
) -> Column:
    """Canonical form of an absolute http(s)-style URL:

    - scheme and host lowercased; a leading ``www.`` dropped
    - default ports stripped (``:80`` for http, ``:443`` for https)
    - the fragment dropped
    - tracking query parameters removed (``tracking_re``, default
      :data:`TRACKING_PARAM_RE`), the surviving parameters sorted
      bytewise
    - a single trailing slash dropped from non-root paths; an empty
      path becomes ``/``

    Strings that don't parse as ``scheme://authority...`` pass
    through unchanged (better a stable passthrough than a null for
    dedup keys). Pure Column expression — no UDF, no shuffle.

    Examples
    --------
        >>> df = spark.createDataFrame(
        ...     [("HTTPS://WWW.Example.COM:443/a/?utm_source=x&b=2&a=1#f",)],
        ...     ["url"])
        >>> df.select(canonical_url("url").alias("u")).first()["u"]
        'https://example.com/a?a=1&b=2'
    """
    u = _col(url)
    scheme = F.lower(F.regexp_extract(u, _URL_RE, 1))
    host0 = F.lower(F.regexp_extract(u, _URL_RE, 2))
    path0 = F.regexp_extract(u, _URL_RE, 3)
    query0 = F.regexp_extract(u, _URL_RE, 4)

    host1 = F.regexp_replace(host0, r"^www\.", "")
    host = F.when(
        (scheme == "http") & host1.endswith(":80"),
        F.regexp_replace(host1, ":80$", ""),
    ).when(
        (scheme == "https") & host1.endswith(":443"),
        F.regexp_replace(host1, ":443$", ""),
    ).otherwise(host1)

    path1 = F.regexp_replace(path0, r"/$", "")
    path = F.when(path1 == "", F.lit("/")).otherwise(path1)

    params = F.array_sort(
        F.filter(
            F.split(F.regexp_replace(query0, r"^\?", ""), "&"),
            lambda x: (x != "") & ~x.rlike(tracking_re),
        )
    )
    query = F.when(
        F.size(params) > 0, F.concat(F.lit("?"), F.concat_ws("&", params))
    ).otherwise(F.lit(""))

    canon = F.concat(scheme, F.lit("://"), host, path, query)
    return F.when(u.rlike(_URL_RE), canon).otherwise(u)


def host_of(url: Column | str) -> Column:
    """Registrable host of a canonicalized URL (the per-domain cap /
    domain-mixing key: compose with ``quality.cap_per_key``).

    Examples
    --------
        >>> df = spark.createDataFrame(
        ...     [("https://blog.example.com/post",)], ["url"])
        >>> df.select(host_of("url").alias("h")).first()["h"]
        'blog.example.com'
    """
    return F.regexp_extract(_col(url), _URL_RE, 2)


def _host_of_canonical(url: Column | str) -> Column:
    """``host_of(canonical_url(url))`` without materializing the
    canonical URL — algebraically identical, ~half the regex work.

    ``canonical_url`` builds ``scheme://host<path><query>`` and
    ``host_of`` then re-extracts the authority, so the entire
    path/query normalization (two more ``regexp_extract``, the
    trailing-slash replace, the split/filter/array_sort over query
    params, the concats) is computed only to be discarded. The
    authority of the canonical form is exactly ``canonical_url``'s
    internal ``host`` expression when the URL parses, and ``''``
    otherwise (``host_of`` on a non-matching passthrough string
    extracts nothing). Pinned against the composed form by
    ``tests/test_web.py::test_host_of_canonical_equivalence``."""
    u = _col(url)
    scheme = F.lower(F.regexp_extract(u, _URL_RE, 1))
    host0 = F.lower(F.regexp_extract(u, _URL_RE, 2))
    host1 = F.regexp_replace(host0, r"^www\.", "")
    host = F.when(
        (scheme == "http") & host1.endswith(":80"),
        F.regexp_replace(host1, ":80$", ""),
    ).when(
        (scheme == "https") & host1.endswith(":443"),
        F.regexp_replace(host1, ":443$", ""),
    ).otherwise(host1)
    return F.when(u.isNull(), F.lit(None).cast("string")).when(
        u.rlike(_URL_RE), host
    ).otherwise(F.lit(""))


def html_to_text(
    html: Column | str, block_breaks: bool = False
) -> Column:
    """Crude-but-honest HTML→text extraction (the WET-conversion
    stage that follows :func:`warc.warc_records` in a crawl
    pipeline): drop ``<script>``/``<style>`` blocks and comments,
    strip every remaining tag to a space, decode the common
    entities, collapse whitespace. Pure Column expression — regex
    chains run JVM-side in codegen and the identical chain replays in
    any SQL dialect (the ``html_extract`` oracle). This is the
    boilerplate-light subset of real extraction (trafilatura-class
    readability scoring is a model, not a regex — out of scope by
    design); it is deterministic, engine-portable, and good enough to
    feed the quality gates, which is what the downstream operators
    actually need.

    With ``block_breaks=True``, block-level boundaries (``</p>``,
    ``</div>``, ``</li>``, ``</h1>``-``</h6>``, ``</tr>``, ``<br>``)
    become NEWLINES and whitespace collapses per-line instead of
    globally — the layout-preserving mode that makes the extracted
    text compose with :func:`dedup.line_dedup` (a site template's
    nav/footer blocks land on their own lines, exactly what the
    line-frequency pass removes). Default ``False`` keeps the
    original single-line WET behavior.

    Examples
    --------
        >>> df = spark.createDataFrame(
        ...     [("<p>Hi &amp; bye</p><script>var x;</script>",)], ["h"])
        >>> df.select(html_to_text("h").alias("t")).first()["t"]
        'Hi & bye'
        >>> df2 = spark.createDataFrame(
        ...     [("<p>one</p><p>two</p><div>nav</div>",)], ["h"])
        >>> df2.select(
        ...     html_to_text("h", block_breaks=True).alias("t")
        ... ).first()["t"]
        'one\\ntwo\\nnav'
    """
    c = _col(html)
    # order matters: blocks first (their CONTENT must go), then tags,
    # then entities, then whitespace
    out = F.regexp_replace(c, r"(?is)<(script|style)[^>]*>.*?</\1>", " ")
    out = F.regexp_replace(out, r"(?s)<!--.*?-->", " ")
    if block_breaks:
        out = F.regexp_replace(
            out,
            r"(?i)</(p|div|li|tr|h[1-6])\s*>|<br\s*/?>",
            "\n",
        )
    out = F.regexp_replace(out, r"(?s)<[^>]+>", " ")
    for ent, rep in [
        ("&nbsp;", " "),
        ("&lt;", "<"),
        ("&gt;", ">"),
        ("&quot;", '"'),
        ("&#39;", "'"),
        ("&amp;", "&"),  # LAST, or "&amp;lt;" would double-decode
    ]:
        out = F.replace(out, F.lit(ent), F.lit(rep))
    if not block_breaks:
        return F.regexp_replace(
            F.regexp_replace(out, r"^\s+|\s+$", ""), r"\s+", " "
        )
    # per-line collapse: spaces/tabs within lines, blank lines dropped
    out = F.regexp_replace(out, r"[ \t\r\f]+", " ")
    out = F.regexp_replace(out, r" ?\n ?", "\n")
    out = F.regexp_replace(out, r"\n+", "\n")
    return F.regexp_replace(out, r"^\s+|\s+$", "")


def extract_links(html: Column | str) -> Column:
    """Array of ``href`` targets from anchor tags, in document order.

    Matches double-quoted ``href`` attributes of ``<a>`` tags (the
    overwhelmingly dominant form in real markup; unquoted/single-
    quoted hrefs are out of this deliberately-regex-portable subset
    and documented as such). Pure Column — ``regexp_extract_all``
    runs JVM-side and the identical pattern replays in DuckDB (the
    ``extract_links`` oracle).

    Examples
    --------
        >>> df = spark.createDataFrame(
        ...     [('<a href="/x">x</a> <a id="z" href="https://e.com/y">y</a>',)],
        ...     ["h"])
        >>> df.select(extract_links("h").alias("l")).first()["l"]
        ['/x', 'https://e.com/y']
    """
    return F.regexp_extract_all(
        _col(html), F.lit(r'(?is)<a\s[^>]*href\s*=\s*"([^"]*)"'), F.lit(1)
    )


def resolve_link(base_url: Column | str, href: Column | str) -> Column:
    """Resolve an ``href`` against the page URL into an absolute URL.

    Handles the three forms that cover crawl-graph construction:
    absolute (``scheme://...`` — passed through), protocol-relative
    (``//host/...`` — takes the base scheme), and root-relative
    (``/path`` — takes the base scheme+host). Fragment-only,
    ``mailto:``/``javascript:`` and dot-segment relative paths
    (``../a``) return NULL — a documented subset: the null links
    drop out of the edge list rather than fabricating wrong edges.
    Pure Column.

    Examples
    --------
        >>> df = spark.createDataFrame(
        ...     [("https://a.com/p/q", "/x"),
        ...      ("https://a.com/p/q", "//b.com/y"),
        ...      ("https://a.com/p/q", "http://c.com/z"),
        ...      ("https://a.com/p/q", "../rel")],
        ...     ["base", "href"])
        >>> [r.u for r in df.select(resolve_link("base", "href").alias("u")).collect()]
        ['https://a.com/x', 'https://b.com/y', 'http://c.com/z', None]
    """
    b, h = _col(base_url), _col(href)
    scheme = F.lower(F.regexp_extract(b, _URL_RE, 1))
    host = F.lower(F.regexp_extract(b, _URL_RE, 2))
    return _resolve_parts(scheme, host, h)


def _resolve_parts(scheme: Column, host: Column, h: Column) -> Column:
    """:func:`resolve_link` against a base already split into
    lowercased scheme/host Columns — lets callers that explode many
    hrefs per page compute the base regexes once per page instead of
    once per link."""
    return (
        F.when(h.rlike(r"^[A-Za-z][A-Za-z0-9+.-]*://"), h)
        .when(h.rlike(r"^//"), F.concat(scheme, F.lit(":"), h))
        .when(h.rlike(r"^/"), F.concat(scheme, F.lit("://"), host, h))
        .otherwise(F.lit(None).cast("string"))
    )


def extract_anchors(html: Column | str) -> Column:
    """Array of ``struct<href, anchor>`` from anchor elements, in
    document order — the raw material of an anchor-text corpus.

    Same deliberately-regex-portable subset as
    :func:`extract_links` (double-quoted ``href``), extended to the
    full element so the anchor TEXT comes along: nested markup
    inside the element is stripped to spaces and whitespace is
    collapsed, so ``<a href="/x"><b>big</b> cat</a>`` yields
    ``('/x', 'big cat')``. Pure Column — the identical patterns
    replay in DuckDB (the ``anchor_texts`` oracle).

    Examples
    --------
        >>> df = spark.createDataFrame(
        ...     [('<a href="/x"><b>big</b> cat</a> <a href="/y">dog</a>',)],
        ...     ["h"])
        >>> [(a["href"], a["anchor"])
        ...  for a in df.select(extract_anchors("h").alias("a")).first()["a"]]
        [('/x', 'big cat'), ('/y', 'dog')]
    """
    elems = F.regexp_extract_all(
        _col(html),
        F.lit(r'(?is)<a\s[^>]*href\s*=\s*"[^"]*"[^>]*>.*?</a>'),
        F.lit(0),
    )
    def _pair(e: Column) -> Column:
        href = F.regexp_extract(e, r'(?is)href\s*=\s*"([^"]*)"', 1)
        body = F.regexp_extract(e, r"(?is)^<a[^>]*>(.*)</a>$", 1)
        txt = F.trim(
            F.regexp_replace(
                F.regexp_replace(body, r"(?s)<[^>]*>", " "), r"\s+", " "
            )
        )
        return F.struct(href.alias("href"), txt.alias("anchor"))
    return F.transform(elems, _pair)


def anchor_text_agg(
    pages: DataFrame,
    url_col: str = "url",
    html_col: str = "html",
    max_anchors: int = 100,
    max_anchor_len: int = 200,
) -> DataFrame:
    """Anchor-text corpus: what the web CALLS each URL — one row per
    link target with the distinct anchor strings pointing at it.

    The classic web-pipeline data product (anchor text is training
    signal the target page itself cannot provide). Anchors are
    extracted (:func:`extract_anchors`), resolved against the page
    URL and canonicalized; empty anchors and unresolvable hrefs drop
    out. Output per target: ``n_refs`` (links), ``n_pages``
    (distinct linking pages), ``n_anchors`` (distinct anchor
    strings) and ``anchors`` — the first ``max_anchors`` distinct
    anchor strings in lexical order, '|'-joined: a deterministic
    representation every engine agrees on (no collect_list ordering
    dependence).

    Scale shape: extraction is map-only on the page scan; every
    exchange carries slim (target, anchor, src) triples — page
    bodies never shuffle. Anchor strings are truncated to
    ``max_anchor_len`` chars BEFORE the shuffle, and the anchor list
    is rank-capped at ``max_anchors`` BEFORE any collect — so a
    hot target (every page links the homepage) costs a window over
    its distinct anchors, never an unbounded array in one reducer.
    The count aggregates are hash/expand aggs with bounded state.
    """
    from ..plans import ensure_min_parallelism

    # Per-row cost here is several regex passes per page (element
    # extract_all + per-anchor href/body extraction + resolution +
    # canonicalization) — the expensive-per-row regime where the
    # §2.5 widening guard is a measured win (host_links precedent);
    # on the bench's single-split scan the extraction otherwise runs
    # as one serial task (profiled 2×~1.6 s at sf0.1).
    pages = ensure_min_parallelism(
        pages.select(F.col(url_col), F.col(html_col)), key=url_col
    )
    a = F.explode(extract_anchors(F.col(html_col))).alias("__a")
    triples = pages.select(
        F.col(url_col).alias("__base"), a
    ).select(
        canonical_url(
            resolve_link(F.col("__base"), F.col("__a.href"))
        ).alias("target"),
        F.substring(F.col("__a.anchor"), 1, int(max_anchor_len)).alias(
            "anchor"
        ),
        F.col("__base").alias("src"),
    ).where(F.col("target").isNotNull() & (F.col("anchor") != ""))
    # Both consumers (the stats aggregate and the capped anchor list)
    # read a (target, anchor, src) pre-aggregate. Because the
    # widening exchange is keyed on the page url (== src), the
    # pre-aggregate is partition-local — no extra shuffle — and the
    # countDistinct Expand runs over near-distinct triples instead of
    # the raw stream. n_refs = sum of triple counts; the distinct
    # src / anchor sets are preserved by the grouping — all exact
    # integers, cell-identical to aggregating the raw triples.
    # (Forcing the two consumers onto ONE reused exchange was tried
    # three ways — shared filter pins, an explicit repartition by
    # target — and defeated each time by consumer-side column
    # pruning/filter pushdown producing canonically different
    # subtrees; the duplicated extraction is parallel after the
    # widening and the two consumer stages overlap, so the wall cost
    # at bench scale is the widened stage, not 2x.)
    grp = triples.groupBy("target", "anchor", "src").agg(
        F.count(F.lit(1)).alias("__n")
    )
    stats = grp.groupBy("target").agg(
        F.sum("__n").alias("n_refs"),
        F.countDistinct("src").alias("n_pages"),
        F.countDistinct("anchor").alias("n_anchors"),
    )
    w = Window.partitionBy("target").orderBy("anchor")
    capped = (
        grp.select("target", "anchor")
        .distinct()
        .withColumn("__r", F.row_number().over(w))
        .where(F.col("__r") <= int(max_anchors))
        .groupBy("target")
        .agg(
            F.array_join(F.array_sort(F.collect_list("anchor")), "|").alias(
                "anchors"
            )
        )
    )
    return stats.join(capped, "target").select(
        "target", "n_refs", "n_pages", "n_anchors", "anchors"
    )


def host_links(
    pages: DataFrame,
    url_col: str = "url",
    html_col: str = "html",
) -> DataFrame:
    """Host-level link edges ``(src, dst)`` from crawled pages — the
    input :func:`graph.pagerank` ranks. Extracts anchors
    (:func:`extract_links`), resolves them against the page URL
    (:func:`resolve_link`), canonicalizes, and keeps one distinct
    edge per ordered host pair, self-links dropped.

    Shuffle shape: extraction/resolution/canonicalization are
    map-only on the page scan; the only exchange is the distinct on
    two short host strings — page bodies never shuffle. Two r11
    expression-level cuts (the shuffle count is already minimal):
    host extraction is the fused :func:`_host_of_canonical` (the
    composed ``host_of(canonical_url(.))`` pays the full path/query
    normalization only to discard it — 2.1x per row, microbenched on
    1M URLs), and the base URL's scheme/host regexes are computed
    once per PAGE (pre-explode) instead of once per link. An explicit
    dedup-before-resolve rewrite (distinct on the slim
    ``(src, scheme, bhost, href)`` quad BELOW the per-link regex
    work) was measured and NOT kept: Catalyst's
    ``RemoveRedundantAggregates`` + filter pushdown collapse it back
    to exactly this single-exchange plan, so it bought no plan change
    — the map-side partial aggregate of the final distinct already
    dedups edges before the wire.
    """
    from ..plans import ensure_min_parallelism

    # Guard the regex-heavy extraction against an under-partitioned
    # page scan (guide: one unsplittable split runs ALL extraction
    # serially while every other core idles — measured 1.5-1.8 s of
    # single-task stage on the bench graph queries). No-op when the
    # scan is already wide (production).
    pages = ensure_min_parallelism(pages)
    b = F.col(url_col)
    quads = pages.select(
        _host_of_canonical(b).alias("src"),
        F.lower(F.regexp_extract(b, _URL_RE, 1)).alias("__scheme"),
        F.lower(F.regexp_extract(b, _URL_RE, 2)).alias("__bhost"),
        F.explode(extract_links(F.col(html_col))).alias("__href"),
    )
    edges = quads.select(
        "src",
        _host_of_canonical(
            _resolve_parts(
                F.col("__scheme"), F.col("__bhost"), F.col("__href")
            )
        ).alias("dst"),
    )
    return (
        edges.where(
            F.col("dst").isNotNull()
            & (F.col("dst") != "")
            & (F.col("dst") != F.col("src"))
        )
        .distinct()
    )


def sitemap_entries(
    sitemaps: DataFrame,
    xml_col: str = "sitemap_xml",
) -> DataFrame:
    """Explode sitemap XML (sitemaps.org protocol) into one row per
    ``<url>`` entry: the input columns plus ``loc`` and ``lastmod``
    (NULL when the optional tag is absent). This is the crawl
    frontier seed stage: compose with :func:`robots_gate` and
    :func:`url_dedup` to turn published sitemaps into a deduplicated,
    crawl-permitted URL list.

    Pure Column: ``<url>`` blocks via ``regexp_extract_all``, fields
    via ``regexp_extract`` inside a ``transform`` lambda — map-only,
    engine-portable (the ``sitemap_urls`` oracle replays it with
    ``list_transform``). Sitemap *index* files (``<sitemapindex>``)
    nest the same ``<loc>`` structure and can be fed through the same
    parser to list child sitemap URLs.
    """
    blocks = F.regexp_extract_all(
        F.col(xml_col), F.lit(r"(?is)<url>(.*?)</url>"), F.lit(1)
    )
    entry = F.transform(
        blocks,
        lambda b: F.struct(
            F.regexp_extract(b, r"(?is)<loc>\s*([^<]*?)\s*</loc>", 1).alias(
                "loc"
            ),
            F.nullif(
                F.regexp_extract(
                    b, r"(?is)<lastmod>\s*([^<]*?)\s*</lastmod>", 1
                ),
                F.lit(""),
            ).alias("lastmod"),
        ),
    )
    return (
        sitemaps.withColumn("__e", F.explode(entry))
        .select(*sitemaps.columns, "__e.loc", "__e.lastmod")
        .drop(xml_col)
    )


def parse_robots(text: str) -> list[tuple[str, bool, str]]:
    r"""Parse a robots.txt body (RFC 9309) into
    ``(agent_lowercase, allow, pattern)`` rules. Group semantics per
    the RFC: consecutive ``User-agent`` lines open one group whose
    ``Allow``/``Disallow`` rules apply to every listed agent;
    comments (``#``) strip; unknown directives and empty
    ``Disallow:`` lines (explicit allow-all) are ignored. Pattern
    wildcards (``*``, trailing ``$``) are preserved verbatim —
    :func:`robots_rules` compiles them.

    Examples
    --------
        >>> parse_robots("User-agent: *\nDisallow: /private\n"
        ...              "Allow: /private/ok\n")
        [('*', False, '/private'), ('*', True, '/private/ok')]
    """
    rules: list[tuple[str, bool, str]] = []
    agents: list[str] = []
    in_group_header = True
    for raw in (text or "").splitlines():
        line = raw.split("#", 1)[0].strip()
        if not line or ":" not in line:
            continue
        key, _, value = line.partition(":")
        key = key.strip().lower()
        value = value.strip()
        if key == "user-agent":
            if not in_group_header:
                agents = []  # a new group starts
            agents.append(value.lower())
            in_group_header = True
        elif key in ("allow", "disallow"):
            in_group_header = False
            if not value:
                continue  # "Disallow:" (empty) = allow all, no rule
            for a in agents:
                rules.append((a, key == "allow", value))
    return rules


def robots_sitemaps(
    robots_df: DataFrame,
    host_col: str = "host",
    robots_col: str = "robots_txt",
) -> DataFrame:
    r"""Sitemap discovery from robots.txt: RFC 9309 ``Sitemap:``
    directives are group-independent absolute URLs, so this is a
    pure-Column extraction (one row per directive) — the usual way a
    crawler finds the frontier seeds that
    :func:`sitemap_entries` then explodes. Hosts without a directive
    produce no rows.

    Examples
    --------
        >>> df = spark.createDataFrame(
        ...     [("a.com", "User-agent: *\nDisallow: /x\n"
        ...       "Sitemap: https://a.com/s1.xml\nSitemap: https://a.com/s2.xml")],
        ...     ["host", "robots_txt"])
        >>> [r.sitemap_url for r in robots_sitemaps(df).collect()]
        ['https://a.com/s1.xml', 'https://a.com/s2.xml']
    """
    urls = F.regexp_extract_all(
        F.col(robots_col),
        F.lit(r"(?im)^\s*sitemap\s*:\s*(\S+)\s*$"),
        F.lit(1),
    )
    return robots_df.select(
        F.col(host_col).alias("host"),
        F.explode(urls).alias("sitemap_url"),
    )


def _pattern_regex(pattern: str) -> str:
    """robots path pattern → anchored regex: ``*`` matches any run,
    a trailing ``$`` anchors the end, everything else is literal."""
    import re as _re

    anchored_end = pattern.endswith("$")
    body = pattern[:-1] if anchored_end else pattern
    rx = "".join(".*" if ch == "*" else _re.escape(ch) for ch in body)
    return "^" + rx + ("$" if anchored_end else "")


def robots_rules(
    robots_df: DataFrame,
    host_col: str = "host",
    robots_col: str = "robots_txt",
    agent: str = "*",
) -> DataFrame:
    """Per-host crawl rules for ``agent``: parse each host's
    robots.txt (Arrow kernel — group semantics are stateful per
    file), then keep the MOST SPECIFIC matching group per RFC 9309
    (the agent's own group when one exists, else ``*``; groups never
    merge). Returns ``(host, allow, pattern, pattern_len,
    pattern_re)`` — a per-host metadata side table, tiny next to any
    crawl and built once per robots refresh (``pattern`` is the raw
    robots pattern, which the compiled gate path re-expresses as
    literal predicates).
    """
    from pyspark.sql.pandas.functions import pandas_udf

    agent_l = agent.lower()

    @pandas_udf(
        "array<struct<agent:string, allow:boolean, pattern:string>>"
    )
    def _parse(texts: pd.Series) -> pd.Series:
        return pd.Series(
            [None if t is None else parse_robots(t) for t in texts]
        )

    exploded = (
        robots_df.select(
            F.col(host_col).alias("host"),
            F.explode(_parse(F.col(robots_col))).alias("__r"),
        )
        .select("host", "__r.agent", "__r.allow", "__r.pattern")
        .where(F.col("agent").isin(agent_l, "*"))
    )
    # group selection: hosts with an exact-agent group use ONLY it
    has_exact = F.max((F.col("agent") == agent_l).cast("int")).over(
        Window.partitionBy("host")
    )
    picked = exploded.withColumn("__he", has_exact).where(
        (F.col("agent") == agent_l)
        | ((F.col("__he") == 0) & (F.col("agent") == "*"))
    )

    @pandas_udf("string")
    def _rx(patterns: pd.Series) -> pd.Series:
        return patterns.map(_pattern_regex)

    return picked.select(
        "host",
        "allow",
        "pattern",
        F.length("pattern").cast("long").alias("pattern_len"),
        _rx(F.col("pattern")).alias("pattern_re"),
    )


def _rules_predicate(by_host: dict[str, list[tuple[bool, str]]]):
    """Shared backend of the compiled robots gate: turn per-host
    ``(allow, pattern)`` rule lists into a closure
    ``(host_col, path_col) -> allowed Column`` of pure literal
    predicates.

    Precedence is resolved AT COMPILE TIME: each host's rules sort by
    (pattern length desc, allow-first), so the first matching WHEN
    arm is exactly the RFC 9309 winner the dynamic path's struct-max
    picks. Patterns without ``*``/``$`` (the overwhelming majority of
    real robots rules) compile to ``startswith`` — a plain string op
    inside whole-stage codegen; the rest compile to ``rlike`` with a
    LITERAL pattern, which codegen compiles once per query instead of
    per row.

    Dispatch is by RULESET, not by host (r9): hosts whose ordered
    rule lists are identical — the normal case for a curated policy —
    share ONE WHEN arm guarded by ``isin(hosts...)``, which Catalyst
    converts to an InSet hash lookup. Per-row cost is therefore
    O(distinct rulesets x rules), not O(hosts x rules): a measured
    50-host single-policy sweep showed the naive per-host chain
    losing to the dynamic join ~3.5x at every row count, while the
    grouped form is the one that wins at scale
    (robots_crossover.json)."""
    if len(by_host) > 1000:
        raise ValueError(
            "compiled robots gate is for curated rule sets "
            "(<= 1000 hosts); use impl='dynamic' for per-host crawl rules"
        )
    groups: dict[tuple, list[str]] = {}
    for h in sorted(by_host):
        ordered = tuple(
            sorted(by_host[h], key=lambda r: (-len(r[1]), -int(bool(r[0]))))
        )
        groups.setdefault(ordered, []).append(h)

    def predicate(host_col, path_col):
        case = None
        for ordered, hosts in sorted(
            groups.items(), key=lambda kv: kv[1][0]
        ):
            cond = None
            for allow, pat in ordered:
                if "*" not in pat and not pat.endswith("$"):
                    m = path_col.startswith(pat)
                else:
                    m = path_col.rlike(_pattern_regex(pat))
                verdict = F.lit(bool(allow))
                cond = (
                    F.when(m, verdict)
                    if cond is None
                    else cond.when(m, verdict)
                )
            hostly = (
                cond.otherwise(F.lit(True))
                if cond is not None
                else F.lit(True)
            )
            guard = (
                host_col == F.lit(hosts[0])
                if len(hosts) == 1
                else host_col.isin(*hosts)
            )
            case = (
                F.when(guard, hostly)
                if case is None
                else case.when(guard, hostly)
            )
        if case is None:
            return F.lit(True)
        return case.otherwise(F.lit(True))

    return predicate


def _compile_rules(rules: DataFrame):
    """Compile a pre-parsed :func:`robots_rules` table into the
    compiled-gate predicate closure. One bounded collect — but note
    the collect runs the ``robots_rules`` lineage (Arrow parse +
    group-selection window); when the raw robots corpus is at hand,
    :func:`compile_robots` skips that job entirely."""
    rows = rules.select("host", "allow", "pattern").collect()
    by_host: dict[str, list[tuple[bool, str]]] = {}
    for r in rows:
        by_host.setdefault(r.host, []).append((bool(r.allow), r.pattern))
    return _rules_predicate(by_host)


def compile_robots(
    robots_df: DataFrame,
    agent: str = "*",
    host_col: str = "host",
    robots_col: str = "robots_txt",
):
    """Compile RAW robots.txt bodies straight into the compiled-gate
    predicate (r9): ONE narrow collect of ``(host, robots_txt)``
    — no Arrow parse stage, no group-selection window, no second
    job — then :func:`parse_robots` + RFC 9309 group selection run
    driver-side over the (bounded, <=1000-host by contract) corpus.
    Group selection matches :func:`robots_rules` exactly: the
    agent's own group when it has any rules, else ``*``; groups
    never merge."""
    agent_l = agent.lower()
    rows = robots_df.select(
        F.col(host_col).alias("host"), F.col(robots_col).alias("txt")
    ).collect()
    if len({r.host for r in rows}) > 1000:
        raise ValueError(
            "compiled robots gate is for curated rule sets "
            "(<= 1000 hosts); use impl='dynamic' for per-host crawl rules"
        )
    by_host: dict[str, list[tuple[bool, str]]] = {}
    for r in rows:
        parsed = parse_robots(r.txt) if r.txt is not None else []
        exact = [
            (allow, pat) for a, allow, pat in parsed if a == agent_l
        ]
        star = [(allow, pat) for a, allow, pat in parsed if a == "*"]
        picked = exact if exact else star
        if picked:
            by_host.setdefault(r.host, []).extend(picked)
    return _rules_predicate(by_host)


def robots_gate(
    urls: DataFrame,
    rules: DataFrame,
    url_col: str = "url",
    impl: str = "dynamic",
    agent: str = "*",
) -> DataFrame:
    """Crawl-permission gate: applies each URL's host's
    :func:`robots_rules` with RFC 9309 precedence — among matching
    rules the LONGEST pattern wins, allow beating disallow on equal
    length; no matching rule (or no robots.txt at all) means allowed.
    Adds an ``allowed`` boolean to the input rows.

    Two implementations with identical results (pytest- and
    oracle-pinned equal):

    - ``impl="dynamic"`` (default): joins the per-host rule table
      (broadcast when small, as a real rules table is); the per-URL
      argmax shuffles one partial row per URL. Matching runs
      ``RLIKE`` with a COLUMN-side pattern — per-row regex compile,
      acceptable because rules-per-host is single digits, and the
      right path when the rule table is itself data (per-host
      robots refreshed by the crawl).
    - ``impl="compiled"`` (r8; raw-robots fast path r9): for the
      common curated-fixed-ruleset case — collects the (bounded, by
      definition) rule set once and compiles it into literal Column
      predicates: plain prefix rules become ``startswith`` and
      wildcard/anchored rules become literal-pattern ``rlike``
      (compiled once by codegen, not per row), chained in precedence
      order inside a per-host CASE. No join, no shuffle, no pattern
      column — the whole gate stays in WholeStageCodegen. Pass the
      RAW robots table (``host``, ``robots_txt``) plus ``agent`` and
      the parse/group-selection runs driver-side inside the one
      collect (no Arrow parse job at all); a pre-parsed
      :func:`robots_rules` table also works but re-runs its lineage
      on the collect. Refuses rule sets over 1000 hosts (use the
      dynamic path there).
    """
    if impl not in ("dynamic", "compiled"):
        raise ValueError("impl must be 'dynamic' or 'compiled'")
    host = host_of(canonical_url(F.col(url_col)))
    path = F.regexp_extract(canonical_url(F.col(url_col)), _URL_RE, 3)
    if impl == "compiled":
        # A RAW robots table (host + robots_txt, no parsed pattern
        # column) compiles driver-side in one narrow collect —
        # no Arrow parse job; a pre-parsed robots_rules table still
        # works but pays its lineage on the collect.
        raw = "pattern" not in rules.columns and "robots_txt" in rules.columns
        pred = (
            compile_robots(rules, agent=agent)
            if raw
            else _compile_rules(rules)
        )
        # materialize host/path ONCE: the CASE references plain
        # attributes, so the regex-heavy canonical_url/extract chain
        # is not re-evaluated inside every (conditionally-evaluated,
        # hence CSE-exempt) WHEN branch; CollapseProject keeps the
        # split because the aliases are non-cheap and multiply
        # referenced
        return (
            urls.withColumn("__host", host)
            .withColumn("__path", path)
            .withColumn(
                "allowed", pred(F.col("__host"), F.col("__path"))
            )
            .drop("__host", "__path")
        )
    with_hp = urls.withColumn("__host", host).withColumn("__path", path)
    joined = with_hp.join(
        rules.withColumnRenamed("host", "__host"), "__host", "left"
    )
    matched = joined.withColumn(
        "__hit",
        F.when(
            F.col("pattern_re").isNotNull()
            & F.expr("__path rlike pattern_re"),
            F.struct(
                F.col("pattern_len"),
                F.col("allow").cast("int").alias("allow_i"),
            ),
        ),
    )
    best = matched.groupBy(*urls.columns, "__host", "__path").agg(
        F.max("__hit").alias("__best")
    )
    return best.select(
        *urls.columns,
        F.coalesce(F.col("__best.allow_i") == 1, F.lit(True)).alias(
            "allowed"
        ),
    )


def url_dedup(
    df: DataFrame,
    url_col: str = "url",
    id_col: str = "doc_id",
    quality_col: str | None = None,
) -> DataFrame:
    """One row per canonical URL: the highest ``quality_col`` wins,
    ties (and the no-quality case) break to the minimum ``id_col``.
    Returns surviving full rows plus the ``canonical_url`` column.

    Shuffle shape (the exact_dedup pattern): the groupBy carries only
    (canonical key, id, quality) — page payloads stay out of the
    exchange and come back via the id join.
    """
    curl = canonical_url(url_col).alias("__curl")
    # NULL quality must LOSE to any scored row: struct-min sorts a
    # null first field before every value, so coalesce the negated
    # quality to +inf (null-quality rows then only win an all-null
    # group, where the id tiebreak applies).
    pref = (
        F.coalesce(
            (-_col(quality_col)).cast("double"), F.lit(float("inf"))
        ).alias("__nq")
        if quality_col is not None
        else F.lit(0).alias("__nq")
    )
    keep = (
        df.select(F.col(id_col), curl, pref)
        .groupBy("__curl")
        .agg(
            F.min(F.struct(F.col("__nq"), F.col(id_col).alias("__i"))).alias(
                "__best"
            )
        )
        .select(
            F.col("__best.__i").alias(id_col),
            F.col("__curl").alias("canonical_url"),
        )
    )
    return df.join(keep, on=id_col, how="inner")
