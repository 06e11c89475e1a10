"""Web link-graph extraction: html -> (src_url, dst_url) edges -> host
graph. The Common-Crawl companion artifact to the page text: the
host-level link graph is what drives crawl scheduling, domain ranking
(harmonic/PageRank centrality over hosts), and frontier discovery.

Reference analog: the reference builds its asset graph from API
payloads' cross-resource references (e.g. instance -> subnet ids in
``cartography/intel/aws/ec2/instances.py``); here the cross-references
are the hrefs a page's html carries, and the "asset graph" is the web
host graph itself.

Scale notes:
- Extraction is pure JVM scan-stage work: ``CAST(html AS STRING)``
  (UTF-8 decode) -> ``regexp_extract_all`` -> ``explode``. No Python,
  no shuffle; the heavy html column never leaves the scan (only the
  extracted (src_url, dst_url) string pairs flow downstream).
- ``host_graph`` is ONE partial-aggregated hash shuffle on
  (src_host, dst_host) — host-pair cardinality is tiny relative to the
  link stream (the map-side combine does almost all the work at
  100 TB: Common Crawl is ~10^11 links but only ~10^8 host pairs).
- ``crawl_frontier`` joins the link stream against the crawled-url
  set on dst_url. At bench scale Spark broadcasts the crawl side; at
  100 TB both sides are url-hashed equi-joins (no skew: urls are
  unique) — still the right shape.

Only absolute http(s) hrefs are extracted: relative links (nav
chrome) are site-internal boilerplate, and resolving them would make
every page a self-referential clique — the classic host-graph
pollution the Common-Crawl webgraph releases also exclude.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

# Single-quoted absolute href, matching the page template; the group
# is the URL. Java regex (Spark) and RE2 (DuckDB) agree on this
# POSIX subset, so the oracle can share the pattern verbatim.
HREF_PATTERN = r"href='(https?://[^']+)'"
HOST_PATTERN = r"^https?://([^/]+)"
# Anchor-carrying absolute link: group 1 = url, group 2 = anchor text.
ANCHOR_PATTERN = r"href='(https?://[^']+)'>([^<]+)</a>"


def url_host(col: Column | str) -> Column:
    """The host of an absolute http(s) URL (empty string if none).

    Deliberately regexp (not ``parse_url``) so the DuckDB twin runs the
    byte-identical extraction.
    """
    c = F.col(col) if isinstance(col, str) else col
    return F.regexp_extract(c, HOST_PATTERN, 1)


def extract_links(
    df: DataFrame, html_col: str = "html", url_col: str = "url"
) -> DataFrame:
    """(src_url, dst_url) link edges from binary ``html_col``.

    One narrow scan-stage projection: decode -> regexp_extract_all ->
    explode. A page with no absolute hrefs emits no rows (explode of an
    empty array); NULL html emits none either.
    """
    html_str = F.col(html_col).cast("string")
    return df.select(
        F.col(url_col).alias("src_url"),
        F.explode(F.regexp_extract_all(html_str, F.lit(HREF_PATTERN), 1)).alias(
            "dst_url"
        ),
    )


def extract_anchors(
    df: DataFrame, html_col: str = "html", url_col: str = "url"
) -> DataFrame:
    """(src_url, dst_url, anchor) — absolute links WITH their anchor
    text, the web's naming signal for the linked page.

    Same narrow scan-stage shape as :func:`extract_links`: decode ->
    two ``regexp_extract_all`` passes over the decoded html (group 1 =
    url, group 2 = anchor — Spark's regexp_extract_all returns one
    group per call, so the regex runs twice; the shared decode is left
    to codegen's common-subexpression elimination) -> ``arrays_zip``
    -> explode. Relative nav links never match (https-only pattern).
    """
    html_str = F.col(html_col).cast("string")
    pair = F.explode(
        F.arrays_zip(
            F.regexp_extract_all(html_str, F.lit(ANCHOR_PATTERN), 1).alias("u"),
            F.regexp_extract_all(html_str, F.lit(ANCHOR_PATTERN), 2).alias("a"),
        )
    )
    return df.select(F.col(url_col).alias("src_url"), pair.alias("p")).select(
        "src_url",
        F.col("p.u").alias("dst_url"),
        F.col("p.a").alias("anchor"),
    )


def anchor_entities(anchors: DataFrame) -> DataFrame:
    """Per linked-to url: the web's consensus name for it.

    (dst_url, top_anchor, n_top, n_inlinks, n_anchors) — the most
    frequent inbound anchor text (count desc, anchor asc tie-break),
    its count, total inlinks, and distinct anchor variants. This is
    the classic anchor-text dictionary that seeds entity linking
    (anchor -> entity surface forms), the web-KG analog of the
    reference harvesting display names from API payloads.

    Scale shape: one (dst_url, anchor) partial-agg shuffle, then one
    dst_url-keyed aggregation whose argmax is a map-side-combinable
    ``min(struct(-n, anchor))`` — never a window over the corpus. A
    url's anchor-variant set is bounded by its inlinks; hot urls
    (the Zipf head) stay safe because the first partial agg already
    collapsed duplicates per (url, anchor).
    """
    per_anchor = anchors.groupBy("dst_url", "anchor").agg(
        F.count("*").alias("n")
    )
    agg = per_anchor.groupBy("dst_url").agg(
        F.min(
            F.struct((-F.col("n")).alias("neg"), F.col("anchor").alias("anchor"))
        ).alias("__top"),
        F.sum("n").alias("n_inlinks"),
        F.count("*").alias("n_anchors"),
    )
    return agg.select(
        "dst_url",
        F.col("__top.anchor").alias("top_anchor"),
        (-F.col("__top.neg")).alias("n_top"),
        "n_inlinks",
        "n_anchors",
    )


def host_graph(links: DataFrame) -> DataFrame:
    """(src_host, dst_host, n_links) — the weighted host-level graph.

    One hash shuffle with map-side combine; duplicate links (a page
    linking the same target twice) count twice, parallel links from
    different pages of the same host aggregate — the Common-Crawl
    host-graph convention.
    """
    return (
        links.select(
            url_host("src_url").alias("src_host"),
            url_host("dst_url").alias("dst_host"),
        )
        .groupBy("src_host", "dst_host")
        .agg(F.count("*").alias("n_links"))
    )


def crawl_frontier(links: DataFrame, crawled: DataFrame) -> DataFrame:
    """Per src_host: how many outlinks land inside the crawl vs on the
    frontier (not-yet-crawled URLs).

    ``crawled`` carries the crawl's ``url`` column. The in-crawl test
    is an equi-join on the exact dst url (LEFT join + null-flag, so
    every link is classified exactly once); the frontier count is what
    a crawl scheduler would enqueue.
    """
    crawl_urls = crawled.select(F.col("url").alias("dst_url")).distinct()
    flagged = links.join(
        crawl_urls.withColumn("__in_crawl", F.lit(1)), "dst_url", "left"
    )
    return (
        flagged.groupBy(url_host("src_url").alias("src_host"))
        .agg(
            F.sum(F.when(F.col("__in_crawl").isNotNull(), 1).otherwise(0)).alias(
                "n_internal"
            ),
            F.sum(F.when(F.col("__in_crawl").isNull(), 1).otherwise(0)).alias(
                "n_frontier"
            ),
        )
    )


def fetch_schedule(links: DataFrame, crawled: DataFrame, rate: int = 2) -> DataFrame:
    """Politeness-budgeted fetch schedule for the crawl frontier:
    every not-yet-crawled dst url, prioritized by inlink count (how
    many crawled links point at it — the classic frontier ordering)
    and assigned a fetch round so no host is hit more than ``rate``
    times per round. Returns ``(url, host, n_inlinks, fetch_round)``
    with rounds 0-based and the within-host order deterministic
    (inlinks desc, url asc — a total order).

    Scale shape: inlink counting is one partial-aggregated hash
    shuffle on dst_url; the frontier anti-join is url-hashed (no
    skew: urls unique); the round assignment is ONE window exchange
    on host sharing a single in-partition sort. A host's frontier at
    10^12 pages is bounded by its own page count — the per-host
    window never sees the corpus.

    Reference analog: the reference's sync scheduler paces API calls
    per service to respect rate limits (``cartography/sync.py``
    stages); per-host crawl rounds are the crawl-side instance.
    """
    if rate < 1:
        raise ValueError(f"rate must be >= 1, got {rate}")
    from pyspark.sql import Window

    crawl_urls = crawled.select(F.col("url").alias("dst_url")).distinct()
    frontier = (
        links.join(crawl_urls, "dst_url", "left_anti")
        .groupBy("dst_url")
        .agg(F.count("*").alias("n_inlinks"))
    )
    w = Window.partitionBy("host").orderBy(
        F.col("n_inlinks").desc(), F.col("url").asc()
    )
    return (
        frontier.select(
            F.col("dst_url").alias("url"),
            url_host("dst_url").alias("host"),
            "n_inlinks",
        )
        .withColumn(
            "fetch_round",
            ((F.row_number().over(w) - F.lit(1)) / F.lit(rate)).cast("long"),
        )
    )
