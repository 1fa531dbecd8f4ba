"""Crawl-frontier composition: sitemap discovery -> robots admission
-> URL gate -> PageRank-prior ordering.

Ties the three crawl-side operators into the one DataFrame a fetch
fleet actually consumes: URLs discovered from sitemaps.org files
(:func:`~html_parser_spark.operators.sitemap.sitemap_urls`, parsed by
the engine's own tokenizer), admitted per RFC 9309
(:mod:`~html_parser_spark.operators.robots`), and filtered through
the RefinedWeb-style URL gate
(:func:`~html_parser_spark.operators.urls.url_filter`).

Scale shape inherits from the parts: sitemap parse is a map + bounded
per-file windows, robots matching is an equi-join on host (the
natural crawl-frontier partitioning), the URL gate is a shuffle-free
map over literal-sized blocklists. The only cross-input join is
URLs-per-host x rules-per-host.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def crawl_frontier(sitemaps: DataFrame, robots: DataFrame,
                   user_agent: str = "*",
                   blocked_domains: tuple = (),
                   blocked_substrings: tuple = (),
                   sitemap_key: str = "host",
                   xml_col: str = "sitemap_xml",
                   robots_key: str = "host",
                   robots_col: str = "robots_txt") -> DataFrame:
    """(host, sitemap_xml) x (host, robots_txt) -> the admitted
    frontier: one row per discovered leaf URL with its verdicts
    ``(host, url, path, role, robots_allowed, matched_rule,
    keep_url, frontier)``.

    ``frontier`` is the conjunction — robots-allowed AND URL-gate
    kept. Sitemap-index entries (``role='sitemap'``) are emitted too
    (a crawler recurses into them) but their admission is evaluated
    the same way. Robots matching uses path+query per RFC 9309;
    hosts are taken from each loc itself, so a sitemap pointing at a
    foreign host is admitted under THAT host's robots file (or by
    default when none is known).
    """
    from html_parser_spark.operators.robots import (parse_robots,
                                                    robots_allowed)
    from html_parser_spark.operators.sitemap import sitemap_urls
    from html_parser_spark.operators.urls import url_filter

    locs = sitemap_urls(
        sitemaps.select(F.col(sitemap_key).alias("conv_id"),
                        F.lit(0).alias("turn_idx"),
                        F.col(xml_col).alias("text")))
    urls = locs.select(
        F.col("role"),
        F.col("loc").alias("url"),
        F.lower(F.coalesce(F.try_parse_url("loc", F.lit("HOST")),
                           F.lit(""))).alias("host"),
        F.concat(
            F.coalesce(F.try_parse_url("loc", F.lit("PATH")), F.lit("")),
            F.coalesce(F.concat(F.lit("?"),
                                F.try_parse_url("loc", F.lit("QUERY"))),
                       F.lit(""))).alias("path"))
    rules = parse_robots(robots, key_col=robots_key,
                         text_col=robots_col)
    verd = robots_allowed(rules, urls, user_agent=user_agent,
                          key_col="host", path_col="path")
    joined = urls.join(
        verd.select(F.col("key").alias("host"), "path",
                    F.col("allowed").alias("robots_allowed"),
                    "matched_rule"),
        ["host", "path"])
    gated = url_filter(joined, url_col="url",
                       blocked_domains=blocked_domains,
                       blocked_substrings=blocked_substrings)
    return gated.select(
        "host", "url", "path", "role", "robots_allowed",
        "matched_rule", "keep_url",
        (F.col("robots_allowed") & F.col("keep_url"))
        .alias("frontier"))


def frontier_priority(frontier: DataFrame, ranks: DataFrame,
                      url_col: str = "url",
                      keep_col: str | None = "frontier") -> DataFrame:
    """Order the admitted frontier by link-graph authority: each URL
    gains ``host_pr``, its host's fixed-point PageRank from
    :func:`~html_parser_spark.operators.linkgraph.pagerank` — the
    classic crawl-scheduling prior (Cho, Garcia-Molina & Page 1998,
    "Efficient crawling through URL ordering"): fetch high-authority
    hosts first.

    ``ranks`` is the ``(host, pr)`` table. The URL's host is
    re-derived here from the url itself (same hardened
    ``try_parse_url`` + RFC 3986 case-fold posture as
    :func:`~html_parser_spark.operators.linkgraph.host_edges`), so
    callers can feed ANY url-bearing table, not only
    :func:`crawl_frontier` output. Hosts the graph has never seen
    (new discoveries — exactly the URLs a crawl surfaces constantly)
    take ``host_pr = 0``: fetched last, never dropped. When
    ``keep_col`` names a column it is applied first, so priorities
    are computed only for admitted rows; pass ``None`` for
    pre-filtered input.

    Scale shape: ONE equi-join on host. The rank table is O(hosts) —
    orders of magnitude smaller than the frontier but still
    corpus-derived, so no broadcast hint (AQE promotes it at runtime
    when it fits; the same rule minhash_lsh documents). A fetch
    fleet partitions the frontier by host anyway (politeness), so
    this join rides the partitioning the consumer already needs.
    ``host_pr`` is a long (exact fixed-point units), so the
    resulting order is deterministic at any cluster size —
    downstream writers get a total order from
    ``sortWithinPartitions/orderBy("host_pr" DESC, url)`` with no
    float-tie protocol.

    The derived host is kept as ``url_host`` (named to avoid
    colliding with :func:`crawl_frontier`'s existing ``host``
    column) so consumers never pay a second ``try_parse_url`` over
    the frontier to recover what this join already computed.
    """
    out = frontier
    if keep_col is not None:
        out = out.filter(F.col(keep_col))
    host = F.lower(F.coalesce(
        F.try_parse_url(F.col(url_col), F.lit("HOST")), F.lit("")))
    pr = ranks.select(F.col("host").alias("_pr_host"),
                      F.col("pr").alias("_pr"))
    return (out.withColumn("url_host", host)
            .join(pr, F.col("url_host") == F.col("_pr_host"), "left")
            .withColumn("host_pr",
                        F.coalesce(F.col("_pr"), F.lit(0)).cast("long"))
            .drop("_pr_host", "_pr"))


def frontier_schedule(prioritized: DataFrame,
                      per_wave: int = 1) -> DataFrame:
    """Politeness-scheduled fetch order over
    :func:`frontier_priority` output: adds ``wave``, the 0-based
    fetch round in which a URL may be requested so that no host sees
    more than ``per_wave`` concurrent requests per round — the
    standard per-host rate constraint every crawler honors (Heydon &
    Najork 1999, "Mercator: a scalable, extensible web crawler").

    ``wave = (per-host position) DIV per_wave`` where the position
    is a ``row_number`` over ``(host_pr DESC, url ASC)`` WITHIN each
    ``url_host`` partition — a fetch fleet then processes waves in
    ascending order, and within a wave every row is on a distinct
    host budget slot. The ordering key is (long, string), so the
    schedule is bit-deterministic at any cluster size.

    Scale shape: ONE window partitioned by host — Spark hash-
    partitions on ``url_host`` and sorts within partitions; there is
    no global sort and no single-partition window (the classic
    ``row_number() OVER (ORDER BY ...)`` scale-killer this operator
    exists to avoid). Per-host state is one counter; the shuffle is
    the same by-host exchange the frontier already needs for
    fetching.
    """
    if per_wave < 1:
        raise ValueError(f"per_wave must be >= 1, got {per_wave}")
    from pyspark.sql import Window
    w = (Window.partitionBy("url_host")
         .orderBy(F.desc("host_pr"), F.asc("url")))
    return prioritized.withColumn(
        "wave", F.floor((F.row_number().over(w) - 1) / per_wave)
        .cast("long"))
