"""Host-level link graph: degrees + fixed-point PageRank.

Engine addition (no gisle/html-parser counterpart, like the lineage
checkpoint S7): the link graph built from LinkExtor-extracted URLs is
the classic web-curation quality signal — in/out degree and PageRank
over hosts feed URL-gate priors and crawl-frontier ordering the same
way the RefinedWeb/C4 gates consume per-page heuristics (public
technique: Page et al. 1999, "The PageRank Citation Ranking").

Determinism is the design center. PageRank is usually float-valued,
and float addition is NOT associative — a plain double implementation
returns different last digits for different partition orders, which
breaks this engine's invariant that every operator is byte-identical
at any cluster size. So ranks here are FIXED-POINT INTEGERS: rank
values are longs in units of 1/scale, each edge's contribution is
``(pr * damp_num) DIV (damp_den * out_deg)`` in exact 64-bit integer
arithmetic, and integer sums are exact and associative — any
partitioning, any parallelism, any reduce order produces the same
bits. It also makes the DuckDB oracle hash-exact with no
float-rounding protocol at all.

Scale shape (the 100 TB analysis): one iteration is the canonical
distributed PageRank plan — edges ⋈ ranks (shuffle on src) then a
groupBy(dst) sum (shuffle on dst). Both aggregates are
partial-aggregatable, so Zipf-hot hosts (every web graph has them)
receive combined map-side partials, not raw edge rows. The edge table
is reused every iteration — at scale, persist/bucket it by src so the
per-iteration join is Exchange-free on the edge side; the rank table
is O(hosts), orders of magnitude smaller than edges. Lineage grows
linearly in ``iters`` (small, bounded); checkpoint the rank table
every few rounds on long runs.

Overflow bound: with teleport t = damp_num'/damp_den·scale per node,
total mass converges to ≤ n_hosts·scale, so a single host's rank is
< n_hosts·scale and the per-edge product needs
n_hosts·scale·damp_num < 2^63. Pick ``scale`` accordingly — the
default 10^9 is safe to ~10^8 hosts; a 10^9-host crawl uses 10^6
(micro-rank units are still far below PageRank's meaningful
precision).

Simplified-variant note (documented, matched by the oracle): by
default, dangling hosts (no out-links) keep their teleport share but
their mass is NOT redistributed — the common simplification in
web-curation scoring, where only the relative host ordering matters.
``pagerank(redistribute_dangling=True)`` switches on the textbook
even-split redistribution, still in exact integer arithmetic.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F


def host_edges(links: DataFrame, src_col: str = "src_host",
               url_col: str = "url") -> DataFrame:
    """Extracted links -> distinct host-level edges (src, dst).

    ``dst`` is the URL's authority host via the JVM ``try_parse_url``
    (relative URLs and non-URL garbage parse to NULL and drop out —
    same hardened posture as urls.py). NULL/empty ``src`` rows drop
    too: a phantom NULL node would count in ``degrees`` but never
    transfer rank (NULL never equi-joins), leaving the composed
    table inconsistent. Hostnames are case-insensitive (RFC 3986
    §3.2.2): both ends fold to lowercase so one host never splits
    into several graph nodes. Self-loops are kept — a site linking
    to itself is real signal and PageRank handles it.
    """
    dst = F.lower(F.try_parse_url(F.col(url_col), F.lit("HOST")))
    return (links
            .select(F.lower(F.col(src_col)).alias("src"),
                    dst.alias("dst"))
            .filter(F.col("src").isNotNull() & (F.col("src") != "")
                    & F.col("dst").isNotNull() & (F.col("dst") != ""))
            .distinct())


def degrees(edges: DataFrame) -> DataFrame:
    """(host, out_deg, in_deg) over the distinct edge set.

    Two partial-aggregated counts + one full outer join, so hosts that
    only ever appear on one side (pure sources / pure sinks) still get
    a row with the other degree = 0.
    """
    out_d = (edges.groupBy(F.col("src").alias("host"))
             .agg(F.count("*").alias("out_deg")))
    in_d = (edges.groupBy(F.col("dst").alias("host"))
            .agg(F.count("*").alias("in_deg")))
    return (out_d.join(in_d, "host", "full")
            .select("host",
                    F.coalesce("out_deg", F.lit(0)).alias("out_deg"),
                    F.coalesce("in_deg", F.lit(0)).alias("in_deg")))


def pagerank(edges: DataFrame, iters: int = 3, scale: int = 10 ** 9,
             damp_num: int = 85, damp_den: int = 100,
             redistribute_dangling: bool = False,
             seed_hosts: tuple[str, ...] | None = None) -> DataFrame:
    """Fixed-point integer PageRank -> (host, pr).

    ``pr`` is a long in units of 1/``scale`` (unnormalized: every host
    starts at ``scale`` and receives a flat teleport of
    ``(damp_den-damp_num)·scale DIV damp_den`` each round; only the
    relative ordering is meaningful, as in curation use). All
    arithmetic is 64-bit integer (`DIV`), so the result is
    bit-identical under any partitioning — see the module docstring
    for the associativity and overflow analysis.

    ``redistribute_dangling=True`` turns on the textbook handling of
    dangling hosts (no out-links): each round their pooled rank is
    split evenly over ALL hosts — ``dmass·damp_num DIV
    (damp_den·n_hosts)`` each, exact integer — instead of vanishing.
    The default keeps the simplified curation variant (module
    docstring). The extra per-round cost is one anti-join aggregate
    producing a 1-row table crossed back in (Spark broadcasts a
    1-row side; no corpus-sized shuffle).

    Lineage note: this arm references the previous round's ranks
    TWICE (contribution join + dangling aggregate), which would
    double the logical plan every round — 2^iters analysis blowup —
    so each round eagerly ``localCheckpoint``s the O(hosts) rank
    table to keep lineage linear. That is the standard iterative-job
    pattern (and the cost is one small materialization per round);
    on long production runs prefer reliable ``checkpoint`` with a
    checkpoint dir, since localCheckpoint pins blocks to executors.
    The default arm references ranks once per round and stays fully
    lazy.

    ``seed_hosts`` turns the score into TrustRank (Gyöngyi,
    Garcia-Molina & Pedersen 2004, "Combating web spam with
    TrustRank"): initial mass and the per-round teleport go ONLY to
    the trusted seed set, so trust decays outward along links and
    hosts reachable only from spam farms score 0 — the standard
    seed-propagated spam prior in web curation. Seeds fold in as a
    lowercased literal ``isin`` (curated seed lists are small by
    design — the technique's point is a few hand-audited hosts; the
    fold matches host_edges' node case fold). Under
    ``redistribute_dangling=True`` dangling mass follows the
    TELEPORT distribution — back to the seeds only, per the
    canonical formulation — so the reachable-from-seeds invariant
    holds in every arm combination. Everything else — fixed-point
    arithmetic, plan shape — is the identical loop.
    """
    if iters < 1:
        raise ValueError(f"iters must be >= 1, got {iters}")
    if seed_hosts is not None and not seed_hosts:
        # an empty trust set gives every host 0: refuse, like iters
        raise ValueError("seed_hosts must name at least one host")
    nodes = (edges.select(F.col("src").alias("host"))
             .unionByName(edges.select(F.col("dst").alias("host")))
             .distinct())
    out_deg = (edges.groupBy(F.col("src").alias("e_src"))
               .agg(F.count("*").alias("out_deg")))
    ed = edges.join(out_deg, edges["src"] == out_deg["e_src"]) \
        .select("src", "dst", "out_deg")
    teleport = (damp_den - damp_num) * scale // damp_den
    if seed_hosts is not None:
        # the node universe is lowercased by host_edges (RFC 3986
        # fold) — fold the seed literals the same way, or a caller's
        # 'Wikipedia.ORG' silently matches nothing and every trust
        # score is 0
        seeded = F.col("host").isin(
            *[str(s).lower() for s in seed_hosts])
        init = F.when(seeded, F.lit(scale)).otherwise(F.lit(0))
        tele_col = F.when(seeded, F.lit(teleport)).otherwise(F.lit(0))
    else:
        seeded = F.lit(True)
        init = F.lit(scale)
        tele_col = F.lit(teleport)
    ranks = nodes.select("host", init.cast("long").alias("pr"))
    for _ in range(iters):
        # exact integer per-edge share; DIV keeps it long-typed
        contrib = (ed.join(ranks, ed["src"] == ranks["host"])
                   .select(F.col("dst"),
                           F.expr(f"pr * {damp_num} DIV "
                                  f"({damp_den} * out_deg)").alias("c")))
        sums = contrib.groupBy("dst").agg(F.sum("c").alias("s"))
        base = (tele_col + F.coalesce(F.col("s"), F.lit(0)))
        joined = nodes.join(sums, nodes["host"] == sums["dst"], "left")
        if redistribute_dangling:
            # 1-row (dangling mass, receiver count) side, broadcast
            # back. Canonical semantics: dangling mass redistributes
            # per the TELEPORT distribution — evenly over all hosts
            # for plain PageRank, over the SEEDS for TrustRank
            # (Gyongyi et al. §4.2); splitting it over all hosts
            # would leak trust to hosts unreachable from the seeds
            dang = (ranks
                    .join(out_deg,
                          ranks["host"] == out_deg["e_src"],
                          "left_anti")
                    .agg(F.coalesce(F.sum("pr"), F.lit(0))
                         .alias("_dmass")))
            receivers = nodes.filter(seeded) if seed_hosts is not None \
                else nodes
            share = dang.crossJoin(
                receivers.agg(F.count("*").alias("_n"))).select(
                F.expr(f"_dmass * {damp_num} DIV "
                       f"({damp_den} * _n)").alias("_dshare"))
            ranks = (joined.crossJoin(share)
                     .select("host",
                             (base + F.when(seeded, F.col("_dshare"))
                              .otherwise(F.lit(0)))
                             .cast("long").alias("pr"))
                     .localCheckpoint())
        else:
            ranks = joined.select(
                "host", base.cast("long").alias("pr"))
    return ranks


def anchor_profiles(anchors: DataFrame, url_col: str = "href",
                    text_col: str = "anchor_text") -> DataFrame:
    """Per-target-host anchor-text profile: ``(host, n_anchors,
    n_texts, top_text, top_n)``.

    Anchor text is how the REST of the web describes a page — the
    classic link-based relevance/quality signal (public technique:
    Craswell, Hawking & Robertson 2001, "Effective site finding using
    link anchor information"); curation pipelines feed these profiles
    to quality classifiers alongside the PageRank prior. Input is any
    ``(href, anchor_text)`` table, e.g. the ``anchors`` extractor's
    output.

    Text is normalized (trim, whitespace-collapse, casefold) before
    counting so 'Home', ' home ' and 'HOME' profile as one
    description. ``top_text`` is the modal description with a
    DETERMINISTIC argmax: highest count, ties broken by
    lexicographically smallest text — encoded as ``F.min`` over a
    ``(-n, text)`` struct, so the result is the same at any
    partitioning (``max_by`` alone is tie-nondeterministic).

    Scale shape: two partial-aggregating groupBys — (host, text)
    counts, then per-host fold. Both combine map-side, so Zipf-hot
    hosts (every web graph has them) arrive at the shuffle as
    combined partials, not raw anchor rows; state per host is O(1).
    """
    host = F.lower(F.try_parse_url(F.col(url_col), F.lit("HOST")))
    txt = F.lower(F.trim(F.regexp_replace(
        F.coalesce(F.col(text_col), F.lit("")), r"\s+", " ")))
    per = (anchors
           .select(host.alias("host"), txt.alias("t"))
           .filter(F.col("host").isNotNull() & (F.col("host") != "")
                   & (F.col("t") != ""))
           .groupBy("host", "t").agg(F.count("*").alias("n")))
    best = F.min(F.struct((-F.col("n")).alias("nn"),
                          F.col("t").alias("t")))
    return (per.groupBy("host")
            .agg(F.sum("n").alias("n_anchors"),
                 F.count("*").alias("n_texts"),
                 best.alias("_b"))
            .select("host", "n_anchors", "n_texts",
                    F.col("_b.t").alias("top_text"),
                    (-F.col("_b.nn")).cast("long").alias("top_n")))


def link_graph(edges: DataFrame, iters: int = 3,
               scale: int = 10 ** 9) -> DataFrame:
    """Composed host table: (host, out_deg, in_deg, pr).

    One row per graph node; join is on the identical node universe
    (degrees' full-outer node set == pagerank's src∪dst), so an inner
    join loses nothing.
    """
    return degrees(edges).join(pagerank(edges, iters=iters,
                                        scale=scale), "host")
