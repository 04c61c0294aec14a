"""Crawl-frontier composition WITH the redirect hop (r10 — the full
top-of-the-crawl-loop chain): extract links from fetched pages, resolve
each against the page host, canonicalize, collapse 301/302 redirect
chains to their terminal URL (operators/redirects.py — the step the r8
frontier composition skipped), dedup the FINAL addresses, and gate them
against robots.txt (functions/robots.py, RFC 9309). Loops and over-long
chains are dead URLs — dropped before the gate, never fetched.

Contract: ``redirect_edges`` is a (from_url → to_url) edge list over
CANONICAL urls (canonicalize upstream — the same rule the resolver's
registered query documents); the resolver's min-target dedup and hop cap
apply. Pages whose links never appear in the edge table pass through as
their own terminal with 0 hops.

Scale shape: extraction is a codegen projection (no UDF); resolution is
the redirect module's ≤ max_hops keyed joins over one-row-per-source
state; the final dedup is one (host, url)-keyed agg; the robots gate
joins per-host rule sets. Nothing holds more than the distinct frontier.

Reference comparison: n/a (the reference has no crawl surface;
/root/reference/src/datastore/graph.rs is triple-pattern access only).
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame

from rippledb_engine.functions.html import extract_links
from rippledb_engine.functions.robots import robots_decisions, robots_rules
from rippledb_engine.functions.url import url_host, url_normalize
from rippledb_engine.operators.redirects import resolve_redirect_chains

_PATH_RE = "^[a-z]+://[^/]+(/.*)$"

# RFC 3986 scheme prefix — a link carrying ANY scheme (http:, mailto:,
# javascript:) is kept as-is and left to url_normalize's http(s) gate.
_SCHEME_PREFIX_RE = r"^[A-Za-z][A-Za-z0-9+.\-]*:"


def resolve_link(link, src_host) -> "F.Column":
    """RFC 3986 §4.2-style reference resolution against a page known
    only by HOST (pages here carry no path, so the base is the host
    root): ``//h/p`` protocol-relative → ``https://h/p``; ``/p``
    root-relative → ``https://src_host/p``; a scheme-ful link passes
    through; anything else (``page.html``, ``./a``, ``?q=1``) resolves
    against the host root (a leading ``./`` is stripped; ``../``
    segments are NOT collapsed — there is no base path to pop).
    Keep in lock-step with :func:`resolve_link_sql`."""
    link = F.col(link) if isinstance(link, str) else link
    src_host = F.col(src_host) if isinstance(src_host, str) else src_host
    return (
        F.when(link.startswith("//"), F.concat(F.lit("https:"), link))
        .when(
            link.startswith("/"),
            F.concat(F.lit("https://"), src_host, link),
        )
        .when(link.rlike(_SCHEME_PREFIX_RE), link)
        .otherwise(
            F.concat(
                F.lit("https://"),
                src_host,
                F.lit("/"),
                F.regexp_replace(link, r"^\./", ""),
            )
        )
    )


def resolve_link_sql(link: str, src_host: str) -> str:
    """DuckDB twin of :func:`resolve_link` (identical CASE chain)."""
    return (
        f"CASE WHEN {link} LIKE '//%' THEN 'https:' || {link} "
        f"WHEN {link} LIKE '/%' THEN 'https://' || {src_host} || {link} "
        f"WHEN regexp_matches({link}, '^[A-Za-z][A-Za-z0-9+.\\-]*:') "
        f"THEN {link} "
        f"ELSE 'https://' || {src_host} || '/' || "
        f"regexp_replace({link}, '^\\./', '') END"
    )


def extract_frontier_links(
    pages: DataFrame, host_col: str, html_col: str
) -> DataFrame:
    """pages(host, html) → one (src_host, url) row per extracted link
    occurrence: ``<a href>`` extraction, reference resolution against
    the page host (:func:`resolve_link` — protocol-relative,
    root-relative, AND scheme-less relative links all resolve),
    canonicalization; non-http(s) links (mailto:, javascript:) drop,
    like the corpus gate's URI rule."""
    links = pages.select(
        F.col(host_col).alias("src_host"),
        F.explode(extract_links(html_col)).alias("link"),
    )
    absu = links.select(
        "src_host", resolve_link("link", "src_host").alias("u")
    )
    return absu.select(
        "src_host", url_normalize("u").alias("url")
    ).where(F.col("url").isNotNull())


def resolve_frontier(
    links: DataFrame,
    redirect_edges: DataFrame | None = None,
    max_hops: int = 16,
    resolved_map: DataFrame | None = None,
) -> DataFrame:
    """links(src_host, url) + a redirect map → one row per link
    occurrence with its redirect walk folded in:
    (src_host, url, final_url, n_hops, redirected, resolved). A link
    absent from the map is its own terminal (0 hops, redirected=false);
    loops/over-long chains come back resolved=false with NULL final_url
    — the caller drops them before fetching.

    Pass ``redirect_edges`` (from_url, to_url) to walk the chains here,
    or ``resolved_map`` — resolve_redirect_chains' (url, final_url,
    n_hops, resolved) output — when the map is FROZEN and reused (the
    streaming sink resolves once at setup and re-applies per
    micro-batch, the pq_books pattern)."""
    if (redirect_edges is None) == (resolved_map is None):
        raise ValueError("pass exactly one of redirect_edges/resolved_map")
    if resolved_map is None:
        resolved_map = resolve_redirect_chains(
            redirect_edges, max_hops=max_hops
        )
    res = resolved_map.select(
        F.col("url").alias("__src"),
        F.col("final_url").alias("__fin"),
        F.col("n_hops").alias("__hops"),
        F.col("resolved").alias("__res"),
    )
    return (
        links.join(res, links["url"] == res["__src"], "left")
        .select(
            "src_host",
            "url",
            F.when(F.col("__src").isNull(), F.col("url"))
            .otherwise(F.col("__fin"))
            .alias("final_url"),
            F.coalesce("__hops", F.lit(0).cast("bigint")).alias("n_hops"),
            F.col("__src").isNotNull().alias("redirected"),
            F.coalesce("__res", F.lit(True)).alias("resolved"),
        )
    )


def gate_frontier(
    resolved: DataFrame, robots_hosts: DataFrame, host_col: str = "host",
    robots_col: str = "robots",
) -> DataFrame:
    """resolved (resolve_frontier's frame) + robots_hosts(host, robots)
    → the deduped, politeness-gated frontier: one row per DISTINCT
    resolved final URL — (host, url, path, n_occ, n_redirected, allowed).
    Unresolved walks (loops) never reach the gate."""
    occ = (
        resolved.where(F.col("resolved"))
        .groupBy(F.col("final_url").alias("url"))
        .agg(
            F.count(F.lit(1)).alias("n_occ"),
            F.sum(F.when(F.col("redirected"), 1).otherwise(0))
            .cast("bigint")
            .alias("n_redirected"),
        )
        .select(
            url_host("url").alias("host"),
            "url",
            F.regexp_extract("url", _PATH_RE, 1).alias("path"),
            "n_occ",
            "n_redirected",
        )
    )
    dec = robots_decisions(
        occ.select("host", "path").distinct(),
        robots_rules(robots_hosts, host_col, robots_col),
    )
    return occ.join(dec.select("host", "path", "allowed"), ["host", "path"])
