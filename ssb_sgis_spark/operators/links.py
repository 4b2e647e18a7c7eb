"""Anchor-link extraction and host-graph contraction — the crawl-graph
front half the id-law citation graph (operators/linkgraph.py) skips.

``linkgraph`` ranks a graph it is GIVEN; this module builds that graph
from page bytes the way a crawl pipeline does: parse ``<a href>``
anchors out of html, resolve each href to a host, contract page→page
links into a weighted host→host graph, and rank hosts with the weighted
integer PageRank (``linkgraph.pagerank(weight_col=)``) — the domain-level
centrality score (CC-rank style) used for crawl prioritization and
quality weighting.

Plan shapes (the part that has to survive 10^12 pages):

* :func:`extract_links` is pure JVM: ``regexp_extract_all`` +
  ``posexplode`` inside whole-stage codegen — zero Python workers, html
  bytes never shuffle, output rows are (key, pos, href) strings only.
* :func:`host_edges` contracts immediately: one groupBy on
  (src_host, dst_host) with map-side combine, so the shuffle carries at
  most |hosts|² weighted rows, not the 10^12 raw links.
* Ranking then iterates over the CONTRACTED graph — state is one row
  per host (10^6-10^8 in a real crawl), the cheap side of every join.

The synthetic corpus' pages carry no anchors (their html law predates
this module and is pinned by the text-extraction oracles), so
:func:`anchored_pages` appends a closed-form anchor block — same
deterministic stance as ``linkgraph.link_edges``.

Reference parity: no counterpart — the reference is a geospatial
toolkit; this is north-star webtext surface (BASELINE input_hint pages
+ the "Common-Crawl-style" corpus shape), derived from public crawl
-pipeline practice only.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ssb_sgis_spark.functions.url import host_col
from ssb_sgis_spark.operators.linkgraph import _A, _B

__all__ = ["anchored_pages", "extract_links", "host_edges"]

_HREF_RE = r'href="([^"]+)"'
N_SITES = 1000  # the pages url law: host = site{uid % 1000}.no


def anchored_pages(df: DataFrame, html_col: str = "html") -> DataFrame:
    """Append the closed-form anchor block to each page's html: page
    ``uid`` links to ``site{(uid·A + k·B) % 1000}.no`` for
    ``k = 1 .. 1 + uid % 4`` (the ``link_edges`` law lifted onto hosts).
    Pure column arithmetic — map-only, no action."""
    uid = F.col("uid")
    anchors = F.array_join(
        F.transform(
            F.sequence(F.lit(1), (uid % 4 + 1).cast("int")),
            lambda k: F.concat(
                F.lit('<a href="https://site'),
                ((uid * _A + k.cast("bigint") * _B) % N_SITES).cast("string"),
                F.lit(".no/l/"),
                k.cast("string"),
                F.lit('">l'),
                k.cast("string"),
                F.lit("</a>"),
            ),
        ),
        "",
    )
    return df.withColumn(
        html_col,
        F.encode(F.concat(F.col(html_col).cast("string"), anchors), "UTF-8"),
    )


def extract_links(
    df: DataFrame,
    html_col: str = "html",
    keep: list[str] | None = None,
) -> DataFrame:
    """All ``href="..."`` anchor targets per row: ``(keep..., pos,
    href)``, pos 0-based in document order.  Whole-stage-codegen JVM
    regex — no Python worker, and the html column itself is pruned away
    before any exchange."""
    keep = keep if keep is not None else ["uid"]
    return df.select(
        *keep,
        F.posexplode(
            F.regexp_extract_all(
                F.col(html_col).cast("string"), F.lit(_HREF_RE), F.lit(1)
            )
        ).alias("pos", "href"),
    )


def host_edges(links: DataFrame, src_url_col: str = "url") -> DataFrame:
    """Contract page→page links to the weighted host graph:
    ``(src, dst, w)`` with w = number of links.  One map-side-combined
    groupBy — the only shuffle between raw anchors and the rank loop."""
    return (
        links.select(
            host_col(F.col(src_url_col)).alias("src"),
            host_col(F.col("href")).alias("dst"),
        )
        .groupBy("src", "dst")
        .agg(F.count("*").alias("w"))
    )


# --- anchor-TEXT index (the Common Crawl anchor-corpus artifact) ------

_ANCHOR_RE = r'<a href="[^"]*"[^>]*>[^<]*</a>'


def extract_anchors(
    df: DataFrame,
    html_col: str = "html",
    keep: list[str] | None = None,
) -> DataFrame:
    """Every anchor WITH its text: ``(keep..., pos, href, anchor_text)``.
    Whole-stage-codegen throughout — ``regexp_extract_all`` pulls the
    full ``<a ...>text</a>`` elements, then per-element codegen
    extracts slice href and text out of each; html is pruned before any
    exchange, no Python worker anywhere."""
    keep = keep if keep is not None else ["uid"]
    exploded = df.select(
        *keep,
        F.posexplode(
            F.regexp_extract_all(
                F.col(html_col).cast("string"), F.lit(_ANCHOR_RE), F.lit(0)
            )
        ).alias("pos", "_a"),
    )
    return exploded.select(
        *keep,
        "pos",
        F.regexp_extract("_a", _HREF_RE, 1).alias("href"),
        F.regexp_extract("_a", r">([^<]*)</a>", 1).alias("anchor_text"),
    )


def anchor_text_index(
    anchors: DataFrame, k: int = 16, nsalts: int = 32
) -> DataFrame:
    """Aggregate inbound anchor texts per TARGET: ``(href, anchor_text,
    n)``, keeping the top-``k`` texts of every target by count (what a
    search engine ranks with, and what Common Crawl publishes as its
    anchor corpus).  One map-side-combined groupBy shuffles (href,
    text, count) rows — never html — and the per-target cut reuses the
    engine's salted two-stage top-K so a mega-target (every page links
    to the front page) is bounded to k·nsalts rows before the exact
    window."""
    from .domains import per_key_topk

    counts = anchors.groupBy("href", "anchor_text").agg(
        F.count(F.lit(1)).alias("n")
    )
    return per_key_topk(
        counts,
        "href",
        [F.desc("n"), F.col("anchor_text")],
        k,
        tie_id="anchor_text",
        nsalts=nsalts,
    )
