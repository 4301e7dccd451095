"""Web-link graph construction: href extraction -> host graph -> host
PageRank.

The hyperlink half of a Common-Crawl-style KG (the mention half is
operators/graph.py): every page's absolute outlinks become page->page
edges, aggregated to a weighted host->host graph whose PageRank ranks
site authority.  The reference has no crawler tier -- this family is
the scale-path addition a web-corpus pipeline needs (seed-list
prioritization, spam-host downweighting, per-host crawl budgets).

Scale shape:
- `extract_links` is an Arrow-batched scan (mapInPandas) over the html
  bytes -- embarrassingly parallel, no shuffle, the same stage family
  as extract_text_column / detect_mentions.  Output is (src, dst) page
  URLs; at 10^12 pages x ~50 links this is the biggest table in the
  system, which is WHY everything downstream aggregates to hosts
  first: the host graph is ~|hosts|^2-bounded and millions of times
  smaller.
- `host_graph` is one map-side-combinable groupBy on (src_host,
  dst_host).  Head hosts (every page on the web linking to a CDN
  domain) are safe: their counts combine map-side, and PageRank's
  per-round aggregation is likewise combinable (graph_algs.pagerank).
- No regex backtracking risk: the href pattern is a linear character
  class scan.
"""

from __future__ import annotations

import re
from typing import Iterator

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from redactify_spark.operators import graph_algs as G

# absolute http(s) hrefs only -- relative boilerplate (nav/footer
# chrome) is excluded by construction
_HREF_RE = re.compile(rb"href=\"(https?://[^\"]+)\"")


def extract_page_links(html_bytes: bytes) -> list[str]:
    """Absolute outlink URLs of one page, in document order (pure,
    version-pinned; the per-row unit the Spark stage maps)."""
    return [m.decode("utf-8", "replace")
            for m in _HREF_RE.findall(html_bytes)]


def extract_links(pages: DataFrame, url_col: str = "url",
                  html_col: str = "html") -> DataFrame:
    """(src, dst) page-URL edge list: one row per absolute href on each
    crawled page.  Arrow-batched scan, no shuffle; pages without html
    (or without absolute links) contribute no rows."""
    sel = pages.select(F.col(url_col).alias("src"),
                       F.col(html_col).alias("_html"))

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            srcs: list[str] = []
            dsts: list[str] = []
            for src, hb in zip(pdf["src"].tolist(), pdf["_html"].tolist()):
                if hb is None:
                    continue
                for dst in extract_page_links(bytes(hb)):
                    srcs.append(src)
                    dsts.append(dst)
            yield pd.DataFrame({"src": srcs, "dst": dsts})

    return sel.mapInPandas(gen, schema="src string, dst string")


def host_expr(url: Column) -> Column:
    """Host part of an absolute URL ('' for non-URLs) -- native
    regexp_extract, mirrored verbatim in the DuckDB oracles."""
    return F.regexp_extract(url, r"^https?://([^/]+)", 1)


def host_graph(links: DataFrame, src_col: str = "src",
               dst_col: str = "dst",
               keep_self_loops: bool = False) -> DataFrame:
    """(src_host, dst_host, n_links): the weighted host-level graph.
    Intra-host navigation links are dropped by default (the standard
    host-graph construction -- they carry no cross-site authority);
    pass keep_self_loops=True to keep them."""
    g = (links.select(host_expr(F.col(src_col)).alias("src_host"),
                      host_expr(F.col(dst_col)).alias("dst_host"))
         .where((F.col("src_host") != "") & (F.col("dst_host") != "")))
    if not keep_self_loops:
        g = g.where(F.col("src_host") != F.col("dst_host"))
    return g.groupBy("src_host", "dst_host").agg(
        F.count("*").cast("long").alias("n_links"))


def host_pagerank(hosts: DataFrame, iterations: int = 5,
                  damping: float = 0.85, **kw) -> DataFrame:
    """(host, rank): weighted directed PageRank over the host graph --
    each host's rank flows out proportionally to n_links (GraphX
    convention, dangling hosts hold the base term).  Thin composition
    over graph_algs.pagerank, so its bound applies unchanged: each
    weakly connected host component is ranked inside one Python
    worker."""
    return (G.pagerank(hosts, src="src_host", dst="dst_host",
                       weight="n_links", iterations=iterations,
                       damping=damping, **kw)
            .withColumnRenamed("node", "host"))


def resolve_redirects(redirects: DataFrame, src: str = "src",
                      dst: str = "dst", max_doubling: int = 16,
                      early_exit: bool = True,
                      reliable_checkpoint: bool = False) -> DataFrame:
    """(node, final, hops, cyclic): resolve every node's redirect chain
    to its terminal target -- URL canonicalization for crawl dedup
    (two urls are the same page iff their chains end at the same
    terminal).  `redirects` is a functional src->dst map (duplicate
    srcs are collapsed to the min dst for determinism); output covers
    every node on either side.  Chains ending in a redirect LOOP get
    cyclic=true with NULL final/hops (the standard crawl error class).

    Pointer doubling, not step-by-step walking: each round composes the
    jump table with itself (j'(x) = j(j(x)), hop counts added), so a
    length-L chain resolves in ceil(log2 L) rounds -- 10^6-long chains
    in 20 rounds, each ONE self-join shuffle on the jump key.  Rounds
    stop early when no row moves; a cycle never converges, so cyclic
    inputs run all `max_doubling` rounds (2^max_doubling caps the
    resolvable chain length).  Lineage is cut every round with a lazy
    localCheckpoint (reliable_checkpoint=True: the configured
    checkpoint dir), so the plan stays one round deep.

    `early_exit=True` stops as soon as a round moves no row, at the
    cost of one small count job per round.  At warehouse scale, when
    the max chain length is known (HTTP clients cap redirects at ~20,
    so 5 doubling rounds suffice), pass early_exit=False with a sized
    max_doubling and the per-round counts disappear entirely (ADVICE
    r5)."""
    def cut(df: DataFrame) -> DataFrame:
        return (df.checkpoint() if reliable_checkpoint
                else df.localCheckpoint(eager=False))

    m = (redirects.groupBy(F.col(src).alias("_x"))
         .agg(F.min(F.col(dst)).alias("_nxt")))
    m = cut(m)
    nodes = (m.select(F.col("_x").alias("node"))
             .unionByName(m.select(F.col("_nxt").alias("node")))
             .distinct())
    jump = (nodes.join(m, nodes["node"] == m["_x"], "left")
            .select("node",
                    F.coalesce("_nxt", "node").alias("cur"),
                    F.when(F.col("_nxt").isNull(), F.lit(0))
                    .otherwise(F.lit(1)).cast("long").alias("steps")))
    jump = cut(jump)
    for _ in range(max_doubling):
        j2 = jump.select(F.col("node").alias("_n2"),
                         F.col("cur").alias("_c2"),
                         F.col("steps").alias("_s2"))
        nxt = (jump.join(j2, jump["cur"] == j2["_n2"])
               .select("node", F.col("_c2").alias("cur"),
                       (F.col("steps") + F.col("_s2")).alias("steps"),
                       (F.col("cur") != F.col("_c2")).alias("_moved")))
        nxt = cut(nxt)
        if early_exit:
            moved = nxt.where("_moved").count()
            jump = nxt.drop("_moved")
            if moved == 0:
                break
        else:
            jump = nxt.drop("_moved")
    # a resolved chain ends at a node with no outgoing redirect; a chain
    # still pointing at a redirecting node after the doubling budget is
    # in (or feeds) a loop
    still = m.select(F.col("_x").alias("cur"), F.lit(True).alias("_redir"))
    return (jump.join(still, "cur", "left")
            .select("node",
                    F.when(F.col("_redir").isNull(), F.col("cur"))
                    .alias("final"),
                    F.when(F.col("_redir").isNull(), F.col("steps"))
                    .cast("long").alias("hops"),
                    F.coalesce("_redir", F.lit(False)).alias("cyclic")))


# ---------------------------------------------------------------------------
# anchor-text alias aggregation
# ---------------------------------------------------------------------------

# href + its anchor text up to the closing tag.  [^<>]* tolerates
# attributes after href (rel/target/class) WITHOUT crossing a tag
# boundary -- a plain [^>]* would walk through entity-escaped body text
# (&gt;...) and mint anchors for url-shaped strings a page merely
# quotes (pinned by the injection test); [^<]* keeps the scan linear
# and skips anchors containing nested markup
_ANCHOR_RE = re.compile(rb"href=\"(https?://[^\"]+)\"[^<>]*>([^<]*)<")


def extract_page_anchors(html_bytes: bytes) -> list[tuple[str, str]]:
    """(href, anchor_text) pairs of one page, document order (pure,
    version-pinned unit of the Spark stage)."""
    return [(u.decode("utf-8", "replace"),
             a.decode("utf-8", "replace").strip())
            for u, a in _ANCHOR_RE.findall(html_bytes)]


def extract_anchors(pages: DataFrame, url_col: str = "url",
                    html_col: str = "html") -> DataFrame:
    """(src, dst, anchor): one row per absolute href with its anchor
    text.  Same Arrow-batched shuffle-free scan shape as
    extract_links."""
    sel = pages.select(F.col(url_col).alias("src"),
                       F.col(html_col).alias("_html"))

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            srcs: list[str] = []
            dsts: list[str] = []
            txts: list[str] = []
            for src, hb in zip(pdf["src"].tolist(), pdf["_html"].tolist()):
                if hb is None:
                    continue
                for dst, txt in extract_page_anchors(bytes(hb)):
                    srcs.append(src)
                    dsts.append(dst)
                    txts.append(txt)
            yield pd.DataFrame({"src": srcs, "dst": dsts, "anchor": txts})

    return sel.mapInPandas(gen, schema="src string, dst string, "
                                       "anchor string")


def anchor_text_aliases(anchors: DataFrame, k: int = 3,
                        min_count: int = 1) -> DataFrame:
    """(dst, anchor, n_refs, rank): the top-k anchor surface forms per
    target url -- the web's crowd-sourced ALIAS TABLE, the classic
    entity-name signal for KG node labeling (how the rest of the web
    names this page).

    Scale shape: one map-side-combinable groupBy on (dst, anchor) --
    head targets (every page linking to a homepage with 'home') are
    safe because counts combine before the shuffle -- then a per-dst
    top-k window over the already-aggregated (dst, anchor) table,
    which is orders of magnitude smaller than the raw anchor stream.
    Ties break lexicographically for determinism."""
    from pyspark.sql.window import Window
    counts = (anchors.where(F.col("anchor") != "")
              .groupBy("dst", "anchor")
              .agg(F.count("*").cast("long").alias("n_refs"))
              .where(F.col("n_refs") >= min_count))
    w = Window.partitionBy("dst").orderBy(F.col("n_refs").desc(),
                                          F.col("anchor"))
    return (counts.withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= k))
