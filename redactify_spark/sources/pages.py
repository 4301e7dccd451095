"""Deterministic Common-Crawl-style `pages` table + html->text extraction.

BASELINE.json.input_hint mandates the pipeline input shape
``pages(url string, warc_ts timestamp, html binary, text string,
lang string)``.  No external data is allowed, so this module
synthesizes pages deterministically (seeded by doc_id via md5 -- no RNG
state) from the driver's `documents` table, injecting known PII spans so
the detection kernel has real work and the triple P/R oracle knows the
expected spans exactly (FIXTURES.md §1).

Invariant (BASELINE.json): ``extract_text(render_html(text)) == text``
byte-identically per url.  The reference performs no HTML extraction at
all (it consumes plain text), so this pair of pure functions IS the
pinned extraction semantics, golden-tested in tests/test_pages.py.

Head-entity skew: a fixed fraction of pages mention the same head
entities (Google + a fixed email) to exercise salted repartitioning in
linking/graph stages.
"""

from __future__ import annotations

import hashlib
import html as _html
import re
from datetime import datetime, timedelta, timezone
from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

_BASE_TS = datetime(2025, 1, 1, tzinfo=timezone.utc)
_N_SITES = 64
HEAD_ENTITY_FRACTION = 8  # 1-in-8 pages mention the head entities
HEAD_EMAIL = "press@google.com"

_FIRST = ["John", "Jane", "Alice", "Robert", "Michael", "Sarah", "David",
          "Emily", "James", "Maria", "Wei", "Ahmed", "Olga", "Priya",
          "Carlos", "Anna"]
_LAST = ["Smith", "Doe", "Johnson", "Brown", "Davis", "Miller", "Wilson",
         "Patel", "Garcia", "Kim", "Chen", "Kumar", "Ivanova", "Nguyen",
         "Lopez", "Muller"]
_ORGS = ["Acme Corp", "Globex Inc", "Initech LLC", "Umbrella Corp",
         "Stark Systems", "Wayne Technologies", "Hooli Inc", "Vandelay Ltd"]
_LOCS = ["New York", "London", "Paris", "Berlin", "Tokyo", "Mumbai",
         "Seattle", "Austin"]


def _h(doc_id: int, salt: str) -> int:
    """Deterministic per-doc integer stream (md5-based, seed-free)."""
    d = hashlib.md5(f"{salt}:{doc_id}".encode()).hexdigest()
    return int(d[:12], 16)


def synth_text(doc_id: int, filler: str = "") -> str:
    """Compose a synthetic page text with known PII spans.

    All spans are recoverable: person name, org, location, email, phone,
    SSN (with context so the regex gate D8 passes), date, plus head
    entities on every HEAD_ENTITY_FRACTION-th page.
    """
    person = (f"{_FIRST[_h(doc_id, 'fn') % len(_FIRST)]} "
              f"{_LAST[_h(doc_id, 'ln') % len(_LAST)]}")
    org = _ORGS[_h(doc_id, "org") % len(_ORGS)]
    loc = _LOCS[_h(doc_id, "loc") % len(_LOCS)]
    email = f"user{doc_id}@mail{_h(doc_id, 'dom') % 50}.example.com"
    phone = (f"{200 + _h(doc_id, 'p1') % 700}-"
             f"{200 + _h(doc_id, 'p2') % 700}-"
             f"{1000 + _h(doc_id, 'p3') % 9000}")
    ssn = (f"{100 + _h(doc_id, 's1') % 800}-"
           f"{10 + _h(doc_id, 's2') % 89}-"
           f"{1000 + _h(doc_id, 's3') % 9000}")
    day = 1 + _h(doc_id, "d") % 28
    date = f"2024-{1 + _h(doc_id, 'mo') % 12:02d}-{day:02d}"
    parts = [
        f"{person} works at {org} in {loc}.",
        f"Reach the office by email {email} or call {phone}.",
        f"The social security number on file, ssn {ssn}, was verified on {date}.",
    ]
    if doc_id % HEAD_ENTITY_FRACTION == 0:
        parts.append(f"According to google the ceo confirmed contact "
                     f"{HEAD_EMAIL} for press.")
    if filler:
        parts.append(filler)
    return " ".join(parts)


# Deterministic outlink model (the web-graph half of a Common-Crawl
# page: every page carries LINKS_PER_PAGE absolute hrefs).  Targets are
# a pure function of doc_id over a FIXED id space, so (a) the same
# doc_id renders the same html bytes regardless of corpus size or
# tranche, and (b) a SQL oracle can rebuild the whole link graph
# arithmetically (generate_series) while Spark parses the actual html
# -- the langid profile-rebuilding oracle pattern.  Targets may exceed
# the crawled corpus (dangling links), exactly like the real web.
LINK_SPACE = 4096
LINKS_PER_PAGE = 3


def link_targets(doc_id: int) -> list[int]:
    """Outlink target doc-ids for a page: (id*31 + 7j) mod LINK_SPACE,
    j = 1..LINKS_PER_PAGE.  Distinct per page (7j distinct mod 4096)."""
    return [(doc_id * 31 + 7 * j) % LINK_SPACE
            for j in range(1, LINKS_PER_PAGE + 1)]


#: deterministic anchor-text templates -- referrers describe the SAME
#: target with varying surface forms, the signal anchor-text alias
#: aggregation exists to collect.  Index = (target doc id + j) % 3,
#: rebuildable arithmetically by a SQL oracle.
ANCHOR_TEMPLATES = ("page {t}", "doc {t}", "see page {t}")


def anchor_text(target_id: int, j: int) -> str:
    """Anchor text the j-th outlink slot uses for `target_id`."""
    return ANCHOR_TEMPLATES[(target_id + j) % len(ANCHOR_TEMPLATES)] \
        .format(t=target_id)


def render_html(text: str, url: str, link_urls: tuple = (),
                link_texts: tuple = ()) -> bytes:
    """Deterministic HTML wrapper with boilerplate nav/footer and an
    optional outlink section (absolute hrefs; the nav's relative hrefs
    are boilerplate that link extraction must skip).  `link_texts`
    supplies per-link anchor text (defaults to 'ref')."""
    body = _html.escape(text, quote=False)
    texts = (tuple(link_texts) +
             ("ref",) * (len(link_urls) - len(link_texts)))
    refs = "".join(
        f"<li><a href=\"{u}\">{_html.escape(a, quote=False)}</a></li>"
        for u, a in zip(link_urls, texts))
    page = (
        "<html><head><title>page</title></head><body>"
        "<nav><a href=\"/\">home</a> | <a href=\"/about\">about</a></nav>"
        f"<article><p>{body}</p></article>"
        + (f"<section id=\"refs\"><ul>{refs}</ul></section>" if refs else "")
        + f"<footer>crawled from {_html.escape(url, quote=False)}</footer>"
        "</body></html>"
    )
    return page.encode("utf-8")


_ARTICLE_RE = re.compile(rb"<article><p>(.*?)</p></article>", re.DOTALL)


def extract_text(html_bytes: bytes) -> str:
    """Inverse of render_html for the article body: byte-identical per url.

    Pure, version-pinned function (the per-row invariant of
    BASELINE.json.input_hint); golden-tested.
    """
    m = _ARTICLE_RE.search(html_bytes)
    if not m:
        return ""
    return _html.unescape(m.group(1).decode("utf-8"))


def page_url(doc_id: int) -> str:
    path = hashlib.md5(f"path:{doc_id}".encode()).hexdigest()[:10]
    return f"https://site{doc_id % _N_SITES}.example/{path}"


def page_lang(doc_id: int) -> str:
    r = _h(doc_id, "lang") % 100
    return "en" if r < 95 else ("de" if r % 2 == 0 else "fr")


PAGES_SCHEMA = T.StructType([
    T.StructField("url", T.StringType()),
    T.StructField("warc_ts", T.TimestampType()),
    T.StructField("html", T.BinaryType()),
    T.StructField("text", T.StringType()),
    T.StructField("lang", T.StringType()),
])


def synth_pages(spark: SparkSession, n_docs: int,
                partitions: int | None = None,
                start: int = 0) -> DataFrame:
    """Materialize the synthetic pages table as a DataFrame.

    Built with spark.range -> mapInPandas so generation is distributed
    (each partition synthesizes its own id range; no driver-side loop,
    scales to any n_docs).  `start` offsets the id range -- disjoint
    tranches for recrawl appends."""
    rng = spark.range(start, start + n_docs, 1,
                      partitions or spark.sparkContext.defaultParallelism)

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = {"url": [], "warc_ts": [], "html": [], "text": [],
                    "lang": []}
            for doc_id in pdf["id"].tolist():
                text = synth_text(int(doc_id))
                url = page_url(int(doc_id))
                rows["url"].append(url)
                rows["warc_ts"].append(_BASE_TS + timedelta(seconds=17 * int(doc_id)))
                targets = link_targets(int(doc_id))
                links = tuple(page_url(t) for t in targets)
                anchors = tuple(anchor_text(t, j + 1)
                                for j, t in enumerate(targets))
                rows["html"].append(render_html(text, url, links,
                                                anchors))
                rows["text"].append(text)
                rows["lang"].append(page_lang(int(doc_id)))
            yield pd.DataFrame(rows)

    return rng.mapInPandas(gen, schema=PAGES_SCHEMA)


def extract_text_column(pages: DataFrame) -> DataFrame:
    """html -> text stage: identity pass-through when `text` is populated
    (the reference consumes plain text only), else run extract_text on the
    html bytes inside an Arrow-batched pass."""
    def ex(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            texts = []
            for txt, hb in zip(pdf["text"].tolist(), pdf["html"].tolist()):
                texts.append(txt if txt else extract_text(bytes(hb)))
            pdf = pdf.copy()
            pdf["text"] = texts
            yield pdf

    return pages.mapInPandas(ex, schema=pages.schema)
