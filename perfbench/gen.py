"""Seeded input generator for the benchmark workloads.

Everything the program sees is produced here from one integer seed and
written to parquet before any timed window starts.  The seed selects the
page-id range, the organization vocabulary and its spelling variants,
the PII values and the recrawl churn; the same seed always yields the
same files.

Pages are short and PII-bearing (`kg_build`, `recrawl`), shaped like the
package's own `sources.pages.synth_text` -- one PII sentence per page,
the head entity on every `HEAD_ENTITY_FRACTION`-th page -- but with an
open organization vocabulary.  Documents for `redact` are long: several
bag-of-words passages in the style of the `documents` test table, each
followed by an injected PII sentence.  The recrawl churn is the mix of
the package's `bench.py --recrawl-bench`.
"""

from __future__ import annotations

import os
import random

import pyarrow as pa
import pyarrow.parquet as pq
from redactify_spark.sources.pages import HEAD_ENTITY_FRACTION

# names the detector's gazetteer recognises as PERSON / LOCATION
FIRST = ("John", "Jane", "Alice", "Robert", "Michael", "Sarah", "David",
         "Emily", "James", "Maria", "Wei", "Ahmed", "Olga", "Priya",
         "Carlos", "Anna", "Peter", "Linda", "Tom")
LAST = ("Smith", "Doe", "Johnson", "Brown", "Davis", "Miller", "Wilson",
        "Patel", "Garcia", "Kim", "Chen", "Kumar", "Ivanova", "Nguyen",
        "Lopez", "Muller", "Rossi", "Tanaka", "Okafor", "Haddad")
LOCS = ("New York", "London", "Paris", "Berlin", "Tokyo", "Mumbai",
        "Seattle", "Austin", "Toronto", "Sydney", "Dublin", "Zurich")
ORG_SUFFIXES = ("Inc", "Corp", "LLC")
# organization names alternate these, so two names rarely share more
# than a letter pair; only a name and its misspellings are near-duplicates
_CONSONANTS = "bcdfghjklmnprstvwz"
_VOWELS = "aeiou"
# `documents`-style bag-of-words vocabulary
_WORDS = ("key", "agg", "row", "scan", "slow", "fast", "table", "value",
          "part", "hash", "merge", "batch", "spark", "sort", "window",
          "line", "the", "a", "join", "index", "query", "plan", "cache",
          "node", "shuffle", "stage", "task", "file", "column", "filter")

HEAD_ORG = "Globex Corporation"
HEAD_EMAIL = "press@globex.example.com"
# assumed, not measured: the share of org mentions that use a misspelling
VARIANT_SHARE = 0.2
# the churn of `bench.py --recrawl-bench`: per snapshot 5% of urls are
# removed, 5% get a text edit and 5% new urls are added
CHURN_SHARE = 0.05
EDIT = " breaking update"

PAGES_SCHEMA = pa.schema([("url", pa.string()), ("text", pa.string())])
DOCS_SCHEMA = pa.schema([("doc_id", pa.int64()), ("text", pa.string())])


def _misspell(rng: random.Random, word: str) -> str:
    """One edit inside the word (never its capital): drop, double or
    swap a letter -- near enough for MinHash linking to pair it."""
    i = rng.randrange(1, len(word) - 1)
    op = rng.randrange(3)
    if op == 0:
        return word[:i] + word[i + 1:]
    if op == 1:
        return word[:i] + word[i] + word[i:]
    return word[:i] + word[i + 1] + word[i] + word[i + 2:]


class Corpus:
    """All inputs for one seed.  Construction draws the vocabulary;
    the page and document methods are pure functions of (seed, id)."""

    def __init__(self, seed: int, n_orgs: int):
        self.seed = seed
        rng = random.Random(f"vocab:{seed}")
        self.id_base = 1_000_000 * (1 + rng.randrange(1000))
        names = set()
        while len(names) < n_orgs:
            names.add("".join(rng.choice(_VOWELS if k % 2 else _CONSONANTS)
                              for k in range(rng.randrange(6, 9)))
                      .capitalize())
        # each organization has one legal suffix
        self.orgs = [(n, rng.choice(ORG_SUFFIXES)) for n in sorted(names)]
        rng.shuffle(self.orgs)

    def _org(self, rng: random.Random) -> str:
        # Zipf-like popularity: low indexes are drawn far more often
        name, suffix = self.orgs[int(len(self.orgs) ** rng.random()) - 1]
        if rng.random() < VARIANT_SHARE:
            name = _misspell(rng, name)
        return f"{name} {suffix}"

    def _pii_sentence(self, rng: random.Random, n: int) -> str:
        person = f"{rng.choice(FIRST)} {rng.choice(LAST)}"
        phone = (f"{rng.randrange(200, 900)}-{rng.randrange(200, 900)}-"
                 f"{rng.randrange(1000, 10000)}")
        ssn = (f"{rng.randrange(100, 900)}-{rng.randrange(10, 99)}-"
               f"{rng.randrange(1000, 10000)}")
        date = f"2024-{rng.randrange(1, 13):02d}-{rng.randrange(1, 29):02d}"
        return (f"{person} works at {self._org(rng)} in {rng.choice(LOCS)}. "
                f"Reach the office by email user{n}@mail{rng.randrange(50)}"
                f".example.com or call {phone}. The social security number "
                f"on file, ssn {ssn}, was verified on {date}.")

    def page_url(self, page_id: int) -> str:
        return (f"https://site{page_id % 61}.example/"
                f"p{self.id_base + page_id}")

    def page_text(self, page_id: int) -> str:
        """Short PII page."""
        rng = random.Random(f"page:{self.seed}:{page_id}")
        parts = [self._pii_sentence(rng, self.id_base + page_id)]
        if page_id % HEAD_ENTITY_FRACTION == 0:
            parts.append(f"According to {HEAD_ORG} the press office is "
                         f"at {HEAD_EMAIL} for comment.")
        return " ".join(parts)

    def document_text(self, doc_id: int, passages: int) -> str:
        """Long document: `passages` bag-of-words passages, each followed
        by an injected PII sentence."""
        rng = random.Random(f"doc:{self.seed}:{doc_id}")
        out = []
        for j in range(passages):
            out.append(" ".join(rng.choice(_WORDS)
                                for _ in range(rng.randrange(40, 60))))
            out.append(self._pii_sentence(rng, doc_id * 16 + j))
        return " ".join(out)

    # -- tables -----------------------------------------------------------

    def pages(self, ids) -> dict[str, str]:
        """url -> text for the given page ids."""
        return {self.page_url(i): self.page_text(i) for i in ids}

    def churn(self, snapshot: dict[str, str], step: int, next_id: int
              ) -> tuple[dict[str, str], int]:
        """Next crawl snapshot: `CHURN_SHARE` of the urls are dropped,
        as many get `EDIT` appended, and as many new urls are added; the
        rest are identical.  The package's signature delta classes each
        edit as touched or modified.  Returns (snapshot, next unused page
        id)."""
        rng = random.Random(f"churn:{self.seed}:{step}")
        urls = sorted(snapshot)
        rng.shuffle(urls)
        k = int(len(urls) * CHURN_SHARE)
        gone, edit = set(urls[:k]), set(urls[k:2 * k])
        out = {url: text + EDIT if url in edit else text
               for url, text in snapshot.items() if url not in gone}
        out.update(self.pages(range(next_id, next_id + k)))
        return out, next_id + k


def write_pages(path: str, pages: dict[str, str], files: int) -> int:
    """Write url/text rows as `files` parquet files under `path` (a
    directory), sorted by url.  Returns the bytes written."""
    urls = sorted(pages)
    return _write(path, PAGES_SCHEMA,
                  {"url": urls, "text": [pages[u] for u in urls]}, files)


def write_documents(path: str, docs: dict[int, str], files: int) -> int:
    ids = sorted(docs)
    return _write(path, DOCS_SCHEMA,
                  {"doc_id": ids, "text": [docs[i] for i in ids]}, files)


def _write(path: str, schema: pa.Schema, cols: dict, files: int) -> int:
    os.makedirs(path, exist_ok=True)
    table = pa.table(cols, schema=schema)
    step = -(-table.num_rows // files)
    total = 0
    for k in range(files):
        f = os.path.join(path, f"part-{k:05d}.parquet")
        pq.write_table(table.slice(k * step, step), f)
        total += os.path.getsize(f)
    return total
