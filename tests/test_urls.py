"""URL canonicalization + recrawl dedup."""

import datetime as dt

import pytest
from pyspark.sql import functions as F

from redactify_spark.operators import urls as U


def canon(spark, *url_list):
    df = spark.createDataFrame([(u,) for u in url_list], "url string")
    return [r.canonical_url
            for r in U.with_canonical_url(df).collect()]


def test_canonical_rules(spark):
    got = canon(
        spark,
        "HTTPS://Example.COM:443/Path/",
        "http://example.com:80/",
        "https://example.com/a?utm_source=x&b=2&a=1#frag",
        "https://example.com/a?b=2&a=1",
        "https://example.com",
        "https://example.com/a?utm_campaign=y&gclid=123&fbclid=9&ref=z",
        "https://example.com:8443/keep-port",
        "http://example.com:443/non-default-for-http",
    )
    assert got == [
        "https://example.com/Path",          # host lower, path case kept
        "http://example.com/",               # root slash kept
        "https://example.com/a?a=1&b=2",     # tracking+frag gone, sorted
        "https://example.com/a?a=1&b=2",     # merges with the above
        "https://example.com/",              # empty path -> '/'
        "https://example.com/a",             # all-tracking query -> none
        "https://example.com:8443/keep-port",
        "http://example.com:443/non-default-for-http",
    ]


def test_canonical_idempotent(spark):
    urls = ["HTTPS://A.B:443/x/?utm_x=1&z=2&a=3#f",
            "http://host/path", "https://h/?a=1"]
    once = canon(spark, *urls)
    twice = canon(spark, *once)
    assert once == twice


def test_dedup_pages_keeps_newest_snapshot(spark):
    t = dt.datetime(2024, 1, 1)
    rows = [
        ("https://example.com/a?utm_source=x", t, "old"),
        ("HTTPS://EXAMPLE.com/a", t + dt.timedelta(days=3), "new"),
        ("https://other.com/b", t, "only"),
    ]
    pages = spark.createDataFrame(
        rows, "url string, warc_ts timestamp, text string")
    kept = {r.text for r in U.dedup_pages_by_url(pages).collect()}
    assert kept == {"new", "only"}


def test_fragment_question_mark_is_not_a_query(spark):
    """A '?' inside the fragment must not resurrect a query string
    (ADVICE r2): '/p#sec?x=1' and '/p' are the same resource."""
    df = spark.createDataFrame(
        [("http://ex.com/p#sec?x=1",),
         ("http://ex.com/p",),
         ("http://ex.com/p?a=1#sec?x=2",),
         ("http://ex.com/p?redirect=http://o.com/x?y=1",)], "url string")
    out = [r.canonical_url for r in U.with_canonical_url(df).collect()]
    assert out[0] == "http://ex.com/p"
    assert out[1] == "http://ex.com/p"
    assert out[2] == "http://ex.com/p?a=1"
    # '?' INSIDE the query is part of it (RFC 3986): the query starts at
    # the FIRST '?', not the last
    assert out[3] == "http://ex.com/p?redirect=http://o.com/x?y=1"


# ---------------------------------------------------------------------------
# crawl-delta classification
# ---------------------------------------------------------------------------

def _delta(spark, old_rows, new_rows, **kw):
    old = spark.createDataFrame(old_rows, "url string, text string")
    new = spark.createDataFrame(new_rows, "url string, text string")
    return {r.url: (r.status, r.hamming)
            for r in U.crawl_delta(old, new, **kw).collect()}


def test_crawl_delta_all_five_statuses(spark):
    long = " ".join(f"word{i} stays here" for i in range(40))
    got = _delta(
        spark,
        [("a", long), ("b", long), ("c", long), ("d", "gone page")],
        [("a", long),                      # unchanged
         ("b", long + "  "),               # digest differs, tokens don't
         ("c", "totally different content about other things entirely"),
         ("e", "fresh page")])             # added
    assert got["a"] == ("unchanged", 0)
    assert got["b"] == ("touched", 0)
    assert got["c"][0] == "modified" and got["c"][1] > 3
    assert got["d"] == ("removed", None)
    assert got["e"] == ("added", None)


def test_crawl_delta_small_edit_is_touched(spark):
    """One token appended to a long page stays within the near
    threshold."""
    long = " ".join(f"tok{i}" for i in range(200))
    got = _delta(spark, [("u", long)], [("u", long + " extra")])
    status, ham = got["u"]
    assert status == "touched" and 0 < ham <= 3


def test_crawl_delta_threshold_knob(spark):
    """near_hamming=0 reclassifies any bit flip as modified."""
    long = " ".join(f"tok{i}" for i in range(200))
    got = _delta(spark, [("u", long)], [("u", long + " extra")],
                 near_hamming=0)
    assert got["u"][0] == "modified"


def test_crawl_delta_null_and_empty_text(spark):
    """Empty and NULL text rows survive: empty==empty is unchanged,
    NULL text yields NULL digest -> never equal, lands in touched
    (simhash 0 both sides).  A url with NULL text is still PRESENT on
    its side: never added or removed while both snapshots hold it."""
    got = _delta(spark,
                 [("a", ""), ("b", "x"), ("c", None), ("d", "some text"),
                  ("e", None)],
                 [("a", ""), ("b", "x"), ("c", None), ("d", None),
                  ("e", "some text")])
    assert got["a"] == ("unchanged", 0)
    assert got["b"] == ("unchanged", 0)
    assert got["c"] == ("touched", 0)
    for u in ("d", "e"):
        assert got[u][0] in ("touched", "modified"), got[u]
        assert got[u][1] is not None


def test_crawl_delta_partition_invariant(spark):
    """Same verdicts regardless of input partitioning."""
    rows = [(f"u{i}", f"page text number {i} " * 10) for i in range(50)]
    new = [(u, t if i % 5 else t + " tail") for i, (u, t) in enumerate(rows)]
    a = _delta(spark, rows, new)
    old1 = spark.createDataFrame(rows, "url string, text string").repartition(13)
    new1 = spark.createDataFrame(new, "url string, text string").repartition(3)
    b = {r.url: (r.status, r.hamming)
         for r in U.crawl_delta(old1, new1).collect()}
    assert a == b


def test_snapshot_signature_engine_parity(spark):
    """The Arrow-batched numpy majority fold is BIT-IDENTICAL to the
    native per-bit aggregate folds of dedup.doc_simhash_native --
    including empty, null, unicode, and single-token texts."""
    from redactify_spark.operators.dedup import doc_simhash_native
    rows = [(f"u{i}", f"some page text number {i} " * (i % 7))
            for i in range(40)]
    rows += [("empty", ""), ("null", None), ("one", "token"),
             ("uni", "café 中文 mixed ascii")]
    df = spark.createDataFrame(rows, "url string, text string")
    a = {r.url: r.simhash for r in U.snapshot_signature(df).collect()}
    b = {r.doc_id: r.simhash for r in doc_simhash_native(
        df.withColumnRenamed("url", "doc_id")).collect()}
    assert a == b and len(a) == len(rows)
