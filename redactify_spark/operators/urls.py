"""URL canonicalization + recrawl dedup for Common-Crawl-style pages.

A crawl sees the same logical page under many spellings (case-variant
hosts, tracking params, fragments, default ports, trailing slashes) and
under many snapshots (recrawls).  Canonicalizing BEFORE detection
removes that multiplier from every downstream stage -- at 10^12 pages
the cheapest mention is the one never extracted twice.

Everything here is native column expressions (regexp over the
RE2-and-Java-compatible subset, list filter/sort/join), so the
canonicalization is whole-stage-codegen'd, usable in partition pruning,
and DuckDB-oracle-checkable (q66).

Canonical form:
- scheme and host lowercased (path/query case preserved -- significant)
- default ports stripped (:80 for http, :443 for https)
- fragment dropped
- tracking params dropped (utm_*, gclid, fbclid, ref), remaining params
  sorted (param ORDER is almost never significant; sorting merges
  a=1&b=2 with b=2&a=1)
- trailing slash stripped from non-root paths; empty path -> '/'
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from redactify_spark.operators.dedup import \
    SIMHASH_NATIVE_BITS as _SIMHASH_BITS

_TRACKING = r"^(utm_[^=]*|gclid|fbclid|ref)(=.*)?$"


def canonical_url_expr(url: Column) -> Column:
    """Self-contained native canonical-URL expression (module docstring
    has the rules).  Non-URL strings (no scheme) canonicalize to
    '://'-prefixed junk rather than erroring -- filter upstream."""
    scheme = F.lower(F.regexp_extract(url, r"^([a-zA-Z][a-zA-Z0-9+.-]*)://",
                                      1))
    hostport = F.lower(F.regexp_extract(url, r"^[^:/?#]+://([^/?#]*)", 1))
    host = F.when(scheme == "http",
                  F.regexp_replace(hostport, r":80$", "")) \
            .when(scheme == "https",
                  F.regexp_replace(hostport, r":443$", "")) \
            .otherwise(hostport)
    rawpath = F.regexp_extract(url, r"^[^:/?#]+://[^/?#]*([^?#]*)", 1)
    path = F.when(rawpath == "", F.lit("/")) \
            .when(F.length(rawpath) > 1,
                  F.regexp_replace(rawpath, r"/$", "")) \
            .otherwise(rawpath)
    # The query starts at the FIRST '?' that precedes any fragment:
    # [^#?]* stops at either delimiter, so a '?' inside the fragment
    # ('/p#sec?x=1') cannot resurrect a query, and a '?' inside the
    # query ('?redirect=http://o.com/x?y=1') stays part of it.
    query = F.regexp_extract(url, r"^[^#?]*\?([^#]*)", 1)
    params = F.array_sort(F.filter(
        F.split(query, "&"),
        lambda p: (p != "") & ~p.rlike(_TRACKING)))
    qs = F.when(F.size(params) > 0,
                F.concat(F.lit("?"), F.array_join(params, "&"))) \
          .otherwise(F.lit(""))
    return F.concat(scheme, F.lit("://"), host, path, qs)


def with_canonical_url(df: DataFrame, url_col: str = "url",
                       out_col: str = "canonical_url") -> DataFrame:
    """Add the canonical-URL column."""
    return df.withColumn(out_col, canonical_url_expr(F.col(url_col)))


def dedup_pages_by_url(pages: DataFrame, url_col: str = "url",
                       ts_col: str = "warc_ts") -> DataFrame:
    """Recrawl dedup: keep the NEWEST snapshot per canonical URL
    (deterministic tiebreak on the raw url string).  One shuffle keyed
    by canonical url; at 10^12 pages this is the single highest-leverage
    volume reducer before detection."""
    withc = with_canonical_url(pages, url_col)
    w = Window.partitionBy("canonical_url").orderBy(
        F.col(ts_col).desc(), F.col(url_col))
    return (withc.withColumn("_rn", F.row_number().over(w))
            .where(F.col("_rn") == 1).drop("_rn"))


# ---------------------------------------------------------------------------
# crawl-delta classification (recrawl snapshot diff)
# ---------------------------------------------------------------------------

def _simhash_fold_udf():
    """Arrow-batched majority fold: array<long> token hashes -> int64
    SimHash.  BIT-IDENTICAL to dedup.doc_simhash_native's per-bit
    aggregate folds (same md5-derived hashes, same integer majority
    rule; parity-pinned in pytest) but one numpy pass instead of 60
    interpreted HOF traversals -- measured 7.3 s -> 1.7 s on 200k
    pages."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    # no type hints: the module's `from __future__ import annotations`
    # would stringify them and pyspark's hint inference cannot resolve
    # that; hint-less defaults to the scalar series->series eval type
    @pandas_udf("long")
    def sig(hs):
        shifts = np.arange(_SIMHASH_BITS, dtype=np.uint64)
        out = np.zeros(len(hs), dtype=np.int64)
        for i, arr in enumerate(hs):
            if arr is None or len(arr) == 0:
                continue
            h = np.asarray(arr, dtype=np.uint64)
            votes = (2 * ((h[:, None] >> shifts) & 1).astype(np.int64)
                     - 1).sum(axis=0)
            out[i] = int(((votes > 0).astype(np.uint64) << shifts).sum())
        return pd.Series(out)

    return sig


def snapshot_signature(df: DataFrame, url_col: str = "url",
                       text_col: str = "text") -> DataFrame:
    """(url, digest, simhash) per page: md5 digest for exact-change
    detection plus the SimHash for magnitude-of-change.  One
    shuffle-free scan; the signature table is ~40 bytes per row, which
    is what the delta JOIN ships instead of page text (at 10^12 pages
    the text never moves).

    This pass runs over EVERY page of EVERY recrawl -- it is the O(N)
    floor of the delta architecture -- so tokenization + md5 stay
    native and only the majority fold runs in the Arrow-batched numpy
    kernel (4.3x faster than the per-bit native folds, bit-identical;
    the q113 oracle recomputes the simhash independently)."""
    from redactify_spark.operators.dedup import _native_tokens
    hashes = F.transform(
        _native_tokens(F.col(text_col)),
        lambda t: F.conv(F.substring(F.md5(t), 1, 15), 16, 10).cast("long"))
    return df.select(F.col(url_col).alias("url"),
                     F.md5(F.col(text_col)).alias("digest"),
                     _simhash_fold_udf()(hashes).alias("simhash"))


def crawl_delta(old: DataFrame, new: DataFrame, url_col: str = "url",
                text_col: str = "text", near_hamming: int = 3) -> DataFrame:
    """(url, status, hamming): classify every url across two crawl
    snapshots -- the recrawl diff that decides what re-enters the KG
    pipeline.  Status classes:

    - ``added``     url only in `new` (hamming NULL)
    - ``removed``   url only in `old` (hamming NULL)
    - ``unchanged`` byte-identical text (hamming 0 by construction)
    - ``touched``   text differs but SimHash hamming <= `near_hamming`
                    (boilerplate/timestamp-level churn -- mentions are
                    overwhelmingly intact, safe to skip re-detection
                    in a budgeted refresh)
    - ``modified``  hamming > `near_hamming`: content change, must
                    re-detect

    Scale shape: two signature scans (shuffle-free) + ONE full-outer
    sort-merge join on url over 40-byte signature rows.  Page text
    never crosses the shuffle.  Downstream: feed
    ``status IN ('added','touched','modified')`` urls to detection and
    tombstone ``removed`` (plans/recrawl.append_snapshot)."""
    return delta_from_signatures(
        snapshot_signature(old, url_col, text_col),
        snapshot_signature(new, url_col, text_col),
        near_hamming=near_hamming)


def delta_from_signatures(old_sig: DataFrame, new_sig: DataFrame,
                          near_hamming: int = 3) -> DataFrame:
    """crawl_delta over PRE-COMPUTED (url, digest, simhash) signature
    tables, so the next delta never re-reads old page text."""
    def side(sig: DataFrame) -> DataFrame:
        return sig.select("url", F.lit(True).alias("present"), "digest",
                          "simhash")
    return (classify_signatures(side(old_sig), side(new_sig), near_hamming)
            .select("url", "status", "hamming"))


def classify_signatures(old: DataFrame, new: DataFrame,
                        near_hamming: int = 3) -> DataFrame:
    """The crawl-delta status of every url: ONE full-outer join on url of
    two (url, present, digest, simhash, ...) tables.  Every column but
    `url` comes out suffixed by its side (`digest_old`, `digest_new`),
    plus `status` and `hamming` (crawl_delta has the classes).

    A side holds a url when its `present` is true: the digest cannot
    mark presence, since md5(NULL) is NULL, so a url with NULL text is
    never `unchanged` and a both-NULL url is `touched` at hamming 0.  A
    url present on neither side (a row with `present` false, e.g. a
    tombstone, that the other side lacks) gets a NULL status."""
    def suffixed(df: DataFrame, sfx: str) -> DataFrame:
        return df.select("url", *[F.col(c).alias(f"{c}_{sfx}")
                                  for c in df.columns if c != "url"])

    in_old = F.coalesce(F.col("present_old"), F.lit(False))
    in_new = F.coalesce(F.col("present_new"), F.lit(False))
    hamming = F.bit_count(
        F.col("simhash_old").bitwiseXOR(F.col("simhash_new")))
    status = (F.when(~in_new, F.when(in_old, F.lit("removed")))
              .when(~in_old, F.lit("added"))
              .when(F.col("digest_old") == F.col("digest_new"),
                    F.lit("unchanged"))
              .when(hamming <= near_hamming, F.lit("touched"))
              .otherwise(F.lit("modified")))
    return (suffixed(old, "old").join(suffixed(new, "new"), "url",
                                       "full_outer")
            .withColumn("status", status)
            .withColumn("hamming",
                        F.when(in_old & in_new, hamming).cast("long")))
