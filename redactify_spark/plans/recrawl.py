"""Recrawl-aware incremental KG maintenance: detection cost follows the
CHANGED pages, not the crawl size.

Pages are keyed by their `url` column; the ownership table is
url-keyed.  A crawl of disjoint url tranches is the special case
`append_snapshot(..., full_snapshot=False)`.  Real crawls RE-VISIT
urls: most pages are byte-identical between monthly snapshots, a long
tail is touched (boilerplate churn) or modified, some disappear, some
are new.  At 10^12 pages, re-running mention detection over an
unchanged page is the single largest avoidable cost in the whole
system, so this module maintains the KG across full-crawl snapshots
with ONE stored state table per snapshot, `state/<t>/ownership`:
(url, owner, digest, simhash, alive, status), ~28 bytes/url
stored (zstd).

- `owner` is the tranche whose detection output is current and `alive`
  the liveness, so the live mention set is a join away, and `removed`
  pages tombstone out of the graph without rewriting any tranche's
  mentions;
- `digest`/`simhash` are the last-seen signature
  (operators/urls.snapshot_signature), so the next crawl diff never
  re-reads old page text;
- `status` is the crawl-delta class of this snapshot
  (unchanged/touched/modified/added/removed).

An append builds it in one full-outer join of the previous ownership
(its live urls count as present) against the new snapshot's
signatures (operators/urls.classify_signatures), then writes
`tranches/<t>/mentions` and `tranches/<t>/triples` for ONLY the urls
that need detection (added+modified always; touched is a budget knob --
skipping it keeps the prior mentions, the documented approximation),
then appends <t> to the ledger -- the commit point.  The graph is
refreshed invalidate-and-rebuild over the live mentions through
plans/checkpoint.build_graph, the same stages kg_pipeline runs (linking
cost is bounded by DISTINCT entities, not crawl size).

Everything is run_stage-managed (manifests, per-partition lineage,
kill-resume), and appending snapshot T2 after T1 is pytest-gated
byte-equal to one-shot processing of the final live snapshot.

Resurrection note: the delta diffs against LIVE urls only, so a url
that disappears and later returns byte-identical is re-detected as
`added` -- correct output, mildly wasted compute; diffing against dead
sigs too would save it at the cost of ownership-rewrite complexity.
"""

from __future__ import annotations

import json
import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from redactify_spark.plans.checkpoint import build_graph, run_stage

#: statuses that always re-enter detection
_ALWAYS_DETECT = ("added", "modified")


def _ledger_path(root: str) -> str:
    return os.path.join(root, "recrawl_ledger.json")


def read_ledger(root: str) -> list[str]:
    """Ordered tranche ids applied so far."""
    p = _ledger_path(root)
    if not os.path.exists(p):
        return []
    with open(p) as f:
        return json.load(f)["tranches"]


def _write_ledger(root: str, seq: list[str]) -> None:
    """Replace the ledger atomically: the commit point of an append and
    of a compaction."""
    tmp = _ledger_path(root) + ".tmp"
    with open(tmp, "w") as f:
        json.dump({"tranches": seq}, f, indent=1)
    os.replace(tmp, _ledger_path(root))


def _ownership(spark: SparkSession, root: str,
               tranche_id: str) -> DataFrame:
    return spark.read.parquet(
        os.path.join(root, "state", tranche_id, "ownership", "data"))


def append_snapshot(spark: SparkSession, root: str, tranche_id: str,
                    pages: DataFrame, redetect_touched: bool = True,
                    full_snapshot: bool = True) -> dict:
    """Apply one crawl snapshot (a `url`, `text` table).  Idempotent per
    (root, tranche_id): every step is a run_stage checkpoint and the
    ledger append commits, so a killed append resumes.

    full_snapshot=True (default): urls absent from `pages` are
    tombstoned (a full crawl asserts the universe).  False: a PARTIAL
    crawl -- absent urls keep their previous state untouched.

    Returns {"delta": {status: n}, "detected_urls": n}."""
    from redactify_spark.operators.detection import detect_mentions
    from redactify_spark.operators.triples import all_triples
    from redactify_spark.operators.urls import (classify_signatures,
                                                snapshot_signature)

    troot = os.path.join(root, "tranches", tranche_id)
    seq = read_ledger(root)
    prev = seq[-1] if seq else None
    if prev == tranche_id:
        prev = seq[-2] if len(seq) >= 2 else None
    detect_statuses = list(_ALWAYS_DETECT) + (
        ["touched"] if redetect_touched else [])

    def build_ownership() -> DataFrame:
        sig = snapshot_signature(pages).withColumn("present", F.lit(True))
        # a first snapshot diffs against an empty state, derived from
        # `sig` so the optimizer prunes it to an empty relation (a
        # createDataFrame would start a second Python worker daemon)
        old = (_ownership(spark, root, prev) if prev is not None else
               sig.withColumn("owner", F.lit(None).cast("string"))
               .withColumn("alive", F.lit(False)).where(F.lit(False)))
        j = classify_signatures(
            old.select("url", F.col("alive").alias("present"), "owner",
                       "digest", "simhash"),
            sig)
        status = F.col("status")
        in_new = F.col("present_new")
        # present on neither side: tombstoned before and absent now -- a
        # partial crawl carries it forward verbatim, a full one forgets
        # it.  Tested on the markers, not on `status`: a status filter
        # pushed below the join would evaluate the simhash UDF twice
        j = j.where(in_new | F.col("present_old") | F.lit(not full_snapshot))
        return j.select(
            "url",
            F.when(status.isin(detect_statuses), F.lit(tranche_id))
            .otherwise(F.col("owner_old")).alias("owner"),
            # present urls carry THIS crawl's sigs (touched pages diff
            # against their latest text next time even when detection
            # was skipped); absent urls keep the last-seen sigs
            F.when(in_new, F.col("digest_new"))
            .otherwise(F.col("digest_old")).alias("digest"),
            F.when(in_new, F.col("simhash_new"))
            .otherwise(F.col("simhash_old")).alias("simhash"),
            F.coalesce(in_new, F.col("present_old")
                       & F.lit(not full_snapshot)).alias("alive"),
            status)

    own = run_stage(spark, os.path.join(root, "state", tranche_id),
                    "ownership", build_ownership)
    to_detect = pages.join(
        own.where(F.col("status").isin(detect_statuses)).select("url"),
        "url", "semi")
    mentions = run_stage(
        spark, troot, "mentions",
        lambda: detect_mentions(to_detect, id_col="url", text_col="text")
        .withColumn("_tranche", F.lit(tranche_id)))
    run_stage(
        spark, troot, "triples",
        lambda: all_triples(mentions.drop("_tranche"), id_col="url")
        .withColumn("_tranche", F.lit(tranche_id)))
    if tranche_id not in seq:
        _write_ledger(root, seq + [tranche_id])

    stats = {r["status"]: r["n"] for r in
             own.where(F.col("status").isNotNull()).groupBy("status")
             .agg(F.count("*").alias("n")).collect()}
    return {"delta": stats,
            "detected_urls": int(sum(stats.get(s, 0)
                                     for s in detect_statuses))}


def _live_rows(spark: SparkSession, root: str, sub: str) -> DataFrame:
    """Union all tranches' `sub` tables and keep rows whose tranche
    still OWNS their url and whose url is alive -- one broadcast-able
    join against the (url, owner) ownership projection."""
    seq = read_ledger(root)
    if not seq:
        raise ValueError(f"no snapshots applied under {root}")
    dirs = [os.path.join(root, "tranches", t, sub, "data") for t in seq]
    allrows = spark.read.parquet(*dirs)
    key = "url" if "url" in allrows.columns else "prov_doc"
    own = (_ownership(spark, root, seq[-1]).where("alive")
           .select(F.col("url").alias(key),
                   F.col("owner").alias("_tranche")))
    return allrows.join(own, [key, "_tranche"], "semi").drop("_tranche")


def current_mentions(spark: SparkSession, root: str) -> DataFrame:
    """The live mention set: latest owning tranche per url, tombstoned
    urls excluded."""
    return _live_rows(spark, root, "mentions")


def current_triples(spark: SparkSession, root: str) -> DataFrame:
    return _live_rows(spark, root, "triples")


def refresh_graph(spark: SparkSession, root: str) -> dict[str, DataFrame]:
    """Rebuild the graph (plans/checkpoint.build_graph) over the LIVE
    mentions under <root>/graph.  Invalidate-and-rebuild: the previous
    refresh's graph stages are dropped first (cost bounded by distinct
    entities, not crawl size)."""
    groot = os.path.join(root, "graph")
    shutil.rmtree(groot, ignore_errors=True)
    mentions = current_mentions(spark, root)
    return {"mentions": mentions, "triples": current_triples(spark, root),
            **build_graph(spark, groot, mentions)}


def compact_ledger(spark: SparkSession, root: str,
                   compacted_id: str | None = None,
                   prune: bool = True) -> str:
    """Rewrite the LIVE mention/triple sets into one fresh tranche and
    reset the ledger to it -- the periodic maintenance that bounds
    `_live_rows`' union cost (O(all mentions ever written) after K
    snapshots) back to O(live mentions).

    Tombstoned urls are forgotten entirely: the delta only ever diffs
    against live signatures, so dropping dead rows changes no future
    verdict (a resurrected url re-detects as `added`, the documented
    semantics).  `prune=True` deletes the superseded tranche/state
    directories after the ledger flips; the flip itself is the atomic
    ledger-file replace, so a crash mid-prune leaves orphan dirs, never
    a wrong live set.

    Returns the compacted tranche id."""
    seq = read_ledger(root)
    if not seq:
        raise ValueError(f"nothing to compact under {root}")
    cid = compacted_id or f"compact_{seq[-1]}"
    if cid in seq:
        raise ValueError(f"tranche id {cid} already applied")
    live_m = current_mentions(spark, root)
    live_t = current_triples(spark, root)
    last_own = _ownership(spark, root, seq[-1]).where("alive")

    troot = os.path.join(root, "tranches", cid)
    run_stage(spark, troot, "mentions",
              lambda: live_m.withColumn("_tranche", F.lit(cid)))
    run_stage(spark, troot, "triples",
              lambda: live_t.withColumn("_tranche", F.lit(cid)))
    run_stage(spark, os.path.join(root, "state", cid), "ownership",
              lambda: last_own.select(
                  "url", F.lit(cid).alias("owner"), "digest", "simhash",
                  F.lit(True).alias("alive")))

    _write_ledger(root, [cid])
    if prune:
        for t in seq:
            shutil.rmtree(os.path.join(root, "tranches", t),
                          ignore_errors=True)
            shutil.rmtree(os.path.join(root, "state", t),
                          ignore_errors=True)
    return cid
