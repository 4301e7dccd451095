"""Recrawl-aware incremental KG maintenance: detection cost follows the
CHANGED pages, not the crawl size.

Pages are keyed by their `url` column: the signature, delta and
ownership tables are all url-keyed.  A crawl of disjoint url tranches
is the special case `append_snapshot(..., full_snapshot=False)`.
Real crawls RE-VISIT urls: most pages are byte-identical between
monthly snapshots, a long tail is touched (boilerplate churn) or
modified, some disappear, some are new.  At 10^12 pages, re-running
mention detection over an unchanged page is the single largest
avoidable cost in the whole system, so this module maintains the KG
across full-crawl snapshots with:

- a persisted per-snapshot SIGNATURE ledger (url, md5 digest, native
  simhash -- ~40 bytes/url, operators/urls.snapshot_signature), so the
  crawl diff never re-reads old page text;
- `crawl_delta` classification per snapshot
  (unchanged/touched/modified/added/removed);
- detection + triple extraction over ONLY the urls that need it
  (added+modified always; touched is a budget knob -- skipping it
  keeps the prior mentions, the documented approximation);
- an OWNERSHIP table (url -> tranche whose detection output is
  current, + liveness) so the live mention set is a join away, and
  `removed` pages tombstone out of the graph without rewriting any
  tranche's mentions;
- invalidate-and-rebuild graph refresh over the live mentions through
  plans/checkpoint.build_graph, the same stages kg_pipeline runs
  (linking cost is bounded by DISTINCT entities, not crawl size).

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


def _append_ledger(root: str, tranche_id: str) -> None:
    seq = read_ledger(root)
    if tranche_id not in seq:
        seq.append(tranche_id)
    tmp = _ledger_path(root) + ".tmp"
    with open(tmp, "w") as f:
        json.dump({"tranches": seq}, f, indent=1)
    os.replace(tmp, _ledger_path(root))


def _ownership(spark: SparkSession, root: str,
               tranche_id: str) -> DataFrame:
    return spark.read.parquet(
        os.path.join(root, "state", tranche_id, "ownership", "data"))


def append_snapshot(spark: SparkSession, root: str, tranche_id: str,
                    pages: DataFrame, text_col: str = "text",
                    redetect_touched: bool = True,
                    full_snapshot: bool = True,
                    near_hamming: int = 3) -> dict:
    """Apply one crawl snapshot.  Idempotent per (root, tranche_id):
    every step is a run_stage checkpoint, so a killed append resumes.

    full_snapshot=True (default): urls absent from `pages` are
    tombstoned (a full crawl asserts the universe).  False: a PARTIAL
    crawl -- absent urls keep their previous state untouched.

    Returns {"delta": {status: n}, "detected_urls": n}."""
    from redactify_spark.operators.detection import detect_mentions
    from redactify_spark.operators.triples import all_triples
    from redactify_spark.operators.urls import (delta_from_signatures,
                                                snapshot_signature)

    troot = os.path.join(root, "tranches", tranche_id)
    seq = read_ledger(root)
    prev = seq[-1] if seq else None
    if prev == tranche_id:
        prev = seq[-2] if len(seq) >= 2 else None

    sig_new = run_stage(
        spark, troot, "signatures",
        lambda: snapshot_signature(pages, "url", text_col))

    if prev is not None:
        own_prev = _ownership(spark, root, prev)
        old_sig = (own_prev.where("alive")
                   .select("url", "digest", "simhash"))
        delta = delta_from_signatures(old_sig, sig_new,
                                      near_hamming=near_hamming)
    else:
        own_prev = None
        delta = sig_new.select("url", F.lit("added").alias("status"),
                               F.lit(None).cast("long").alias("hamming"))
    delta = run_stage(spark, troot, "delta", lambda: delta)

    detect_statuses = list(_ALWAYS_DETECT) + (
        ["touched"] if redetect_touched else [])
    to_detect = (pages.join(
        delta.where(F.col("status").isin(detect_statuses))
        .select("url").distinct(),
        "url", "semi"))

    mentions = run_stage(
        spark, troot, "mentions",
        lambda: detect_mentions(to_detect, id_col="url",
                                text_col=text_col)
        .withColumn("_tranche", F.lit(tranche_id)))
    run_stage(
        spark, troot, "triples",
        lambda: all_triples(mentions.drop("_tranche"), id_col="url")
        .withColumn("_tranche", F.lit(tranche_id)))

    # --- ownership update -------------------------------------------------
    def build_ownership() -> DataFrame:
        d = delta.join(sig_new.select("url",
                                      F.col("digest").alias("_dg_new"),
                                      F.col("simhash").alias("_sh_new")),
                       "url", "left")
        if own_prev is not None:
            d = d.join(own_prev.select("url",
                                       F.col("owner").alias("_own_old"),
                                       F.col("digest").alias("_dg_old"),
                                       F.col("simhash").alias("_sh_old")),
                       "url", "left")
        else:
            d = (d.withColumn("_own_old", F.lit(None).cast("string"))
                 .withColumn("_dg_old", F.lit(None).cast("string"))
                 .withColumn("_sh_old", F.lit(None).cast("long")))
        redetected = F.col("status").isin(detect_statuses)
        present = F.col("status") != "removed"
        own = (d.select(
            "url",
            F.when(redetected, F.lit(tranche_id))
            .otherwise(F.col("_own_old")).alias("owner"),
            # present urls carry THIS crawl's sigs (touched pages diff
            # against their latest text next time even when detection
            # was skipped); removed urls keep the last-seen sigs
            F.when(present, F.col("_dg_new"))
            .otherwise(F.col("_dg_old")).alias("digest"),
            F.when(present, F.col("_sh_new"))
            .otherwise(F.col("_sh_old")).alias("simhash"),
            (present | F.lit(not full_snapshot)).alias("alive")))
        if own_prev is not None and not full_snapshot:
            # partial crawl: carry forward untouched urls verbatim
            missing = own_prev.join(d.select("url"), "url", "anti")
            own = own.unionByName(
                missing.select("url", "owner", "digest", "simhash",
                               "alive"))
        return own

    run_stage(spark, os.path.join(root, "state", tranche_id),
              "ownership", build_ownership)
    _append_ledger(root, tranche_id)

    stats = {r["status"]: r["n"] for r in
             delta.groupBy("status").agg(F.count("*").alias("n"))
             .collect()}
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
    run_stage(spark, troot, "signatures",
              lambda: last_own.select("url", "digest", "simhash"))
    run_stage(spark, troot, "mentions",
              lambda: live_m.withColumn("_tranche", F.lit(cid)))
    run_stage(spark, troot, "triples",
              lambda: live_t.withColumn("_tranche", F.lit(cid)))
    run_stage(spark, os.path.join(root, "state", cid), "ownership",
              lambda: last_own.select(
                  "url", F.lit(cid).alias("owner"), "digest", "simhash",
                  F.lit(True).alias("alive")))

    old = list(seq)
    tmp = _ledger_path(root) + ".tmp"
    with open(tmp, "w") as f:
        json.dump({"tranches": [cid]}, f, indent=1)
    os.replace(tmp, _ledger_path(root))
    if prune:
        for t in old:
            shutil.rmtree(os.path.join(root, "tranches", t),
                          ignore_errors=True)
            shutil.rmtree(os.path.join(root, "state", t),
                          ignore_errors=True)
    return cid
