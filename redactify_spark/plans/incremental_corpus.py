"""Incremental corpus dedup: accept crawl tranches without re-hashing
old documents, with EXACT one-shot equivalence.

The expensive per-document work (shingling + MinHash banding) runs only
on each new tranche; the near-dup EDGE set grows append-only (a new
tranche can only add pairs that touch a new document, so candidates =
new-bands x all-bands -- old-old pairs were found when their tranche
arrived); and the kept-set is recomputed per refresh as connected
components over the accumulated edges, exactly like the incremental KG
recomputes its graph stages (plans/recrawl.py): CC input is
edges << documents, so the recompute is bounded by the duplicate
population, not crawl size.

Because the edge set equals what a one-shot run over the full corpus
would produce, the kept set is BYTE-IDENTICAL to
operators/dedup.dedup_minhash over the union (pytest-gated) -- including
the chain cases that break compare-against-accepted-only schemes (a new
doc similar only to a previously-REJECTED doc still joins that doc's
cluster and is dropped).

Conventions and caveats:
- doc_ids must be assigned in ARRIVAL order (strictly increasing across
  tranches -- the standard crawl convention).  That makes keep-min-id ==
  keep-first-seen, and lets each edge be stored exactly once (under the
  pair's higher id's tranche).
- exact equivalence holds while no LSH bucket exceeds the width cap
  over the full corpus.  If a bucket crosses the cap at tranche N, the
  one-shot run drops all its pairs while earlier tranches legitimately
  kept theirs -- the incremental edge set is then a SUPERSET (strictly
  more dedup), never fewer.

Layout under `root` (run_stage-managed):
    tranches/<tid>/bands/    per-tranche MinHash band signatures
    tranches/<tid>/edges/    near-dup pairs touching this tranche
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from redactify_spark.operators.dedup import (MAX_BUCKET, doc_minhash_bands,
                                             verify_jaccard)
from redactify_spark.plans.checkpoint import _union_stage_tables, run_stage


def dedup_tranche(spark: SparkSession, root: str, tranche_id: str,
                  docs: DataFrame, all_docs: DataFrame,
                  threshold: float = 0.7,
                  max_bucket: int = MAX_BUCKET) -> DataFrame:
    """Band the new tranche and append the near-dup edges that touch it.

    `docs` is the tranche; `all_docs` the full corpus so far INCLUDING
    the tranche (needed to verify old-new candidate pairs -- texts are
    the corpus itself, referenced, not copied).  Returns this tranche's
    edge table."""
    troot = os.path.join(root, "tranches", tranche_id)
    new_bands = run_stage(spark, troot, "bands",
                          lambda: doc_minhash_bands(docs))

    def _edges():
        all_bands = _union_stage_tables(spark, root, "bands")
        # bucket-width cap over the FULL accumulated band table (the
        # width that matters is global, not per-tranche)
        sized = all_bands.withColumn(
            "_n", F.count("*").over(Window.partitionBy("band", "sig")))
        narrow = sized.where(F.col("_n") <= max_bucket).drop("_n")
        nb = new_bands.select("band", "sig",
                              F.col("doc_id").alias("id_new"))
        cands = (narrow.select("band", "sig",
                               F.col("doc_id").alias("id_any"))
                 .join(nb, ["band", "sig"])
                 .where(F.col("id_any") != F.col("id_new"))
                 .select(F.least("id_any", "id_new").alias("id_a"),
                         F.greatest("id_any", "id_new").alias("id_b"))
                 .dropDuplicates(["id_a", "id_b"])
                 # old-old pairs cannot appear (one side is new); but a
                 # (new, new) pair would also surface while processing a
                 # LATER tranche via its bands -- keep only pairs whose
                 # HIGHER id is in this tranche so each edge is stored
                 # exactly once
                 .join(docs.select(F.col("doc_id").alias("id_b")), "id_b",
                       "left_semi"))
        return (verify_jaccard(cands, all_docs)
                .where(F.col("jaccard") >= threshold))

    return run_stage(spark, troot, "edges", _edges)


def current_kept(spark: SparkSession, root: str,
                 all_docs: DataFrame) -> DataFrame:
    """The deduplicated corpus right now: connected components over the
    accumulated edges, keep the min doc_id per cluster (identical to
    dedup_minhash over the union -- same edges, same CC)."""
    from redactify_spark.operators.components import connected_components
    edges = _union_stage_tables(spark, root, "edges")
    # 20-digit padding: int64 ids reach 19 digits; lpad TRUNCATES when
    # the input exceeds the pad width, which would merge unrelated ids
    comp = connected_components(
        edges.select(F.lpad(F.col("id_a").cast("string"), 20, "0")
                     .alias("key_a"),
                     F.lpad(F.col("id_b").cast("string"), 20, "0")
                     .alias("key_b")))
    rep = comp.groupBy("component").agg(
        F.min(F.col("node").cast("long")).alias("keep_id"))
    drop = (comp.join(rep, "component")
            .where(F.col("node").cast("long") != F.col("keep_id"))
            .select(F.col("node").cast("long").alias("doc_id")))
    return all_docs.join(drop, "doc_id", "left_anti")
