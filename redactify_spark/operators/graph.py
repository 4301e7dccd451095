"""Graph materialization: canonicalized node + edge tables.

nodes(canon_id, type, surface_forms, n_mentions, n_docs)
edges(src, pred, dst, weight)   weight = #distinct supporting docs

Head-entity skew (the same org/email mentioned on a large fraction of
pages) is defused by making EVERY aggregation either (a) map-side
combinable on a uniform wide key -- distinct over (entity, doc) spreads
a hot entity's rows across reducers keyed by doc, then the final count
per entity only merges per-partition partial counts -- or (b) bounded:
surface_forms is the top-K surfaces by support, never an unbounded
collect_set.  No node row can exceed O(K) regardless of how many
documents mention the entity.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

TOP_K_SURFACES = 16


def build_nodes_from_canon(m: DataFrame,
                           id_col: str = "doc_id") -> DataFrame:
    """nodes(canon_id, type, surface_forms, n_mentions, n_docs) over
    PRE-canonicalized mentions (canon_id already joined on).
    plans/checkpoint.build_graph passes the unstored join of the
    mentions and canonical-map stages to both this and
    build_edges_from_canon; while one side fits the broadcast
    threshold, the join adds no shuffle.

    Scale shape (the build_edges_from_canon two-phase pattern, applied
    to n_docs):
    - n_docs: distinct over the WIDE uniform key (canon_id, type, doc)
      -- partial aggregation dedups map-side and the hot entity's rows
      shuffle by doc, not by entity -- then a count(*) whose partial sums
      are map-side combinable.  No reducer ever materializes a head
      entity's full document list.
    - n_mentions / surface support: groupBy (canon_id, type, surface)
      count -- map-side combinable even when one (entity, surface) pair
      dominates.
    - surface_forms: top-K surfaces by (support desc, surface asc) via a
      window over the per-surface counts (cardinality = distinct
      surfaces, already collapsed), so the collected array is bounded at
      K elements and deterministic."""
    n_docs = (m.select("canon_id", "entity_group",
                       F.col(id_col).cast("string").alias("_doc"))
              .distinct()
              .groupBy("canon_id", "entity_group")
              .agg(F.count("*").alias("n_docs")))

    surf = (m.groupBy("canon_id", "entity_group", "surface")
            .agg(F.count("*").alias("n_surface")))
    w = (Window.partitionBy("canon_id", "entity_group")
         .orderBy(F.col("n_surface").desc(), F.col("surface")))
    per_entity = (surf.withColumn("_rk", F.row_number().over(w))
                  .groupBy("canon_id", "entity_group")
                  .agg(F.transform(
                           F.sort_array(F.collect_list(
                               F.when(F.col("_rk") <= TOP_K_SURFACES,
                                      F.struct("_rk", "surface")))),
                           lambda s: s["surface"]).alias("surface_forms"),
                       F.sum("n_surface").alias("n_mentions")))

    return (per_entity.join(n_docs, ["canon_id", "entity_group"])
            .select("canon_id", F.col("entity_group").alias("type"),
                    "surface_forms", "n_mentions", "n_docs"))


def build_edges_from_canon(m: DataFrame,
                           id_col: str = "doc_id") -> DataFrame:
    """Canonicalized co-mention edges over PRE-canonicalized mentions:
    (canon entity) -[has_contact]-> (canon contact) weighted by distinct
    supporting documents.  The per-doc co-mention join runs directly on
    canon ids (no pseudo_key->canon lookup joins at all).

    Head-entity skew: countDistinct(prov_doc) grouped by (src,pred,dst)
    would funnel a head entity's 10^11 provenance rows into one
    reducer.  Instead: distinct over the WIDER uniform key (the doc ref
    spreads the shuffle evenly), then a count whose partial aggregation
    is map-side combinable -- the hot key's final reducer only merges
    per-partition counts."""
    from redactify_spark.operators.triples import contact_pairs
    return (contact_pairs(m, id_col, "canon_id")
            .select(F.col("subj").alias("src"),
                    F.lit("has_contact").alias("pred"),
                    F.col("obj").alias("dst"),
                    F.col("_doc").cast("string").alias("prov_doc"))
            .distinct()
            .groupBy("src", "pred", "dst")
            .agg(F.count("*").alias("weight")))
