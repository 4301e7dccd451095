"""Triple extraction: mentions table -> (subj, pred, obj) KG triples.

Per BASELINE.json.north_star, each post-processed mention over a page
becomes a typed triple:

  (url/doc_ref, 'mentions_<type>', surface)        page -> entity edge
  (entity_key,  'has_contact',     contact_key)    entity co-mention edge

All plain DataFrame ops (projection + self-join on the doc key); the
co-mention join is an equi-join on the document id so Catalyst plans a
shuffle hash/sort-merge join on the natural partitioning key.  Contact
co-mention fan-out per document is bounded (mentions per doc is small
after P6 dedup), so no skew handling is needed here; head-entity skew
matters downstream in linking (see linking.py / components.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

CONTACT_TYPES = ("EMAIL_ADDRESS", "PHONE_NUMBER")
ENTITY_TYPES_FOR_CONTACT = ("PERSON", "ORGANIZATION")


def mention_triples(mentions: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """(doc, mentions_<type>, surface) with provenance columns."""
    return mentions.select(
        F.col(id_col).cast("string").alias("subj"),
        F.concat(F.lit("mentions_"),
                 F.lower(F.col("entity_group"))).alias("pred"),
        F.col("surface").alias("obj"),
        F.col("pseudo_key").alias("obj_key"),
        F.col(id_col).cast("string").alias("prov_doc"),
        F.col("start").alias("prov_start"),
        F.col("end").alias("prov_end"),
        F.col("score").alias("prov_score"),
        F.col("detector").alias("prov_detector"),
    )


def contact_pairs(mentions: DataFrame, id_col: str, key_col: str,
                  with_surfaces: bool = False) -> DataFrame:
    """THE entity/contact pairing predicate -- single definition shared
    by contact_triples (pseudo_key level) and graph.
    build_edges_from_canon (canon_id level), so the KG edge stage can
    never silently diverge from the triple path (ADVICE r4): a
    PERSON/ORG mention joined to an EMAIL/PHONE mention within the same
    document.  Emits (_doc, subj, obj [, subj_surface, obj_surface]),
    one row per co-mention occurrence (callers dedup at their own
    granularity)."""
    subj_cols = [F.col(id_col).alias("_doc"),
                 F.col(key_col).alias("subj")]
    obj_cols = [F.col(id_col).alias("_doc"),
                F.col(key_col).alias("obj")]
    if with_surfaces:
        subj_cols.append(F.col("surface").alias("subj_surface"))
        obj_cols.append(F.col("surface").alias("obj_surface"))
    ents = (mentions
            .where(F.col("entity_group").isin(*ENTITY_TYPES_FOR_CONTACT))
            .select(*subj_cols))
    contacts = (mentions
                .where(F.col("entity_group").isin(*CONTACT_TYPES))
                .select(*obj_cols))
    return ents.join(contacts, "_doc")


def contact_triples(mentions: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """(entity_key, has_contact, contact_key): a PERSON/ORG mention and an
    EMAIL/PHONE mention in the same document."""
    # dedup PER DOCUMENT (multiple same-pair co-mentions inside one doc
    # collapse), but KEEP one row per supporting document -- provenance
    # carries the edge weight downstream (build_edges_from_canon counts
    # distinct docs; a global (subj,pred,obj) dedup here would flatten
    # every weight to 1)
    return (contact_pairs(mentions, id_col, "pseudo_key",
                          with_surfaces=True)
            .select("subj", F.lit("has_contact").alias("pred"), "obj",
                    F.col("_doc").cast("string").alias("prov_doc"),
                    "subj_surface", "obj_surface")
            .dropDuplicates(["subj", "pred", "obj", "prov_doc"]))


def all_triples(mentions: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Union of page->entity and entity->contact triples on the common
    (subj, pred, obj, prov_doc) projection."""
    a = mention_triples(mentions, id_col).select("subj", "pred", "obj",
                                                 "prov_doc")
    b = contact_triples(mentions, id_col).select("subj", "pred", "obj",
                                                 "prov_doc")
    return a.unionByName(b)
