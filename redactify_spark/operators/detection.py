"""Spark detection stage: documents -> mentions table.

The reference fans each text out to seven detectors over threads +
JSON-RPC microservices (server/detection_engine.py:227-274).  Here the
whole detector union runs INSIDE one ``mapInPandas`` pass: one scan of
the input, Arrow-batched into pandas, each batch expanded to mention
rows by the pure kernel (redactify_spark.detect.kernel).  No per-row
Python at the Spark level, no RPC tier, no second scan -- per-document
"concurrency" is partition parallelism.  Both stages here run
``kernel.detect_batch`` on each batch, so a document whose detection
raises gets no mentions instead of failing the task.

Output mention schema (SURVEY.md §1.3):
  <id col>, entity_group, start, end, score, detector, surface, pseudo_key
where pseudo_key = '[TYPE-' || md5(surface) || ']' -- the reference's
A1 pseudonym (server/anonymization_engine.py:229-242) with the full
hash, the stable join key for linking/canonicalization.
"""

from __future__ import annotations

import hashlib
from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

MENTION_FIELDS = [
    T.StructField("entity_group", T.StringType()),
    T.StructField("start", T.IntegerType()),
    T.StructField("end", T.IntegerType()),
    T.StructField("score", T.DoubleType()),
    T.StructField("detector", T.StringType()),
    T.StructField("surface", T.StringType()),
    T.StructField("pseudo_key", T.StringType()),
]


def _pseudo_key(surface: str, etype: str) -> str:
    """Stable KG mention key: [TYPE-md5(surface)].

    Uses the FULL md5, not A1's 6-hex prefix: the anonymization pseudonym
    (anonymize.pseudonymize_value, reference parity) keeps 6 hex chars,
    but 6 hex = 16.7M keys per type -- at 10^9+ distinct surfaces,
    prefix collisions would silently merge unrelated entities in the
    graph.  The A1 pseudonym remains derivable from this key (its first
    6 hash chars)."""
    h = hashlib.md5(surface.encode("utf-8")).hexdigest()
    return f"[{etype.upper()}-{h}]"


def detect_mentions(df: DataFrame,
                    id_col: str = "doc_id",
                    text_col: str = "text",
                    max_text_len: int | None = None) -> DataFrame:
    """Run the full reference detector chain over ``df[text_col]``.

    Returns one row per post-processed mention, keyed by ``id_col``.
    Executors import the kernel module once per python worker (pattern
    compilation amortized across all batches -- mirrors the reference's
    startup-time compile, server/detection_engine.py:124-153).

    ``max_text_len``: operational guard for web-scale corpora -- a
    multi-hundred-MB adversarial page would otherwise stall one task in
    the regex kernel and blow the Arrow batch size (maxRecordsPerBatch
    counts rows, not bytes).  When set, texts are truncated to the first
    ``max_text_len`` characters BEFORE detection (spans stay valid:
    offsets index the truncated text which is a prefix of the
    original).  Default None preserves exact reference semantics."""
    out_schema = T.StructType(
        [T.StructField(id_col, df.schema[id_col].dataType)]
        + MENTION_FIELDS)

    def scan(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        # import inside the task so the worker compiles patterns once
        from redactify_spark.detect import kernel

        for pdf in batches:
            rows = pdf[text_col].tolist()
            if max_text_len is not None:
                rows = [(t or "")[:max_text_len] for t in rows]
            rec: dict[str, list] = {f.name: [] for f in out_schema.fields}
            for doc_id, ms in zip(pdf[id_col].tolist(),
                                  kernel.detect_batch(rows)):
                for m in ms:
                    surface = m.get("entity_text", "")
                    etype = m["entity_group"]
                    rec[id_col].append(doc_id)
                    rec["entity_group"].append(etype)
                    rec["start"].append(m["start"])
                    rec["end"].append(m["end"])
                    rec["score"].append(float(m["score"]))
                    rec["detector"].append(m.get("detector", "unknown"))
                    rec["surface"].append(surface)
                    rec["pseudo_key"].append(_pseudo_key(surface, etype))
            yield pd.DataFrame(rec)

    from redactify_spark.operators.partitioning import spread_for_cpu
    sel = spread_for_cpu(df.select(id_col, text_col), id_col)
    return sel.mapInPandas(scan, schema=out_schema)


def anonymize_documents(df: DataFrame,
                        id_col: str = "doc_id",
                        text_col: str = "text",
                        strategy: str = "pseudonymize") -> DataFrame:
    """Detection + splice rewrite in a single pass: returns
    (id, anonymized_text, n_entities).  Mirrors POST /anonymize
    (server/server.py:133-222) with every entity type on and the
    reference's default preserve_format=True."""
    id_field = df.schema[id_col]
    out_schema = T.StructType([
        T.StructField(id_col, id_field.dataType),
        T.StructField("anonymized_text", T.StringType()),
        T.StructField("n_entities", T.IntegerType()),
    ])

    def rewrite(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from redactify_spark.detect import anonymize as anon
        from redactify_spark.detect import kernel

        for pdf in batches:
            texts = [t or "" for t in pdf[text_col].tolist()]
            found = kernel.detect_batch(texts)
            yield pd.DataFrame({
                id_col: pdf[id_col].tolist(),
                "anonymized_text": anon.anonymize_batch(texts, found,
                                                        strategy),
                "n_entities": [len(ms) for ms in found]})

    return df.select(id_col, text_col).mapInPandas(rewrite, schema=out_schema)


def mention_contexts(mentions: DataFrame, pages: DataFrame,
                     id_col: str = "doc_id", text_col: str = "text",
                     window_chars: int = 48) -> DataFrame:
    """NER fine-tuning data export: each mention with +/- window_chars
    of surrounding text and the span position WITHIN that context (so a
    token-classification trainer can build BIO labels directly).

    One equi-join back to the pages table (mentions carry only offsets,
    not text -- the join pays for context exactly once, at export time)
    plus native substring arithmetic; no Python.  Output columns
    ctx_start/ctx_end are 0-based within `context`, i.e.
    context[ctx_start:ctx_end] == surface (pytest-pinned)."""
    m = mentions.select(id_col, "entity_group", "surface", "start", "end")
    p = pages.select(id_col, F.col(text_col).alias("_text"))
    c0 = F.greatest(F.col("start") - window_chars, F.lit(0))
    c1 = F.least(F.col("end") + window_chars, F.length("_text"))
    return (m.join(p, id_col)
            .select(id_col, "entity_group", "surface",
                    F.col("_text").substr(c0 + 1, c1 - c0).alias("context"),
                    (F.col("start") - c0).cast("int").alias("ctx_start"),
                    (F.col("end") - c0).cast("int").alias("ctx_end")))
