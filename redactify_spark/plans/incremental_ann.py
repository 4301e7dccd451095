"""Incremental ANN index maintenance: append vector tranches without
re-hashing old vectors, with EXACT full-rebuild equivalence.

The index is the stored-column form the ANN family queries at scale
(similarity.lsh_topk(sig_col=...) / ivf_topk(cell_col=...)): per vector
a sign-LSH signature and an IVF cell id.  Both are pure functions of
the vector given a FROZEN configuration (hyperplanes are deterministic
by construction; IVF centroids are fitted once on the first tranche and
persisted), so indexing a tranche touches only that tranche's rows and
the accumulated index is byte-identical to a one-shot rebuild over the
union (pytest-gated).

This mirrors the incremental KG (plans/recrawl.py) and incremental
corpus dedup (plans/incremental_corpus.py): per-tranche expensive work,
run_stage manifests/resume per tranche, bounded recompute.

Centroid freeze caveat (standard IVF practice): cells reflect the
first tranche's distribution.  If later tranches drift far enough that
probed-cell recall degrades, re-fit + re-assign IS the full rebuild --
by design, the same trade every production IVF index (FAISS et al.)
makes.

Layout under `root`:
    centroids.json           frozen quantizer (written with tranche 0)
    tranches/<tid>/index/    (vec_id, embedding, sig, cell)
"""

from __future__ import annotations

import json
import os

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from redactify_spark.operators.similarity import (_hyperplanes,
                                                  cell_assign_expr,
                                                  ivf_centroids,
                                                  signature_expr)
from redactify_spark.plans.checkpoint import _union_stage_tables, run_stage


def _centroids_path(root: str) -> str:
    return os.path.join(root, "centroids.json")


def _load_or_fit_centroids(root: str, vectors: DataFrame, n_cells: int,
                           vec_col: str) -> np.ndarray:
    p = _centroids_path(root)
    if os.path.exists(p):
        with open(p) as f:
            return np.asarray(json.load(f), dtype=np.float64)
    cents = ivf_centroids(vectors, n_cells, vec_col)
    os.makedirs(root, exist_ok=True)
    with open(p + ".tmp", "w") as f:
        json.dump([[float(x) for x in row] for row in cents], f)
    os.replace(p + ".tmp", p)
    return cents


def index_tranche(spark: SparkSession, root: str, tranche_id: str,
                  vectors: DataFrame, dim: int,
                  n_planes: int = 13, n_cells: int = 64,
                  vec_col: str = "embedding",
                  id_col: str = "vec_id") -> DataFrame:
    """Index one tranche: stored signature + cell for its vectors only.
    Pass `dim` explicitly (schema metadata) -- no driver-side scan."""
    planes = _hyperplanes(dim, n_planes)
    cents = _load_or_fit_centroids(root, vectors, n_cells, vec_col)

    def _build():
        return (vectors.select(
            F.col(id_col).alias("vec_id"), F.col(vec_col).alias("embedding"),
            signature_expr(F.col(vec_col), planes).alias("sig"),
            cell_assign_expr(F.col(vec_col), cents).alias("cell")))

    return run_stage(spark, os.path.join(root, "tranches", tranche_id),
                     "index", _build)


def full_index(spark: SparkSession, root: str) -> DataFrame:
    """The accumulated index: union of all tranche tables (parquet scan
    union -- no recompute)."""
    return _union_stage_tables(spark, root, "index")


def query_topk(spark: SparkSession, root: str, qvec: list[float],
               k: int = 10, n_planes: int = 13,
               max_probe_hamming: int = 2) -> DataFrame:
    """Bucket-pruned top-k over the accumulated index via the stored
    signature column -- identical results to lsh_topk recomputed inline
    over the full vector set (pytest-gated)."""
    from redactify_spark.operators.similarity import lsh_topk
    return lsh_topk(full_index(spark, root), qvec, k=k, dim=len(qvec),
                    n_planes=n_planes, max_probe_hamming=max_probe_hamming,
                    sig_col="sig")
