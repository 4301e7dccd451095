"""Approximate nearest-neighbor search over embedding columns.

Two paths over `embeddings(vec_id, embedding array<float>, label)`:

- brute_force_topk: exact cosine top-k against a query vector, computed
  natively with F.zip_with + F.aggregate (JVM-side, whole-stage codegen;
  no Python in the loop). This is the correctness baseline and is fine
  up to ~10^7 vectors per query batch.
- lsh_topk: random-hyperplane (sign) LSH bucketing -- probe only the
  buckets matching the query signature, then exact cosine inside.  At
  10^9+ vectors this turns a full scan into a bucket-pruned scan; the
  signature column is precomputable and partition-prunable when the
  table is written bucketed by signature.

Hyperplanes are md5-seeded deterministic, so signatures are stable
across runs/partitionings.
"""

from __future__ import annotations

import hashlib

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

N_PLANES = 12  # default for signature_expr at scale; lsh_topk auto-sizes


def _norm_expr(col):
    return F.sqrt(F.aggregate(col, F.lit(0.0),
                              lambda acc, x: acc + x.cast("double") * x))


def cosine_expr(col, qvec: list[float]):
    """Native cosine similarity between an array column and a literal."""
    q = np.asarray(qvec, dtype=np.float64)
    qn = float(np.sqrt((q * q).sum())) or 1.0
    lit = F.array(*[F.lit(float(x)) for x in qvec])
    dot = F.aggregate(
        F.zip_with(col, lit, lambda a, b: a.cast("double") * b),
        F.lit(0.0), lambda acc, x: acc + x)
    return dot / (_norm_expr(col) * F.lit(qn))


def brute_force_topk(embeddings: DataFrame, qvec: list[float],
                     k: int = 10, vec_col: str = "embedding") -> DataFrame:
    """Exact cosine top-k; deterministic tiebreak on vec_id."""
    return (embeddings
            .select("vec_id", cosine_expr(F.col(vec_col), qvec).alias("cos"))
            .orderBy(F.col("cos").desc(), F.col("vec_id"))
            .limit(k))


def _hyperplanes(dim: int, n_planes: int = N_PLANES,
                 seed: str = "plane") -> np.ndarray:
    """Deterministic pseudo-random hyperplanes (md5 expansion)."""
    rows = []
    for p in range(n_planes):
        vals = []
        i = 0
        while len(vals) < dim:
            h = hashlib.md5(f"{seed}{p}:{i}".encode()).digest()
            for off in range(0, 16, 4):
                vals.append(int.from_bytes(h[off:off + 4], "big")
                            / 2**31 - 1.0)
            i += 1
        rows.append(vals[:dim])
    return np.asarray(rows, dtype=np.float64)


def signature_expr(col, planes: np.ndarray):
    """Sign-LSH signature as a native integer expression: bit p set iff
    dot(vec, plane_p) > 0."""
    sig = F.lit(0).cast("long")
    for p in range(planes.shape[0]):
        lit = F.array(*[F.lit(float(x)) for x in planes[p]])
        dot = F.aggregate(
            F.zip_with(col, lit, lambda a, b: a.cast("double") * b),
            F.lit(0.0), lambda acc, x: acc + x)
        sig = sig + F.when(dot > 0, F.lit(1 << p)).otherwise(F.lit(0))
    return sig


def adaptive_planes(n_vectors: int, target_bucket: int = 64) -> int:
    """Plane count sized so buckets average ~target_bucket vectors: too
    many planes on a small corpus shatters neighbors into empty buckets."""
    import math
    return max(4, min(20, int(math.log2(max(n_vectors, 1) / target_bucket + 1))))


def lsh_topk(embeddings: DataFrame, qvec: list[float], k: int = 10,
             vec_col: str = "embedding", dim: int | None = None,
             n_planes: int | None = None, n_vectors: int | None = None,
             max_probe_hamming: int = 2,
             sig_col: str | None = None) -> DataFrame:
    """Bucket-pruned ANN: scan only buckets whose signature is within
    `max_probe_hamming` bits of the query signature, exact cosine inside.

    `sig_col`: name of a PRECOMPUTED signature column (written with
    signature_expr at ingest, same n_planes).  This is the scale path:
    the probe becomes a pushed-down IN filter on a stored int -- with
    the table sorted/bucketed by signature, parquet row-group stats (or
    Iceberg partition pruning) skip everything outside the probed
    buckets, so a query touches ~probe/2^n_planes of the corpus instead
    of rescanning and re-hashing all of it.  When None the signature is
    computed inline (self-contained, but a full scan per query).

    Sizing: pass `n_planes` (the stored-signature config) or `n_vectors`
    (known corpus size, e.g. from table stats) -- only when BOTH are
    absent does this fall back to a driver-side count(), which is a full
    scan per call and must not be on a hot path at 10^9 rows."""
    dim = dim or len(qvec)
    if n_planes is None:
        n_planes = adaptive_planes(n_vectors if n_vectors is not None
                                   else embeddings.count())
    planes = _hyperplanes(dim, n_planes)
    q = np.asarray(qvec, dtype=np.float64)
    qsig = 0
    for p in range(planes.shape[0]):
        if float(planes[p] @ q) > 0:
            qsig |= (1 << p)
    probe = {qsig}
    if max_probe_hamming >= 1:
        probe |= {qsig ^ (1 << b) for b in range(n_planes)}
    if max_probe_hamming >= 2:
        probe |= {qsig ^ (1 << b) ^ (1 << c)
                  for b in range(n_planes) for c in range(b + 1, n_planes)}
    probe = sorted(probe)
    if sig_col is None:
        sigged = embeddings.withColumn("_sig",
                                       signature_expr(F.col(vec_col), planes))
        sig_col = "_sig"
    else:
        sigged = embeddings
    return (sigged.where(F.col(sig_col).isin(probe))
            .select("vec_id", cosine_expr(F.col(vec_col), qvec).alias("cos"))
            .orderBy(F.col("cos").desc(), F.col("vec_id"))
            .limit(k))


def pairwise_topk_join(embeddings: DataFrame, queries: DataFrame,
                       k: int = 5, vec_col: str = "embedding",
                       n_planes: int | None = None,
                       dim: int | None = None,
                       n_vectors: int | None = None) -> DataFrame:
    """Batch ANN: every query row against the corpus via sign-LSH bucket
    equi-join (query sig == corpus sig), exact cosine re-rank, window
    top-k per query.  The join is an equi-join on the signature -- shuffle
    on a small integer key, never a cross join.

    Pass `dim` and `n_planes`/`n_vectors` when known (schema metadata /
    table stats): the fallbacks below issue a driver-side first()/count()
    per call, fine one-shot but a full scan at 10^9 rows."""
    from pyspark.sql.window import Window
    if dim is None:
        dim = len(embeddings.select(vec_col).first()[0])
    if n_planes is None:
        n_planes = adaptive_planes(n_vectors if n_vectors is not None
                                   else embeddings.count())
    planes = _hyperplanes(dim, n_planes)
    corpus = embeddings.withColumn("_sig",
                                   signature_expr(F.col(vec_col), planes))
    qs = queries.withColumn("_sig", signature_expr(F.col(vec_col), planes)) \
                .select(F.col("vec_id").alias("q_id"),
                        F.col(vec_col).alias("q_vec"), "_sig")
    dot = F.aggregate(
        F.zip_with(F.col(vec_col), F.col("q_vec"),
                   lambda a, b: a.cast("double") * b.cast("double")),
        F.lit(0.0), lambda acc, x: acc + x)
    cos = dot / (_norm_expr(F.col(vec_col)) * _norm_expr(F.col("q_vec")))
    w = Window.partitionBy("q_id").orderBy(F.col("cos").desc(),
                                           F.col("vec_id"))
    return (corpus.join(qs, "_sig")
            .where(F.col("vec_id") != F.col("q_id"))
            .select("q_id", "vec_id", cos.alias("cos"))
            .withColumn("_rk", F.row_number().over(w))
            .where(F.col("_rk") <= k).drop("_rk"))


# --------------------------------------------------------------------------
# IVF (inverted-file) ANN: coarse quantizer + probed cell scan
# --------------------------------------------------------------------------

def ivf_centroids(embeddings: DataFrame, n_cells: int = 16,
                  vec_col: str = "embedding") -> np.ndarray:
    """Deterministic coarse quantizer: centroids = normalized vectors of
    md5-order-sampled rows refined by one Lloyd step over a bounded
    sample.  Seed-free (md5 of vec_id picks the sample), so the cell
    assignment is stable across runs and partitionings.

    At 10^9+ vectors the centroid fit runs on a sample (here: the
    driver-side sample is capped), while ASSIGNMENT stays fully
    distributed -- the expensive part scales, the cheap part doesn't
    need to."""
    sample = (embeddings
              .withColumn("_o", F.md5(F.col("vec_id").cast("string")))
              .orderBy("_o").limit(max(20 * n_cells, 512))
              .select("vec_id", vec_col).collect())
    V = np.array([list(r[1]) for r in sample], dtype=np.float64)
    V = V / np.maximum(np.linalg.norm(V, axis=1, keepdims=True), 1e-12)
    seeds = V[:n_cells].copy()
    # one Lloyd refinement step (deterministic)
    assign = np.argmax(V @ seeds.T, axis=1)
    cents = []
    for c in range(n_cells):
        members = V[assign == c]
        cent = members.mean(axis=0) if len(members) else seeds[c]
        cents.append(cent / max(float(np.linalg.norm(cent)), 1e-12))
    return np.asarray(cents)


def fixed_centroids(dim: int, n_cells: int = 16) -> np.ndarray:
    """Data-independent deterministic quantizer: md5-expanded pseudo-random
    directions, normalized.  At scale the IVF quantizer is trained offline
    and shipped as a constant anyway; a fixed quantizer additionally makes
    the probed-cell query oracle-expressible (the centroid literals can be
    embedded in SQL) and needs no driver-side sample of the table."""
    C = _hyperplanes(dim, n_cells, seed="cent")
    return C / np.maximum(np.linalg.norm(C, axis=1, keepdims=True), 1e-12)


def cell_assign_expr(col, centroids: np.ndarray):
    """Nearest-centroid id as a native expression (argmax of dot
    products) -- no Python in the assignment scan.

    Built as array_position(dots, array_max(dots)) rather than a chain
    of nested WHENs: the WHEN chain duplicates every dot expression at
    each nesting level and blows up the Catalyst tree exponentially in
    the cell count (observed: minutes of planning at 16 cells)."""
    dots = F.array(*[
        F.aggregate(
            F.zip_with(col, F.array(*[F.lit(float(x)) for x in centroids[c]]),
                       lambda a, b: a.cast("double") * b),
            F.lit(0.0), lambda acc, x: acc + x)
        for c in range(centroids.shape[0])])
    # array_position is 1-based; ties resolve to the first (deterministic)
    return (F.array_position(dots, F.array_max(dots)) - 1).cast("int")


def ivf_topk(embeddings: DataFrame, qvec: list[float], k: int = 10,
             n_cells: int = 16, n_probe: int = 4,
             vec_col: str = "embedding",
             centroids: np.ndarray | None = None,
             cell_col: str | None = None) -> DataFrame:
    """IVF ANN: scan only the n_probe cells nearest the query, exact
    cosine inside.  `cell_col` names a PRECOMPUTED cell-id column
    (written with cell_assign_expr at ingest using the same centroids)
    -- the scale path: with the table sorted/partitioned by cell, the
    probe is a pushed-down IN filter and the scan prunes to
    ~n_probe/n_cells of the corpus.  When None the assignment is
    computed inline (full scan per query)."""
    if centroids is None:
        centroids = ivf_centroids(embeddings, n_cells, vec_col)
    q = np.asarray(qvec, dtype=np.float64)
    qn = q / max(float(np.linalg.norm(q)), 1e-12)
    probe = np.argsort(-(centroids @ qn))[:n_probe].tolist()
    if cell_col is None:
        celled = embeddings.withColumn(
            "_cell", cell_assign_expr(F.col(vec_col), centroids))
        cell_col = "_cell"
    else:
        celled = embeddings
    return (celled.where(F.col(cell_col).isin([int(c) for c in probe]))
            .select("vec_id", cosine_expr(F.col(vec_col), qvec).alias("cos"))
            .orderBy(F.col("cos").desc(), F.col("vec_id"))
            .limit(k))


# --- int8 quantization (storage/bandwidth for 100-TB ANN) --------------------

def quantize_embeddings(embeddings: DataFrame,
                        vec_col: str = "embedding",
                        id_col: str = "vec_id",
                        persist: bool = False) -> DataFrame:
    """(id, qvec: array<int8-valued int>, scale): symmetric per-vector
    int8 quantization -- scale = max(|x|)/127, q_i = floor(x_i/scale
    + 0.5) (explicit half-up: Spark round() and DuckDB round() disagree
    on ties, floor(x+0.5) does not).  4x smaller vectors = 4x less scan
    and shuffle bandwidth for the ANN family; cosine is scale-invariant,
    so quantized cosine needs NO dequantization.  Zero-vector rows get
    scale 1.0 (all-zero qvec).

    CollapseProject inlines the scale fold into every output lane
    (O(dim^2) per row).  At dim 64 that is ~4k scalar ops -- cheaper
    than any materialization barrier; for dim >= ~512 pass persist=True
    to stage the scale column once (the doc_minhash_native lesson)."""
    v = F.col(vec_col)
    amax = F.aggregate(v, F.lit(0.0),
                       lambda acc, x: F.greatest(acc, F.abs(x.cast("double"))))
    scale = F.when(amax > 0.0, amax / F.lit(127.0)).otherwise(F.lit(1.0))
    staged = embeddings.select(F.col(id_col).alias("vec_id"),
                               v.alias("_v"), scale.alias("_scale"))
    if persist:
        # lazy localCheckpoint barrier, GC-scoped (see dedup.py)
        staged = staged.localCheckpoint(eager=False)
    qvec = F.transform(
        F.col("_v"), lambda x: F.floor(x.cast("double") / F.col("_scale")
                                       + 0.5).cast("int"))
    return staged.select("vec_id", qvec.alias("qvec"),
                         F.col("_scale").alias("scale"))
