"""Entity linking: MinHash-LSH candidate blocking + vectorized scorer.

The reference has no entity linking (each request is independent); the
north_star mandates it for the KG build: near-duplicate surface forms
("Google Inc.", "google", "Googel") must link so canonicalization can
merge them.  Design (SURVEY.md §4.2):

  distinct surfaces -> normalize -> char-2-gram shingles
    -> k MinHash values (numpy, vectorized per Arrow batch)
    -> b bands of r rows; band signature = hash of the band's slice
    -> candidate pairs = self-equi-join on (band_id, band_sig)
    -> exact Jaccard over shingle sets (pandas UDF) -> edges >= threshold

Scale notes:
- The LSH join is an equi-join on the band signature: Catalyst plans a
  shuffle hash join keyed by (band, sig) -- no cross product anywhere.
- Hot buckets (stopword-like surfaces landing thousands of entities in
  one bucket) would go quadratic in the pair expansion; we cap bucket
  width (MAX_BUCKET default 64) and surface the number of dropped
  buckets as a metric instead of silently exploding. AQE skew-join
  handles residual imbalance.
- All hashing is seed-free deterministic (md5/crc of content), so the
  match graph is identical across partitionings and cluster sizes.
"""

from __future__ import annotations

import hashlib
import re
import struct
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.window import Window

N_HASHES = 32
N_BANDS = 16          # 16 bands x 2 rows (typo-tolerant at j>=0.5)
ROWS_PER_BAND = N_HASHES // N_BANDS
MAX_BUCKET = 64       # cap LSH bucket width to bound pair expansion
_MERSENNE = (1 << 61) - 1

# deterministic linear-hash parameters derived from md5 of the index
_A = np.array([int(hashlib.md5(f"a{i}".encode()).hexdigest()[:15], 16) | 1
               for i in range(N_HASHES)], dtype=np.uint64)
_B = np.array([int(hashlib.md5(f"b{i}".encode()).hexdigest()[:15], 16)
               for i in range(N_HASHES)], dtype=np.uint64)


# runs of non-alphanumerics.  re's \w is exactly str.isalnum() plus
# underscore (CPython SRE_UNI_IS_WORD), so [\W_]+ matches precisely the
# characters the old per-char isalnum() loop replaced -- pinned by the
# fuzz-equivalence test against the loop reference.
_NON_ALNUM_RUN = re.compile(r"[\W_]+")


def normalize_surface(s: str) -> str:
    """Lowercase, strip non-alphanumerics to single spaces (pure fn).
    One compiled-regex pass instead of a per-character Python loop
    (~20x on kernel-heavy stages; identical output)."""
    return _NON_ALNUM_RUN.sub(" ", s.lower()).strip()


SHINGLE_K = 2


def shingles(norm: str, k: int = SHINGLE_K) -> set[int]:
    """Character k-gram shingle set, hashed to u64 via md5 prefix."""
    s = f" {norm} "
    if len(s) < k:
        return {int(hashlib.md5(s.encode()).hexdigest()[:15], 16)}
    return {int(hashlib.md5(s[i:i + k].encode()).hexdigest()[:15], 16)
            for i in range(len(s) - k + 1)}


def minhash_signature(sh: set[int]) -> np.ndarray:
    x = np.fromiter(sh, dtype=np.uint64, count=len(sh))
    # (a*x + b) mod p, rowwise min  -> shape (N_HASHES,)
    vals = (np.multiply.outer(_A, x) + _B[:, None]) % _MERSENNE
    return vals.min(axis=1)


def band_signatures(sig: np.ndarray) -> list[int]:
    out = []
    for b in range(N_BANDS):
        chunk = sig[b * ROWS_PER_BAND:(b + 1) * ROWS_PER_BAND]
        h = hashlib.md5(struct.pack(f"<{ROWS_PER_BAND}Q",
                                    *chunk.tolist())).hexdigest()[:15]
        out.append(int(h, 16))
    return out


_BANDS_SCHEMA = T.StructType([
    T.StructField("pseudo_key", T.StringType()),
    T.StructField("norm", T.StringType()),
    T.StructField("band", T.IntegerType()),
    T.StructField("sig", T.LongType()),
])


def surface_bands(entities: DataFrame) -> DataFrame:
    """entities(pseudo_key, surface) -> one row per (entity, band)."""
    def mh(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            keys, norms, bands, sigs = [], [], [], []
            for key, surface in zip(pdf["pseudo_key"], pdf["surface"]):
                norm = normalize_surface(surface or "")
                if not norm:
                    continue
                bs = band_signatures(minhash_signature(shingles(norm)))
                for b, s in enumerate(bs):
                    keys.append(key)
                    norms.append(norm)
                    bands.append(b)
                    # keep within int64
                    sigs.append(s & 0x7FFFFFFFFFFFFFFF)
            yield pd.DataFrame({"pseudo_key": keys, "norm": norms,
                                "band": bands, "sig": sigs})

    return (entities.select("pseudo_key", "surface")
            .dropDuplicates(["pseudo_key"])
            .mapInPandas(mh, schema=_BANDS_SCHEMA))


def candidate_pairs(bands: DataFrame,
                    max_bucket: int = MAX_BUCKET) -> DataFrame:
    """Equi-join each LSH bucket with itself (key1 < key2).

    Buckets wider than max_bucket are dropped (logged via the returned
    metric column is not practical here; use `wide_bucket_count` below).
    """
    sized = bands.withColumn(
        "bucket_n", F.count("*").over(Window.partitionBy("band", "sig")))
    narrow = sized.where(F.col("bucket_n") <= max_bucket).drop("bucket_n")
    left = narrow.select(F.col("band"), F.col("sig"),
                         F.col("pseudo_key").alias("key_a"),
                         F.col("norm").alias("norm_a"))
    right = narrow.select(F.col("band"), F.col("sig"),
                          F.col("pseudo_key").alias("key_b"),
                          F.col("norm").alias("norm_b"))
    return (left.join(right, ["band", "sig"])
            .where(F.col("key_a") < F.col("key_b"))
            .select("key_a", "key_b", "norm_a", "norm_b")
            .dropDuplicates(["key_a", "key_b"]))


def wide_bucket_count(bands: DataFrame,
                      max_bucket: int = MAX_BUCKET) -> int:
    """Metric: LSH buckets dropped by the width cap (no silent caps)."""
    return (bands.groupBy("band", "sig").count()
            .where(F.col("count") > max_bucket).count())


_SCORED_SCHEMA = T.StructType([
    T.StructField("key_a", T.StringType()),
    T.StructField("key_b", T.StringType()),
    T.StructField("jaccard", T.DoubleType()),
])


def score_pairs(pairs: DataFrame) -> DataFrame:
    """Exact shingle-Jaccard similarity, vectorized per Arrow batch."""
    def score(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ka, kb, js = [], [], []
            for a, b, na, nb in zip(pdf["key_a"], pdf["key_b"],
                                    pdf["norm_a"], pdf["norm_b"]):
                sa, sb = shingles(na), shingles(nb)
                inter = len(sa & sb)
                j = inter / (len(sa) + len(sb) - inter) if inter else 0.0
                ka.append(a)
                kb.append(b)
                js.append(j)
            yield pd.DataFrame({"key_a": ka, "key_b": kb, "jaccard": js})

    return pairs.mapInPandas(score, schema=_SCORED_SCHEMA)


LINKABLE_TYPES = ("PERSON", "ORGANIZATION", "LOCATION")


def match_edges(mentions: DataFrame, threshold: float = 0.55) -> DataFrame:
    """Full linking stage: mentions -> match edges (key_a, key_b, jaccard).

    Only keys of the same entity type link: keys encode the type
    ('[PERSON-x]'), so pairs are filtered on the pseudo_key prefix.
    Only name-like types (LINKABLE_TYPES) fuzzy-link: identifier types
    (emails, phones, SSNs) are identity-keyed -- two different
    addresses are different entities no matter how string-similar.
    """
    ents = (mentions.where(F.col("entity_group").isin(*LINKABLE_TYPES))
            .select("pseudo_key", "surface")
            .dropDuplicates(["pseudo_key"]))
    pairs = candidate_pairs(surface_bands(ents)).where(
        F.split(F.col("key_a"), "-").getItem(0)
        == F.split(F.col("key_b"), "-").getItem(0))
    return score_pairs(pairs).where(F.col("jaccard") >= threshold)


def blocked_levenshtein_pairs(df: DataFrame, col: str,
                              max_dist: int = 3,
                              band: int = 4,
                              max_block: int = MAX_BUCKET) -> DataFrame:
    """(name_a, name_b, dist): distinct-value pairs within edit distance
    `max_dist`, candidate-blocked so the quadratic comparison never runs
    corpus-wide -- the exact-edit-distance companion to the entity
    linkage scorer (match_edges' Jaccard handles word reorderings; edit
    distance catches typos).

    Blocking key = (first char, floor(length / band)): two strings at
    edit distance d differ in length by at most d, so with band >= 
    max_dist + 1 a true pair can only miss the block when the FIRST
    character was edited or the lengths straddle a band boundary --
    documented recall bound, standard blocking tradeoff (add a
    second pass keyed on last char for higher recall).  Blocks wider
    than `max_block` are dropped and counted
    (wide_levenshtein_block_count), same contract as the LSH families.
    The join is an equi-join on the block key; levenshtein runs
    JVM-side only within blocks."""
    vals = (df.select(F.col(col).cast("string").alias("v"))
            .where(F.col("v").isNotNull()).distinct())
    blocked = vals.select(
        "v", F.substring("v", 1, 1).alias("_c"),
        F.floor(F.length("v") / band).alias("_lb"))
    sized = blocked.withColumn(
        "_n", F.count("*").over(Window.partitionBy("_c", "_lb")))
    narrow = sized.where(F.col("_n") <= max_block).drop("_n")
    a = narrow.select(F.col("v").alias("name_a"), "_c", "_lb")
    bfr = narrow.select(F.col("v").alias("name_b"), "_c", "_lb")
    return (a.join(bfr, ["_c", "_lb"])
            .where(F.col("name_a") < F.col("name_b"))
            .select("name_a", "name_b",
                    F.levenshtein("name_a", "name_b").alias("dist"))
            .where(F.col("dist") <= max_dist))


def wide_levenshtein_block_count(df: DataFrame, col: str,
                                 band: int = 4,
                                 max_block: int = MAX_BUCKET) -> int:
    """Metric: blocks dropped by blocked_levenshtein_pairs' width cap."""
    vals = (df.select(F.col(col).cast("string").alias("v"))
            .where(F.col("v").isNotNull()).distinct())
    return (vals.groupBy(F.substring("v", 1, 1),
                         F.floor(F.length("v") / band))
            .count().where(F.col("count") > max_block).count())
