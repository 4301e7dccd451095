"""Document deduplication operators for large-scale training-data pipelines.

Four families, all over `documents(doc_id, text, ...)`:

- exact:    hash-groupBy on md5(text) (one shuffle, map-side combinable)
- minhash:  shingle -> MinHash -> banded LSH -> bucket-join -> verified
            Jaccard -> connected components -> keep min doc_id per cluster
- simhash:  64-bit SimHash over tokens; near-dup = hamming distance <= k,
            blocked by 4x16-bit bands (each a shuffle-friendly equi-join)
- ngram:    exact n-gram Jaccard verification (used as the verifier for
            both LSH families; also standalone for small blocks)

Scale: every candidate generation step is an equi-join on a band/bucket
key -- never a cross join.  The bucket-width cap from linking.py applies
(boilerplate-heavy corpora put millions of docs in one bucket; capped
buckets are counted, not silently exploded).
"""

from __future__ import annotations

import hashlib
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.window import Window

from redactify_spark.operators.linking import (MAX_BUCKET,
                                               minhash_signature,
                                               normalize_surface,
                                               band_signatures)
from redactify_spark.operators.partitioning import spread_for_cpu

MAX_NGRAM_BLOCK = 1024  # quadratic-pair cap per block (C(1024,2) ~ 500k)
PAIR_SPLIT = 8  # pair-space split: join parallelism = n_blocks * PAIR_SPLIT


# --- exact dedup -----------------------------------------------------------

def dedup_exact(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Keep the min-doc_id representative of each exact-content group."""
    w = Window.partitionBy(F.md5(F.col(text_col))).orderBy("doc_id")
    return (docs.withColumn("_rn", F.row_number().over(w))
            .where(F.col("_rn") == 1).drop("_rn"))


# --- word-shingle MinHash dedup ---------------------------------------------

_DOC_BANDS_SCHEMA = T.StructType([
    T.StructField("doc_id", T.LongType()),
    T.StructField("band", T.IntegerType()),
    T.StructField("sig", T.LongType()),
])


def _word_shingles(text: str, k: int = 3) -> set[int]:
    # int.from_bytes(digest[:8]) >> 4 == int(hexdigest()[:15], 16): the
    # first 60 bits either way, without building/parsing a hex string
    # (pinned by the fuzz-equivalence test).
    md5 = hashlib.md5
    words = normalize_surface(text).split()
    if len(words) < k:
        joined = " ".join(words)
        return {int.from_bytes(md5(joined.encode()).digest()[:8],
                               "big") >> 4}
    return {int.from_bytes(md5(" ".join(words[i:i + k]).encode())
                           .digest()[:8], "big") >> 4
            for i in range(len(words) - k + 1)}


def doc_minhash_bands(docs: DataFrame, text_col: str = "text",
                      k: int = 3) -> DataFrame:
    def mh(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, bands, sigs = [], [], []
            for doc_id, text in zip(pdf["doc_id"], pdf[text_col]):
                sh = _word_shingles(text or "", k)
                for b, s in enumerate(band_signatures(minhash_signature(sh))):
                    ids.append(int(doc_id))
                    bands.append(b)
                    sigs.append(s & 0x7FFFFFFFFFFFFFFF)
            yield pd.DataFrame({"doc_id": ids, "band": bands, "sig": sigs})

    # a single-file corpus scan is ONE partition -> the kernel pass runs
    # on one core; spread it (no-op on well-partitioned inputs)
    sel = spread_for_cpu(docs.select("doc_id", text_col), "doc_id")
    return sel.mapInPandas(mh, schema=_DOC_BANDS_SCHEMA)


def minhash_candidates(bands: DataFrame,
                       max_bucket: int = MAX_BUCKET) -> DataFrame:
    sized = bands.withColumn(
        "n", F.count("*").over(Window.partitionBy("band", "sig")))
    # lazy RDD barrier: the self-join consumes this twice (otherwise
    # the Python banding kernel runs once per side).  localCheckpoint,
    # not persist -- a plan-keyed cache would be silently reused by a
    # later invocation over a rewritten source table (incremental
    # corpus refreshes), and would let warm bench trials skip the
    # banding kernel instead of recomputing it
    narrow = (sized.where(F.col("n") <= max_bucket).drop("n")
              .localCheckpoint(eager=False))
    a = narrow.select("band", "sig", F.col("doc_id").alias("id_a"))
    b = narrow.select("band", "sig", F.col("doc_id").alias("id_b"))
    return (a.join(b, ["band", "sig"])
            .where(F.col("id_a") < F.col("id_b"))
            .select("id_a", "id_b").dropDuplicates(["id_a", "id_b"]))


_DOC_SHINGLES_SCHEMA = T.StructType([
    T.StructField("doc_id", T.LongType()),
    T.StructField("sh", T.ArrayType(T.LongType())),
])


def _doc_shingle_sets(docs: DataFrame, text_col: str, k: int) -> DataFrame:
    """(doc_id, sh): each doc's word-shingle hash set as a sorted array
    -- computed ONCE per doc (the old verify re-shingled both texts for
    every candidate pair the doc appeared in)."""
    def sh(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield pd.DataFrame({
                "doc_id": pdf["doc_id"].astype("int64"),
                "sh": [sorted(_word_shingles(t or "", k))
                       for t in pdf[text_col]],
            })

    sel = spread_for_cpu(docs.select("doc_id", text_col), "doc_id")
    return sel.mapInPandas(sh, schema=_DOC_SHINGLES_SCHEMA)


def verify_jaccard(pairs: DataFrame, docs: DataFrame,
                   text_col: str = "text", k: int = 3) -> DataFrame:
    """Exact word-shingle Jaccard per candidate pair.

    Shingles each doc that appears in >=1 pair exactly once (Python
    kernel pass over the docs-in-pairs subset), then verifies natively:
    |a n b| via array_intersect in whole-stage codegen.  Same hash sets
    -> same integer cardinalities -> bit-identical double division."""
    ids = (pairs.select(F.col("id_a").alias("doc_id"))
           .unionByName(pairs.select(F.col("id_b").alias("doc_id")))
           .distinct())
    need = docs.select("doc_id", text_col).join(ids, "doc_id")
    sh = _doc_shingle_sets(need, text_col, k)
    a = sh.select(F.col("doc_id").alias("id_a"), F.col("sh").alias("_sh_a"))
    b = sh.select(F.col("doc_id").alias("id_b"), F.col("sh").alias("_sh_b"))
    inter = F.size(F.array_intersect("_sh_a", "_sh_b"))
    denom = F.size("_sh_a") + F.size("_sh_b") - inter
    return (pairs.join(a, "id_a").join(b, "id_b")
            .select("id_a", "id_b",
                    F.when(inter > 0,
                           inter.cast("double") / denom.cast("double"))
                    .otherwise(F.lit(0.0)).alias("jaccard")))


def minhash_dup_pairs(docs: DataFrame, text_col: str = "text",
                      threshold: float = 0.7, k: int = 3) -> DataFrame:
    bands = doc_minhash_bands(docs, text_col, k)
    # verify consumes the pair table three times (two shingle joins +
    # the ids subset); cut its lineage so the banding kernel + LSH join
    # run once, not three times
    cands = minhash_candidates(bands).localCheckpoint(eager=False)
    return (verify_jaccard(cands, docs, text_col, k)
            .where(F.col("jaccard") >= threshold))


def dedup_minhash(docs: DataFrame, text_col: str = "text",
                  threshold: float = 0.7,
                  engine: str = "python") -> DataFrame:
    """Cluster near-dups (connected components over dup pairs) and keep the
    min-doc_id representative per cluster.

    engine="python" (default, reference-parity kernel) or "native"
    (minhash_native_pairs: zero-Python banded LSH + exact gram-set
    Jaccard verify -- the production path at corpus scale, ~10x the
    kernel's throughput since shingling stays in whole-stage codegen)."""
    from redactify_spark.operators.components import connected_components
    if engine == "native":
        pairs = minhash_native_pairs(docs, text_col, threshold)
    elif engine == "python":
        pairs = minhash_dup_pairs(docs, text_col, threshold)
    else:
        raise ValueError(f"unknown engine {engine!r}")
    comp = connected_components(
        pairs.select(F.col("id_a").cast("string").alias("key_a"),
                     F.col("id_b").cast("string").alias("key_b")))
    rep = (comp.groupBy("component")
           .agg(F.min(F.col("node").cast("long")).alias("keep_id")))
    drop = (comp.join(rep, "component")
            .where(F.col("node").cast("long") != F.col("keep_id"))
            .select(F.col("node").cast("long").alias("doc_id")))
    return docs.join(drop, "doc_id", "left_anti")


# --- SimHash ----------------------------------------------------------------

_SIMHASH_SCHEMA = T.StructType([
    T.StructField("doc_id", T.LongType()),
    T.StructField("simhash", T.LongType()),
])


def simhash64(text: str) -> int:
    """64-bit SimHash over whitespace tokens (md5-derived token hashes)."""
    v = np.zeros(64, dtype=np.int64)
    for tok in normalize_surface(text).split():
        h = int(hashlib.md5(tok.encode()).hexdigest()[:16], 16)
        bits = np.unpackbits(
            np.frombuffer(h.to_bytes(8, "big"), dtype=np.uint8))
        v += np.where(bits.astype(np.int64) == 1, 1, -1)
    out = 0
    for i, x in enumerate(v):
        if x > 0:
            out |= (1 << (63 - i))
    return out - (1 << 64) if out >= (1 << 63) else out  # signed int64


def doc_simhash(docs: DataFrame, text_col: str = "text") -> DataFrame:
    def sh(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield pd.DataFrame({
                "doc_id": pdf["doc_id"].astype("int64"),
                "simhash": [simhash64(t or "") for t in pdf[text_col]],
            })

    return spread_for_cpu(docs.select("doc_id", text_col),
                          "doc_id").mapInPandas(
        sh, schema=_SIMHASH_SCHEMA)


def simhash_dup_pairs(docs: DataFrame, text_col: str = "text",
                      max_hamming: int = 3) -> DataFrame:
    """Near-dup pairs by SimHash: block on each of the four 16-bit bands
    (a pair within hamming<=3 must agree exactly on >=1 band), then verify
    hamming distance natively with bit_count(xor)."""
    sh = doc_simhash(docs, text_col)
    banded = sh.select(
        "doc_id", "simhash",
        F.explode(F.array(*[
            F.struct(F.lit(i).alias("band"),
                     F.shiftrightunsigned(F.col("simhash"), i * 16)
                     .bitwiseAND(F.lit(0xFFFF)).alias("bits"))
            for i in range(4)])).alias("bb")) \
        .select("doc_id", "simhash", F.col("bb.band").alias("band"),
                F.col("bb.bits").alias("bits"))
    a = banded.select("band", "bits", F.col("doc_id").alias("id_a"),
                      F.col("simhash").alias("sh_a"))
    b = banded.select("band", "bits", F.col("doc_id").alias("id_b"),
                      F.col("simhash").alias("sh_b"))
    return (a.join(b, ["band", "bits"])
            .where(F.col("id_a") < F.col("id_b"))
            .select("id_a", "id_b",
                    F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b")))
                    .alias("hamming"))
            .dropDuplicates(["id_a", "id_b"])
            .where(F.col("hamming") <= max_hamming))


# --- fully-native SimHash (oracle-expressible, zero Python) -----------------

SIMHASH_NATIVE_BITS = 60   # 15 md5 hex chars -> fits signed int64
SIMHASH_NATIVE_BANDS = 4   # 4 x 15-bit blocking bands


def _native_tokens(text_col):
    """ASCII-normalized whitespace tokens as a native expression.

    NB: the Python kernel's normalize_surface is unicode-aware
    (str.isalnum); this native path normalizes with an ASCII character
    class -- identical on ASCII corpora, the documented difference on
    unicode.  Both engines (Spark / DuckDB) share the regex semantics,
    which is what makes the operator oracle-checkable."""
    norm = F.trim(F.regexp_replace(F.lower(text_col), "[^a-z0-9]+", " "))
    return F.when(norm == "", F.array().cast("array<string>")) \
            .otherwise(F.split(norm, " "))


def doc_simhash_native(docs: DataFrame, text_col: str = "text",
                       n_bits: int = SIMHASH_NATIVE_BITS,
                       persist: bool = True) -> DataFrame:
    """SimHash computed ENTIRELY with native expressions: token hash =
    first 15 md5 hex chars as int64 (conv base 16), per-bit majority of
    +/-1 via one array fold per bit.  No Python anywhere: one md5 pass
    per token, whole-stage codegen end to end.  The scale path next to
    the Python-kernel doc_simhash (q37), and DuckDB-mirrorable.

    The token-hash pass is persisted before the 60 bit-folds: without the
    barrier, CollapseProject inlines the md5 transform into every fold
    (a 60x recompute of the hashing pass), and the single-file local scan
    gives the folds one task.  At warehouse scale pass persist=False and
    checkpoint the signature table instead."""
    spark = docs.sparkSession
    n_parts = spark.sparkContext.defaultParallelism
    hashes = F.transform(
        _native_tokens(F.col(text_col)),
        lambda t: F.conv(F.substring(F.md5(t), 1, 15), 16, 10).cast("long"))
    hs = (docs.repartition(n_parts, "doc_id")
          .select("doc_id", hashes.alias("_hs")))
    if persist:
        # lazy localCheckpoint: same Catalyst barrier + compute-once as
        # persist(), but storage is GC-scoped (freed when the frame is
        # collected) instead of leaking until clearCache (ADVICE r2)
        hs = hs.localCheckpoint(eager=False)
    sig = F.lit(0).cast("long")
    for b in range(n_bits):
        vote = F.aggregate(
            F.col("_hs"), F.lit(0).cast("long"),
            lambda acc, h: acc + (F.shiftright(h, b).bitwiseAND(F.lit(1))
                                  * 2 - 1))
        sig = sig + F.when(vote > 0, F.lit(1 << b)).otherwise(F.lit(0))
    out = hs.select("doc_id", sig.alias("simhash"))
    if persist:
        out = out.localCheckpoint(eager=False)
    return out


def simhash_native_pairs(docs: DataFrame, text_col: str = "text",
                         max_hamming: int = 10,
                         n_bits: int = SIMHASH_NATIVE_BITS,
                         n_bands: int = SIMHASH_NATIVE_BANDS) -> DataFrame:
    """Near-dup pairs over the native SimHash: band blocking (equi-join
    on 15-bit band slices) + native bit_count(xor) hamming verify."""
    width = n_bits // n_bands
    mask = (1 << width) - 1
    sh = doc_simhash_native(docs, text_col, n_bits)
    banded = sh.select(
        "doc_id", "simhash",
        F.explode(F.array(*[
            F.struct(F.lit(i).alias("band"),
                     F.shiftrightunsigned(F.col("simhash"), i * width)
                     .bitwiseAND(F.lit(mask)).alias("bits"))
            for i in range(n_bands)])).alias("bb")) \
        .select("doc_id", "simhash", F.col("bb.band").alias("band"),
                F.col("bb.bits").alias("bits"))
    a = banded.select("band", "bits", F.col("doc_id").alias("id_a"),
                      F.col("simhash").alias("sh_a"))
    b = banded.select("band", "bits", F.col("doc_id").alias("id_b"),
                      F.col("simhash").alias("sh_b"))
    return (a.join(b, ["band", "bits"])
            .where(F.col("id_a") < F.col("id_b"))
            .select("id_a", "id_b",
                    F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b")))
                    .alias("hamming"))
            .dropDuplicates(["id_a", "id_b"])
            .where(F.col("hamming") <= max_hamming))


# --- fully-native MinHash-LSH (oracle-expressible, zero Python) --------------

MINHASH_P = (1 << 31) - 1      # Mersenne prime 2^31-1: a*g+b < 2^62, int64-safe
MINHASH_NATIVE_HASHES = 32
MINHASH_NATIVE_BANDS = 16      # 16 bands x 2 rows: P(candidate|j=0.5) ~ 0.99

# deterministic linear-hash parameters (md5 of the index, like linking._A/_B
# but reduced mod 2^31-1 so every product stays inside a signed int64 in
# BOTH engines -- the property that makes this variant oracle-expressible)
_MH_A = [(int(hashlib.md5(f"a{i}".encode()).hexdigest()[:15], 16)
          % MINHASH_P) | 1 for i in range(MINHASH_NATIVE_HASHES)]
_MH_B = [int(hashlib.md5(f"b{i}".encode()).hexdigest()[:15], 16)
         % MINHASH_P for i in range(MINHASH_NATIVE_HASHES)]


def _native_word_gram_hashes(tokens_col, k: int = 3):
    """Distinct word-k-shingle hashes (from a TOKEN-ARRAY column) as
    int64 < 2^31-1, entirely native.

    Gram hash = first 15 md5 hex chars mod (2^31-1): md5 is the one hash
    both Spark and DuckDB evaluate identically, and reducing mod the
    Mersenne prime keeps the downstream (a*g + b) % p arithmetic inside
    int64 on both engines.  Documents with < k words contribute the single
    joined-token gram (matching _word_shingles / the q44 oracle).

    PERF: the column MUST hold already-materialized tokens (see
    _stored_tokens).  Handing a raw tokenizer expression makes Catalyst
    inline it into EVERY per-position slice -- an O(words^2)
    re-tokenization measured at 10x the entire signature pass
    (59 s -> 6 s on 50k docs)."""
    toks = tokens_col
    gstr = F.when(
        F.size(toks) < k, F.array(F.array_join(toks, " "))
    ).otherwise(F.array_distinct(F.transform(
        F.sequence(F.lit(1), F.size(toks) - (k - 1)),
        lambda i: F.array_join(F.slice(toks, i, k), " "))))
    return F.array_distinct(F.transform(
        gstr, lambda s: F.pmod(
            F.conv(F.substring(F.md5(s), 1, 15), 16, 10).cast("long"),
            F.lit(MINHASH_P))))


def _stored_tokens(docs: DataFrame, text_col: str, keep: list[str],
                   tokens=None):
    """`keep` columns + `_toks` (normalized word tokens by default),
    materialized behind a lazy localCheckpoint barrier so downstream
    per-position gram slices read the STORED array instead of
    re-running the tokenizer once per position (the CollapseProject
    inlining trap -- the barrier is the documented counter-measure,
    GC-scoped like every other lazy checkpoint here)."""
    toks = tokens if tokens is not None else _native_tokens(F.col(text_col))
    return docs.select(*keep, toks.alias("_toks")) \
               .localCheckpoint(eager=False)


def doc_minhash_native(docs: DataFrame, text_col: str = "text",
                       k: int = 3,
                       n_hashes: int = MINHASH_NATIVE_HASHES,
                       persist: bool = True) -> DataFrame:
    """(doc_id, gh, sig): MinHash signature computed ENTIRELY with native
    expressions -- sig[i] = min over gram hashes g of (a_i*g + b_i) mod p.

    Zero Python: one md5 pass per gram, then n_hashes array folds.  The
    scale path next to the Python-kernel doc_minhash_bands (q36), and
    DuckDB-mirrorable (the oracle unrolls the same math over unnest +
    group-by).  `gh` (the distinct gram-hash set) is kept so the verify
    stage reuses it without re-hashing.

    Materialization matters here: CollapseProject would inline the
    md5-gram expression into every one of the n_hashes folds (an
    n_hashes-fold recompute of the hashing pass -- measured 15x slower),
    and the pairs consumer reads the signatures three times (band
    explode + both verify sides).  So the gram pass is persisted before
    the folds, and the signature frame is persisted for its consumers.
    At warehouse scale `persist=False` and write the signatures to a
    table instead (the checkpoint pattern of plans/checkpoint.py);
    signatures are ~100 bytes/doc, far smaller than the corpus."""
    spark = docs.sparkSession
    n_parts = spark.sparkContext.defaultParallelism
    a_lit = F.array(*[F.lit(a) for a in _MH_A[:n_hashes]])
    b_lit = F.array(*[F.lit(b) for b in _MH_B[:n_hashes]])
    stored = _stored_tokens(docs.repartition(n_parts, "doc_id"),
                            text_col, keep=["doc_id"])
    gh = stored.select(
        "doc_id", _native_word_gram_hashes(F.col("_toks"), k).alias("gh"))
    if persist:
        # lazy localCheckpoint barrier, GC-scoped (see doc_simhash_native)
        gh = gh.localCheckpoint(eager=False)
    sig = F.transform(
        F.sequence(F.lit(0), F.lit(n_hashes - 1)),
        lambda i: F.array_min(F.transform(
            F.col("gh"),
            lambda g: F.pmod(F.element_at(a_lit, i + 1) * g
                             + F.element_at(b_lit, i + 1),
                             F.lit(MINHASH_P)))))
    out = gh.select("doc_id", "gh", sig.alias("sig"))
    if persist:
        out = out.localCheckpoint(eager=False)
    return out


def wide_minhash_bucket_count(docs: DataFrame, text_col: str = "text",
                              k: int = 3,
                              n_hashes: int = MINHASH_NATIVE_HASHES,
                              n_bands: int = MINHASH_NATIVE_BANDS,
                              max_bucket: int = MAX_BUCKET) -> int:
    """Metric: LSH buckets dropped by the width cap (no silent caps).
    Takes the same (n_hashes, n_bands) as minhash_native_pairs and
    applies the same guard, so the metric can never silently read NULL
    band values past the end of the signature."""
    if n_hashes < 2 * n_bands:
        raise ValueError(
            f"n_hashes={n_hashes} must be >= 2*n_bands={2 * n_bands}")
    # persist=False: the metric consumes the signatures in one action,
    # caching them would only leak executor storage
    bands = _minhash_native_bands(
        doc_minhash_native(docs, text_col, k, n_hashes, persist=False),
        n_bands)
    return (bands.groupBy("band", "v0", "v1").count()
            .where(F.col("count") > max_bucket).count())


def _minhash_native_bands(sigs: DataFrame, n_bands: int) -> DataFrame:
    """(doc_id, band, v0, v1): one row per 2-row LSH band."""
    return sigs.select(
        "doc_id",
        F.explode(F.array(*[
            F.struct(F.lit(b).alias("band"),
                     F.element_at("sig", 2 * b + 1).alias("v0"),
                     F.element_at("sig", 2 * b + 2).alias("v1"))
            for b in range(n_bands)])).alias("bb")) \
        .select("doc_id", "bb.band", "bb.v0", "bb.v1")


def minhash_native_pairs(docs: DataFrame, text_col: str = "text",
                         threshold: float = 0.5, k: int = 3,
                         n_hashes: int = MINHASH_NATIVE_HASHES,
                         n_bands: int = MINHASH_NATIVE_BANDS,
                         max_bucket: int = MAX_BUCKET) -> DataFrame:
    """Near-dup pairs by fully-native MinHash-LSH: banded signature
    equi-join for candidates, exact gram-set Jaccard verify -- the same
    shape as minhash_dup_pairs but with zero Python, so a DuckDB oracle
    checks the whole family end to end (q54).

    Scale shape (unchanged from the Python family):
    - candidates come from an equi-join on (band, v0, v1) -- never a
      cross join, no blocking column required (this is what replaces the
      per-`source` blocks of the quadratic Jaccard operators).
    - buckets wider than `max_bucket` are dropped BEFORE the pair
      expansion (count-over-window, same cap as linking.candidate_pairs);
      surface the count via wide_minhash_bucket_count.
    - verify joins the stored distinct gram-hash sets back by id (two
      hash joins) and computes |intersect| / |union| natively."""
    if n_hashes < 2 * n_bands:
        # element_at past the signature returns NULL (non-ANSI): bands
        # would silently never join.  Fail loudly instead.
        raise ValueError(
            f"n_hashes={n_hashes} must be >= 2*n_bands={2 * n_bands}")
    sigs = doc_minhash_native(docs, text_col, k, n_hashes)
    bands = _minhash_native_bands(sigs, n_bands)
    sized = bands.withColumn(
        "_n", F.count("*").over(Window.partitionBy("band", "v0", "v1")))
    narrow = sized.where(F.col("_n") <= max_bucket).drop("_n")
    a = narrow.select("band", "v0", "v1", F.col("doc_id").alias("id_a"))
    b = narrow.select("band", "v0", "v1", F.col("doc_id").alias("id_b"))
    cands = (a.join(b, ["band", "v0", "v1"])
             .where(F.col("id_a") < F.col("id_b"))
             .select("id_a", "id_b").dropDuplicates(["id_a", "id_b"]))
    ga = sigs.select(F.col("doc_id").alias("id_a"), F.col("gh").alias("g_a"))
    gb = sigs.select(F.col("doc_id").alias("id_b"), F.col("gh").alias("g_b"))
    inter = F.size(F.array_intersect("g_a", "g_b"))
    union = F.size("g_a") + F.size("g_b") - inter
    return (cands.join(ga, "id_a").join(gb, "id_b")
            .select("id_a", "id_b",
                    (inter.cast("double") / union).alias("jaccard"))
            .where(F.col("jaccard") >= threshold))


# --- fully-native word-shingle Jaccard (the minhash VERIFY semantics) --------

def word_jaccard_pairs_native(docs: DataFrame, text_col: str = "text",
                              k: int = 3, block_col: str = "source",
                              threshold: float = 0.3,
                              max_block: int = MAX_NGRAM_BLOCK,
                              pair_split: int = PAIR_SPLIT) -> DataFrame:
    """Word-k-shingle Jaccard between documents within a block, fully
    native.  This is the verify-stage semantics of minhash_dup_pairs
    (Jaccard over word shingles; hashing the shingles only compresses
    them -- Jaccard over the strings is the same number up to hash
    collisions), expressed so a DuckDB oracle can check it exactly.
    Shingles are xxhash64-compressed and the join uses the same
    pair-space split + block-width cap as ngram_jaccard_pairs_native."""
    grams = _word_gram_frame(docs, text_col, k, block_col, max_block)
    return _blocked_jaccard_join(grams, threshold, pair_split)


def _word_gram_frame(docs: DataFrame, text_col: str, k: int,
                     block_col: str, max_block: int) -> DataFrame:
    """(doc_id, _block, grams): distinct xxhash64-compressed word-k-gram
    sets, block-capped -- shared by the Jaccard and containment verifies."""
    spark = docs.sparkSession
    docs = docs.repartition(spark.sparkContext.defaultParallelism, block_col)
    sized = docs.withColumn(
        "_block_n", F.count("*").over(Window.partitionBy(block_col)))
    docs = sized.where(F.col("_block_n") <= max_block).drop("_block_n")
    stored = _stored_tokens(docs, text_col, keep=["doc_id", block_col])
    toks = F.col("_toks")
    sh = F.when(
        F.size(toks) < k,
        F.array(F.xxhash64(F.array_join(toks, " ")))
    ).otherwise(
        F.array_distinct(F.transform(
            F.sequence(F.lit(1), F.size(toks) - (k - 1)),
            lambda i: F.xxhash64(F.array_join(F.slice(toks, i, k), " ")))))
    return stored.select(F.col("doc_id"), F.col(block_col).alias("_block"),
                         sh.alias("grams"))


def word_containment_pairs_native(docs: DataFrame, text_col: str = "text",
                                  k: int = 3, block_col: str = "source",
                                  threshold: float = 0.8,
                                  max_block: int = MAX_NGRAM_BLOCK,
                                  pair_split: int = PAIR_SPLIT) -> DataFrame:
    """(id_a, id_b, cont_a, cont_b): ASYMMETRIC n-gram containment
    C(X, Y) = |X ∩ Y| / |X| for both directions, keeping pairs where
    either direction >= threshold.  Catches a document quoted or
    embedded inside a larger one -- the case symmetric Jaccard
    structurally misses (the union is dominated by the larger doc, so
    J stays low however complete the overlap).  Lee et al. 2022's
    substring-dedup motivation, at document granularity.

    Same scale shape as word_jaccard_pairs_native (blocked equi-join,
    width cap, pair-space split) MINUS the size-ratio prune: a
    containment match is precisely the size-asymmetric case the
    Jaccard prune discards."""
    grams = _word_gram_frame(docs, text_col, k, block_col, max_block)
    a = grams.select("_block", F.col("doc_id").alias("id_a"),
                     F.col("grams").alias("g_a"))
    b = grams.select("_block", F.col("doc_id").alias("id_b"),
                     F.col("grams").alias("g_b"),
                     F.pmod(F.xxhash64("doc_id"), F.lit(pair_split))
                     .alias("_pb"))
    a = a.withColumn(
        "_pb", F.explode(F.array(*[F.lit(j) for j in range(pair_split)])))
    inter = F.size(F.array_intersect("g_a", "g_b")).cast("double")
    cont_a = inter / F.size("g_a")
    cont_b = inter / F.size("g_b")
    return (a.join(b, ["_block", "_pb"])
            .where(F.col("id_a") < F.col("id_b"))
            .select("id_a", "id_b", cont_a.alias("cont_a"),
                    cont_b.alias("cont_b"))
            .where((F.col("cont_a") >= threshold)
                   | (F.col("cont_b") >= threshold)))


# --- native n-gram Jaccard (oracle-expressible) ------------------------------

def wide_ngram_block_count(docs: DataFrame, block_col: str = "source",
                           max_block: int = MAX_NGRAM_BLOCK) -> int:
    """Metric: blocks dropped by the width cap (no silent caps)."""
    return (docs.groupBy(block_col).count()
            .where(F.col("count") > max_block).count())


def ngram_jaccard_pairs_native(docs: DataFrame, text_col: str = "text",
                               n: int = 3, block_col: str = "source",
                               threshold: float = 0.5,
                               max_block: int = MAX_NGRAM_BLOCK,
                               pair_split: int = PAIR_SPLIT) -> DataFrame:
    """Character-n-gram Jaccard between documents within a block, expressed
    ENTIRELY in native Spark SQL functions (sequence/transform/
    array_distinct/array_intersect) so whole-stage codegen applies and a
    DuckDB oracle can mirror it exactly.  Blocked equi-join, not a cross
    join; for unblocked corpora use minhash_dup_pairs instead.

    Efficiency shape:
    - grams are xxhash64-compressed to int64 BEFORE the join: the
      distinct-gram sets and therefore the Jaccard are unchanged (up to
      64-bit collisions, ~1e-9 at 10^6 distinct grams), while the
      shuffle payload and the array_intersect hash probes run on fixed
      8-byte longs instead of strings.
    - the pair space is split `pair_split` ways on hash(id_b): the a-side
      is replicated to every split, so the quadratic verify work spreads
      over n_blocks * pair_split reducers instead of one reducer per
      block -- with 20 blocks and 32 cores, the un-split join leaves a
      third of the machine idle.
    - size-ratio prune BEFORE the intersect (jaccard >= t implies
      min/max gram counts >= t).

    The pair expansion is quadratic WITHIN a block: a boilerplate-heavy
    corpus putting 10^6 docs in one block is 10^12 candidate pairs.
    Blocks wider than `max_block` are therefore dropped before the join
    (count-over-window, the same cap shape as linking.candidate_pairs);
    surface the number dropped with `wide_ngram_block_count` -- capped
    blocks are counted, never silently exploded."""
    spark = docs.sparkSession
    docs = docs.repartition(spark.sparkContext.defaultParallelism, block_col)
    sized = docs.withColumn(
        "_block_n", F.count("*").over(Window.partitionBy(block_col)))
    docs = sized.where(F.col("_block_n") <= max_block).drop("_block_n")
    grams = docs.select(
        F.col("doc_id"), F.col(block_col).alias("_block"),
        F.array_distinct(
            F.transform(
                F.sequence(F.lit(1), F.greatest(
                    F.length(text_col) - (n - 1), F.lit(1))),
                lambda i: F.xxhash64(F.col(text_col).substr(i, F.lit(n)))))
        .alias("grams"))
    return _blocked_jaccard_join(grams, threshold, pair_split)


def _blocked_jaccard_join(grams: DataFrame, threshold: float,
                          pair_split: int) -> DataFrame:
    """Self-join grams(doc_id, _block, grams) within _block with the
    pair-space split + size-ratio prune + exact Jaccard verify.  The
    gram frame takes a lazy RDD barrier so the shingle subtree is
    computed once, not once per join side.

    (A 1024-bit presence-bitmap pre-prune was tried here and REVERTED:
    popcount(bm_a & bm_b) is not an upper bound on |A ∩ B| once two
    common grams can collide on one bit, and at ~300 grams per doc the
    collisions are routine -- it dropped true pairs at sf0.01.  A
    per-bucket counting sketch tight enough to prune at threshold 0.3
    needs ~1024 counters, which costs more per pair than the exact
    intersect it would save.)"""
    grams = grams.localCheckpoint(eager=False)
    a = grams.select("_block", F.col("doc_id").alias("id_a"),
                     F.col("grams").alias("g_a"))
    b = grams.select("_block", F.col("doc_id").alias("id_b"),
                     F.col("grams").alias("g_b"),
                     F.pmod(F.xxhash64("doc_id"), F.lit(pair_split))
                     .alias("_pb"))
    a = a.withColumn(
        "_pb", F.explode(F.array(*[F.lit(j) for j in range(pair_split)])))
    inter = F.size(F.array_intersect("g_a", "g_b"))
    union = F.size("g_a") + F.size("g_b") - inter
    na, nb = F.size("g_a"), F.size("g_b")
    ratio_ok = (F.least(na, nb).cast("double")
                >= F.lit(threshold) * F.greatest(na, nb))
    return (a.join(b, ["_block", "_pb"])
            .where((F.col("id_a") < F.col("id_b")) & ratio_ok)
            .select("id_a", "id_b",
                    (inter.cast("double") / union).alias("jaccard"))
            .where(F.col("jaccard") >= threshold))


# --- embedding-cosine near-duplicate dedup -----------------------------------

EMB_BANDS = 8            # signature bands (candidate = ANY band matches)
EMB_PLANES_PER_BAND = 8  # hyperplanes per band (256-bucket band space)


def embedding_dup_pairs(embeddings: DataFrame, threshold: float = 0.95,
                        vec_col: str = "embedding",
                        id_col: str = "vec_id",
                        n_bands: int = EMB_BANDS,
                        planes_per_band: int = EMB_PLANES_PER_BAND,
                        dim: int | None = None,
                        max_bucket: int = MAX_BUCKET) -> DataFrame:
    """Near-duplicate pairs by embedding cosine: BANDED sign-LSH blocking
    (equi-join per band on (band, band_signature) -- never a cross join)
    -> exact cosine verify.

    Banding is what keeps recall high: with a single n-plane signature,
    a pair at cosine c agrees on all planes with prob p^n where
    p = 1-acos(c)/pi (~0.65 at c=0.95, n=4); with B independent bands of
    r planes each, a pair is a candidate if ANY band agrees:
    1-(1-p^r)^B (~0.99 at c=0.95, B=r=8).  Same shape as the MinHash
    band trick in linking.py.  r also sizes the per-band bucket space
    (2^r): too few planes per band collapses distinct clusters into one
    bucket and the width cap then drops true-dup buckets.

    Buckets wider than `max_bucket` are dropped before the pair
    expansion (identical-vector floods would go quadratic); count them
    with `wide_embedding_bucket_count`.  Pass `dim` when known -- the
    fallback issues a driver-side first() per call.

    SIZE THE BAND SPACE TO THE CORPUS: a band hashes into
    2^planes_per_band buckets, so with the 8-plane default (256
    buckets) any corpus much beyond ~10^4 rows makes EVERY bucket
    wider than the cap and recall collapses to zero -- measured at
    10^6 rows in BENCH r3.  Pass planes_per_band ~ log2(n / 32) when
    the corpus size is known."""
    from redactify_spark.operators.similarity import (_hyperplanes,
                                                      _norm_expr,
                                                      signature_expr)
    if dim is None:
        dim = len(embeddings.select(vec_col).first()[0])
    planes = _hyperplanes(dim, n_bands * planes_per_band)
    sig_exprs = [
        signature_expr(F.col(vec_col),
                       planes[b * planes_per_band:(b + 1) * planes_per_band])
        for b in range(n_bands)]
    banded = embeddings.select(
        F.col(id_col), F.col(vec_col),
        F.posexplode(F.array(*sig_exprs)).alias("_band", "_sig"))
    sized = banded.withColumn(
        "_bn", F.count("*").over(Window.partitionBy("_band", "_sig")))
    narrow = sized.where(F.col("_bn") <= max_bucket).drop("_bn")
    a = narrow.select("_band", "_sig", F.col(id_col).alias("id_a"),
                      F.col(vec_col).alias("v_a"))
    b = narrow.select("_band", "_sig", F.col(id_col).alias("id_b"),
                      F.col(vec_col).alias("v_b"))
    dot = F.aggregate(
        F.zip_with(F.col("v_a"), F.col("v_b"),
                   lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0), lambda acc, x: acc + x)
    cos = dot / (_norm_expr(F.col("v_a")) * _norm_expr(F.col("v_b")))
    return (a.join(b, ["_band", "_sig"])
            .where(F.col("id_a") < F.col("id_b"))
            .dropDuplicates(["id_a", "id_b"])
            .select("id_a", "id_b", cos.alias("cos"))
            .where(F.col("cos") >= threshold))


def wide_embedding_bucket_count(embeddings: DataFrame,
                                vec_col: str = "embedding",
                                id_col: str = "vec_id",
                                n_bands: int = EMB_BANDS,
                                planes_per_band: int = EMB_PLANES_PER_BAND,
                                dim: int | None = None,
                                max_bucket: int = MAX_BUCKET) -> int:
    """Metric: sign-LSH buckets dropped by the width cap."""
    from redactify_spark.operators.similarity import (_hyperplanes,
                                                      signature_expr)
    if dim is None:
        dim = len(embeddings.select(vec_col).first()[0])
    planes = _hyperplanes(dim, n_bands * planes_per_band)
    sig_exprs = [
        signature_expr(F.col(vec_col),
                       planes[b * planes_per_band:(b + 1) * planes_per_band])
        for b in range(n_bands)]
    banded = embeddings.select(
        F.posexplode(F.array(*sig_exprs)).alias("_band", "_sig"))
    return (banded.groupBy("_band", "_sig").count()
            .where(F.col("count") > max_bucket).count())


def duplicated_ngram_windows(docs: DataFrame, n: int = 8,
                             min_count: int = 2, text_col: str = "text",
                             id_col: str = "doc_id") -> DataFrame:
    """(window_md5, n_occurrences, n_docs): n-token windows repeated
    across the corpus -- the signal behind exact-substring dedup
    ("Deduplicating Training Data Makes Language Models Better", Lee et
    al. 2022: memorization tracks repeated spans, not just repeated
    documents).  Fully native.

    Scale shape: windows are md5-compressed BEFORE the shuffle (16-byte
    keys, not 8-token strings); n_occurrences is a map-side-combinable
    count; n_docs uses the two-phase pattern (distinct over the uniform
    (window, doc) key first, then a combinable count) so a boilerplate
    window present on 10^10 pages never funnels raw rows to one
    reducer."""
    stored = _stored_tokens(docs.select(F.col(id_col).alias("doc_id"),
                                        F.col(text_col)),
                            text_col, keep=["doc_id"])
    toks = F.col("_toks")
    wins = F.when(
        F.size(toks) < n, F.array().cast("array<string>")
    ).otherwise(F.transform(
        F.sequence(F.lit(1), F.size(toks) - (n - 1)),
        lambda i: F.md5(F.array_join(F.slice(toks, i, n), " "))))
    exploded = stored.select("doc_id", F.explode(wins).alias("w"))
    occ = exploded.groupBy("w").agg(
        F.count("*").cast("long").alias("n_occurrences"))
    per_doc = (exploded.dropDuplicates(["w", "doc_id"])
               .groupBy("w").agg(F.count("*").cast("long").alias("n_docs")))
    return (occ.join(per_doc, "w")
            .where(F.col("n_occurrences") >= min_count)
            .select(F.col("w").alias("window_md5"),
                    "n_occurrences", "n_docs"))


# -- exact-substring dedup: maximal repeated spans (VERDICT r3 #3) ----------
#
# duplicated_ngram_windows (above) reports the SIGNAL from Lee et al.
# 2022; these operators perform the dedup itself: find every n-token
# window repeated corpus-wide, merge overlapping/adjacent hits into
# MAXIMAL repeated spans per document, and splice them out of the text.
#
# Tokenization here is raw-whitespace-preserving: positions index the
# document's whitespace tokens (original bytes kept for reconstruction),
# while the window HASH normalizes each token in place (lowercase, strip
# non-alnum) without splitting or deleting tokens, so hash positions and
# raw-token positions stay 1:1 and the splice is exact.  All phases are
# native (no Python): the only corpus-wide shuffle is the window-key
# count (md5-compressed 16-byte keys, map-side combinable); span merging
# is a per-document window sweep; the splice is a higher-order filter.


def _ws_tokens(text_col):
    """Raw whitespace tokens, original bytes preserved (empty text ->
    empty array, not [''])."""
    t = F.trim(text_col)
    return F.when(t == "", F.array().cast("array<string>")) \
            .otherwise(F.split(t, "\\s+"))


def _norm_in_place(tok):
    """Per-token normalization that never splits or drops a position:
    lowercase + strip non-alnum WITHIN the token."""
    return F.regexp_replace(F.lower(tok), "[^a-z0-9]", "")


def _span_hits(docs: DataFrame, n: int, min_count: int,
               text_col: str, id_col: str,
               keep_first: bool) -> DataFrame:
    """(doc_id, pos): 1-based positions whose n-token window is repeated
    >= min_count times corpus-wide (total occurrences, within-doc
    repeats included).  With keep_first, the corpus-wide first occurrence
    of each window (min doc_id, then min pos) is NOT a hit -- the 'leave
    one copy' policy of Lee et al. exact-substring dedup."""
    stored = _stored_tokens(docs.select(F.col(id_col).alias("doc_id"),
                                        F.col(text_col)),
                            text_col, keep=["doc_id"],
                            tokens=_ws_tokens(F.col(text_col)))
    toks = F.col("_toks")
    wins = F.when(
        F.size(toks) < n, F.array().cast("array<struct<pos:int,w:string>>")
    ).otherwise(F.transform(
        F.sequence(F.lit(1), F.size(toks) - (n - 1)),
        lambda i: F.struct(
            i.cast("int").alias("pos"),
            F.md5(F.array_join(
                F.transform(F.slice(toks, i, n), _norm_in_place),
                " ")).alias("w"))))
    exploded = (stored.select("doc_id", F.explode(wins).alias("h"))
                .select("doc_id", F.col("h.pos").alias("pos"),
                        F.col("h.w").alias("w")))
    dup = (exploded.groupBy("w")
           .agg(F.count("*").alias("_cnt"))
           .where(F.col("_cnt") >= min_count)
           .select("w"))
    hits = exploded.join(dup, "w")
    if keep_first:
        rn = F.row_number().over(
            Window.partitionBy("w").orderBy("doc_id", "pos"))
        hits = hits.withColumn("_rn", rn).where(F.col("_rn") > 1)
    return hits.select("doc_id", "pos")


def maximal_repeated_spans(docs: DataFrame, n: int = 8,
                           min_count: int = 2, text_col: str = "text",
                           id_col: str = "doc_id",
                           keep_first: bool = True) -> DataFrame:
    """(doc_id, span_start, span_end, n_tokens): MAXIMAL repeated spans
    per document -- overlapping or adjacent duplicated n-token windows
    merged by a per-document island sweep (two hits merge when the next
    window starts at or before prev_end + 1).  Token positions are
    1-based inclusive over the document's whitespace tokens.

    Scale shape: the merge is a window sweep partitioned by doc_id
    (never a self-join); a document with h hits costs O(h log h) in its
    own partition."""
    hits = _span_hits(docs, n, min_count, text_col, id_col, keep_first)
    w_doc = Window.partitionBy("doc_id").orderBy("pos")
    prev_end = F.max(F.col("pos") + (n - 1)).over(
        w_doc.rowsBetween(Window.unboundedPreceding, -1))
    island = F.sum(
        F.when(prev_end.isNull() | (F.col("pos") > prev_end + 1), 1)
         .otherwise(0)).over(w_doc)
    return (hits.withColumn("_island", island)
            .groupBy("doc_id", "_island")
            .agg(F.min("pos").cast("int").alias("span_start"),
                 (F.max("pos") + (n - 1)).cast("int").alias("span_end"))
            .withColumn("n_tokens",
                        (F.col("span_end") - F.col("span_start") + 1)
                        .cast("int"))
            .select("doc_id", "span_start", "span_end", "n_tokens"))


def remove_repeated_spans(docs: DataFrame, n: int = 8,
                          min_count: int = 2, text_col: str = "text",
                          id_col: str = "doc_id",
                          keep_first: bool = True) -> DataFrame:
    """Exact-substring dedup: splice every maximal repeated span out of
    the text (raw tokens outside spans rejoined with single spaces --
    output text is whitespace-normalized but byte-preserves surviving
    tokens).  Adds n_tokens_removed.  Documents with no repeated span
    pass through with text whitespace-normalized only (the
    reconstruction invariant pinned in pytest)."""
    spans = (maximal_repeated_spans(docs, n=n, min_count=min_count,
                                    text_col=text_col, id_col=id_col,
                                    keep_first=keep_first)
             .groupBy(F.col("doc_id").alias("_span_doc"))
             .agg(F.collect_list(
                      F.struct("span_start", "span_end")).alias("_spans"),
                  F.sum("n_tokens").cast("int").alias("_removed")))
    toks = _ws_tokens(F.col(text_col))
    joined = docs.join(spans, F.col(id_col) == F.col("_span_doc"),
                       "left").drop("_span_doc")
    sp = F.coalesce(
        F.col("_spans"),
        F.array().cast("array<struct<span_start:int,span_end:int>>"))
    kept = F.filter(
        toks,
        lambda x, i: ~F.exists(
            sp, lambda s: (i + 1 >= s["span_start"])
            & (i + 1 <= s["span_end"])))
    others = [c for c in docs.columns if c != text_col]
    return (joined.select(
        *others,
        F.array_join(kept, " ").alias(text_col),
        F.coalesce(F.col("_removed"), F.lit(0)).cast("int")
         .alias("n_tokens_removed")))
