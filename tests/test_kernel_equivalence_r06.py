"""Fuzz-equivalence pins for the r6 kernel micro-optimizations.

The r6 optimization round rewrote two pure helpers for speed; these
tests pin the new implementations against literal re-implementations of
the old ones over adversarial + random inputs, so any semantic drift
(unicode classes, hex-prefix arithmetic) fails loudly."""

import hashlib
import random

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from redactify_spark.operators.dedup import _word_shingles
from redactify_spark.operators.langid import build_profiles, normalize_expr
from redactify_spark.operators.linking import normalize_surface
from redactify_spark.operators.partitioning import spread_for_cpu


def _normalize_surface_loop(s: str) -> str:
    """The pre-r6 per-character reference implementation."""
    out = []
    prev_space = True
    for ch in s.lower():
        if ch.isalnum():
            out.append(ch)
            prev_space = False
        elif not prev_space:
            out.append(" ")
            prev_space = True
    return "".join(out).strip()


def _word_shingles_hex(text: str, k: int = 3) -> set[int]:
    """The pre-r6 hexdigest-slicing reference implementation."""
    words = normalize_surface(text).split()
    if len(words) < k:
        joined = " ".join(words)
        return {int(hashlib.md5(joined.encode()).hexdigest()[:15], 16)}
    return {int(hashlib.md5(" ".join(words[i:i + k]).encode())
                .hexdigest()[:15], 16)
            for i in range(len(words) - k + 1)}


ADVERSARIAL = [
    "", " ", "_", "__a__b__", "a", "ab c", "  leading and trailing  ",
    "tabs\tand\nnewlines", "MiXeD CaSe 123", "ünïcödé Straße çöğü",
    "digits ٣٤٥ and 二三 numerals", "ⅩⅣ roman numeral Ⅻ", "x" * 500,
    "emoji 🙂 in the middle", "dash-joined and under_scored words",
    "quotes 'single' \"double\" and punct!?;:",
    "² superscript two is alnum", "́ combining acute alone",
]


def test_normalize_surface_matches_loop_reference():
    rng = random.Random(606)
    pool = ("abc ABC 123 _-.!? \t\n" "üßçñé ١٢٣ четыре αβγ 中文 🙂 ²½Ⅻ")
    cases = list(ADVERSARIAL)
    for _ in range(2000):
        cases.append("".join(rng.choice(pool)
                             for _ in range(rng.randrange(0, 60))))
    for s in cases:
        assert normalize_surface(s) == _normalize_surface_loop(s), repr(s)


def test_word_shingles_matches_hex_reference():
    rng = random.Random(607)
    words = ("the quick brown fox jumps over a lazy dog with many "
             "short and long tokens ünïcödé ١٢٣").split()
    cases = list(ADVERSARIAL)
    for _ in range(300):
        cases.append(" ".join(rng.choice(words)
                              for _ in range(rng.randrange(0, 30))))
    for s in cases:
        assert _word_shingles(s) == _word_shingles_hex(s), repr(s)
        assert _word_shingles(s, k=2) == _word_shingles_hex(s, k=2), repr(s)


def test_langid_numpy_scorer_matches_exploded(spark):
    """The r6 vectorized numpy langid scorer must be row-identical to
    the all-native explode/join formulation it replaced (which is also
    the shape the q104 DuckDB oracle mirrors)."""
    from redactify_spark.operators.langid import (LANG_SAMPLES,
                                                  lang_id_ngram)

    rows = [(i, s) for i, s in enumerate(LANG_SAMPLES.values())]
    rows += [
        (100, ""), (101, None), (102, "12345 !!! ###"), (103, "   \t "),
        (104, "the the the aaa"), (105, "x"),
        (106, "mixed english text with 数字 and عربية inside"),
        (107, "ÄÖÜ großes Straßenfest in münchen"),
        (108, "ёлка и ґанок під київським небом"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    a = sorted(map(tuple, lang_id_ngram(df).collect()))
    b = sorted(map(tuple, lang_id_ngram_exploded(df).collect()))
    assert a == b


def lang_id_ngram_exploded(docs: DataFrame, text_col: str = "text",
                           id_col: str = "doc_id") -> DataFrame:
    """The pre-r6 all-native explode/join/agg formulation: the
    equivalence reference for lang_id_ngram (same rows bit-for-bit) and
    the plan the q104 DuckDB oracle mirrors."""
    spark = docs.sparkSession
    rows, _ = build_profiles()
    prof = spark.createDataFrame(rows, "ngram string, lang string, "
                                       "logp_micro long")
    def tris_over(col_name: str):
        norm = normalize_expr(F.col(col_name))
        padded = F.concat(F.lit(" "), norm, F.lit(" "))
        chars = F.split(padded, "")
        n = F.size(chars)
        return F.when(
            norm == "", F.array().cast("array<string>")
        ).otherwise(F.zip_with(
            F.zip_with(F.slice(chars, 1, n - 2), F.slice(chars, 2, n - 2),
                       lambda a, b: F.concat(a, b)),
            F.slice(chars, 3, n - 2),
            lambda ab, c: F.concat(ab, c)))

    # Trigrams as zip_with over three shifted slices of a one-time
    # codepoint-array split.  TWO quadratic traps live here and both
    # are avoided: (a) substring(padded, i, 3) per position seeks from
    # the string start (UTF8String is variable-width) -- O(len^2) per
    # document, measured 94.8 s on 5k sf0.1 docs; (b) element_at(chars,
    # i) inside a transform() LAMBDA re-evaluates the split per element
    # (lambda bodies are outside codegen subexpression elimination) --
    # O(len^2) with an array build each time, worse still.  Slices as
    # higher-order-function ARGUMENTS evaluate the split a constant
    # number of times: O(len) per document (the char-level sibling of
    # the r4 _stored_tokens word-gram fix).
    # the trigram build (split + two zip_with concats per codepoint) is
    # the expensive stage and runs BEFORE any exchange: fed by a
    # single-file scan it would execute on one core (guide §2 -- 42.6 s
    # measured on 50k docs at local[32]); spread the scan first
    src = spread_for_cpu(
        docs.select(F.col(id_col).alias("doc_id"),
                    F.col(text_col).alias("_lid_text")), "doc_id")
    exploded = src.select("doc_id", F.explode(tris_over("_lid_text"))
                          .alias("ngram"))
    scores = (exploded.join(F.broadcast(prof), "ngram")
              .groupBy("doc_id", "lang")
              .agg(F.sum("logp_micro").alias("score_micro"),
                   F.count("*").cast("long").alias("n_ngrams")))
    rn = F.row_number().over(
        Window.partitionBy("doc_id")
              .orderBy(F.col("score_micro").desc(), F.col("lang").asc()))
    best = (scores.withColumn("_rn", rn).where(F.col("_rn") == 1)
            .select("doc_id", F.col("lang").alias("lang_pred"),
                    "score_micro", "n_ngrams"))
    ids = docs.select(F.col(id_col).alias("doc_id")).distinct()
    return (ids.join(best, "doc_id", "left")
            .select("doc_id",
                    F.coalesce("lang_pred", F.lit("und")).alias("lang_pred"),
                    F.coalesce("score_micro", F.lit(0)).alias("score_micro"),
                    F.coalesce("n_ngrams", F.lit(0)).alias("n_ngrams")))
