"""Text-analysis operators: language ID, quality scoring, token counting,
document fingerprinting.  ALL native column expressions (no UDFs) so they
stay inside whole-stage codegen and a DuckDB oracle can mirror them.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# stopword markers per language for the n-gram heuristic language ID
_LANG_MARKERS = {
    "en": r"\b(the|and|of|to|in)\b",
    "de": r"\b(der|die|das|und|ist)\b",
    "fr": r"\b(le|la|les|et|est)\b",
    "es": r"\b(el|los|las|es|y)\b",
}

_STOPWORDS = ("the", "and", "of", "to", "in", "a", "is", "that", "it", "for")


def lang_marker_counts(text: Column) -> dict[str, Column]:
    return {lang: F.size(F.regexp_extract_all(F.lower(text), F.lit(pat), 0))
            for lang, pat in _LANG_MARKERS.items()}


def lang_id_expr(text: Column) -> Column:
    """Heuristic language ID: argmax of marker-word hit counts, 'und' when
    all zero.  Deterministic tiebreak by fixed language order."""
    counts = lang_marker_counts(text)
    best_lang = F.lit("und")
    best_n = F.lit(0)
    for lang in ("en", "de", "fr", "es"):
        c = counts[lang]
        is_better = c > best_n
        best_lang = F.when(is_better, F.lit(lang)).otherwise(best_lang)
        best_n = F.when(is_better, c).otherwise(best_n)
    return best_lang


def token_count_expr(text: Column) -> Column:
    """Whitespace token count (0 for empty/blank)."""
    t = F.trim(text)
    return F.when(F.length(t) == 0, F.lit(0)) \
            .otherwise(F.size(F.split(t, r"\s+")))


def quality_features(docs: DataFrame, text_col: str = "text",
                     passthrough: tuple[str, ...] = ()) -> DataFrame:
    """Per-document quality features + a composite score in [0,1]:
    length band, punctuation ratio, stopword ratio, mean token length.
    `passthrough` columns are carried into the output projection."""
    t = F.col(text_col)
    n_chars = F.length(t)
    n_tokens = token_count_expr(t)
    n_punct = F.size(F.regexp_extract_all(t, F.lit(r"[^\w\s]"), 0))
    stop_pat = r"\b(?:" + "|".join(_STOPWORDS) + r")\b"
    n_stop = F.size(F.regexp_extract_all(F.lower(t), F.lit(stop_pat), 0))
    punct_ratio = n_punct.cast("double") / F.greatest(n_chars, F.lit(1))
    stop_ratio = n_stop.cast("double") / F.greatest(n_tokens, F.lit(1))
    mean_tok_len = (n_chars.cast("double")
                    / F.greatest(n_tokens, F.lit(1)))
    length_ok = (n_chars >= 100) & (n_chars <= 20000)
    score = (
        F.when(length_ok, F.lit(0.4)).otherwise(F.lit(0.0))
        + F.when(punct_ratio <= 0.1, F.lit(0.2)).otherwise(F.lit(0.0))
        + F.when((mean_tok_len >= 3.0) & (mean_tok_len <= 12.0),
                 F.lit(0.2)).otherwise(F.lit(0.0))
        + F.when(stop_ratio >= 0.01, F.lit(0.2)).otherwise(F.lit(0.0)))
    return docs.select(
        "doc_id", *passthrough,
        n_chars.alias("n_chars"),
        n_tokens.alias("n_tokens"),
        F.round(punct_ratio, 6).alias("punct_ratio"),
        F.round(stop_ratio, 6).alias("stopword_ratio"),
        F.round(mean_tok_len, 6).alias("mean_token_len"),
        F.round(score, 2).alias("quality_score"))


def fingerprint_expr(text: Column, prefix_len: int = 64) -> Column:
    """Document fingerprint: md5 of the whitespace-normalized lowercase
    prefix -- a cheap rolling-hash stand-in that is reproducible in any
    engine with md5()."""
    norm = F.regexp_replace(F.lower(F.trim(text)), r"\s+", " ")
    return F.md5(F.substring(norm, 1, prefix_len))


def repetition_features(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Within-document repetition signals (the Gopher-rules family,
    Rae et al. 2021 'Scaling Language Models' appendix A1.1): duplicate
    line fraction and duplicate word fraction, fully native so the
    filter runs inside whole-stage codegen at corpus scale."""
    t = F.col(text_col)
    lines = F.filter(F.split(t, "\n"), lambda x: F.length(F.trim(x)) > 0)
    words = F.filter(F.split(F.lower(t), r"\s+"),
                     lambda x: F.length(x) > 0)
    n_lines = F.size(lines)
    n_words = F.size(words)
    dup_line_frac = F.when(
        n_lines <= 0, F.lit(0.0)).otherwise(
        1.0 - F.size(F.array_distinct(lines)).cast("double")
        / n_lines)
    dup_word_frac = F.when(
        n_words <= 0, F.lit(0.0)).otherwise(
        1.0 - F.size(F.array_distinct(words)).cast("double")
        / n_words)
    return docs.select(
        "doc_id",
        n_lines.cast("long").alias("n_lines"),
        n_words.cast("long").alias("n_words"),
        F.round(dup_line_frac, 6).alias("dup_line_frac"),
        F.round(dup_word_frac, 6).alias("dup_word_frac"))


def gopher_rules(docs: DataFrame, text_col: str = "text",
                 min_words: int = 50, max_words: int = 100_000,
                 min_mean_word_len: float = 3.0,
                 max_mean_word_len: float = 10.0,
                 max_symbol_ratio: float = 0.1,
                 max_dup_word_frac: float = 0.3) -> DataFrame:
    """Gopher-style document filter flags (public heuristics, Rae et al.
    2021): word-count band, mean word length band, symbol-to-word ratio
    (# and ellipsis), duplicate-word fraction.  Emits per-rule booleans
    plus the conjunction, all native."""
    t = F.col(text_col)
    words = F.filter(F.split(F.lower(t), r"\s+"),
                     lambda x: F.length(x) > 0)
    n_words = F.size(words)
    total_chars = F.aggregate(words, F.lit(0),
                              lambda acc, w: acc + F.length(w))
    mean_wl = total_chars.cast("double") / F.greatest(n_words, F.lit(1))
    n_symbols = (F.size(F.regexp_extract_all(t, F.lit(r"#"), 0))
                 + F.size(F.regexp_extract_all(t, F.lit(r"\.\.\."), 0)))
    symbol_ratio = n_symbols.cast("double") / F.greatest(n_words, F.lit(1))
    dup_word_frac = F.when(
        n_words <= 0, F.lit(0.0)).otherwise(
        1.0 - F.size(F.array_distinct(words)).cast("double") / n_words)
    ok_words = (n_words >= min_words) & (n_words <= max_words)
    ok_mwl = (mean_wl >= min_mean_word_len) & (mean_wl <= max_mean_word_len)
    ok_sym = symbol_ratio <= max_symbol_ratio
    ok_rep = dup_word_frac <= max_dup_word_frac
    return docs.select(
        "doc_id",
        n_words.cast("long").alias("n_words"),
        F.round(mean_wl, 6).alias("mean_word_len"),
        F.round(symbol_ratio, 6).alias("symbol_ratio"),
        F.round(dup_word_frac, 6).alias("dup_word_frac"),
        ok_words.alias("ok_word_count"),
        ok_mwl.alias("ok_mean_word_len"),
        ok_sym.alias("ok_symbol_ratio"),
        ok_rep.alias("ok_repetition"),
        (ok_words & ok_mwl & ok_sym & ok_rep).alias("gopher_pass"))


def tfidf_topk(docs: DataFrame, text_col: str = "text", k: int = 3,
               id_col: str = "doc_id",
               n_docs: int | None = None) -> DataFrame:
    """(doc_id, token, tf, tfidf): top-k keywords per document by
    smoothed TF-IDF (idf = ln((N+1)/(df+1)) + 1, the sklearn smoothing),
    deterministic tiebreak (tfidf desc, token asc).  Fully native:
    explode -> two map-side-combinable aggregations -> vocabulary-sized
    df join -> per-doc window top-k.  The widest shuffle is keyed by
    (doc, token).  The df join's token key is Zipf-skewed (a stopword's
    multiplicity approaches n_docs); AQE's skew-join split (enabled in
    plans/session.py) is the intended mitigation -- at web scale also
    consider dropping the df > 50% head BEFORE the join, which cannot
    be a keyword anyway.

    `n_docs`: pass the known corpus size to avoid the extra count scan
    (the ANN-hygiene rule); None counts once."""
    norm = F.trim(F.regexp_replace(F.lower(F.col(text_col)),
                                   "[^a-z0-9]+", " "))
    toks = F.when(norm == "", F.array().cast("array<string>")) \
            .otherwise(F.split(norm, " "))
    if n_docs is None:
        n_docs = docs.count()
    exploded = docs.select(F.col(id_col).alias("doc_id"),
                           F.explode(toks).alias("token"))
    tf = exploded.groupBy("doc_id", "token").agg(
        F.count("*").cast("long").alias("tf"))
    df_tbl = tf.groupBy("token").agg(
        F.count("*").cast("long").alias("df"))
    idf = F.log((F.lit(float(n_docs)) + 1.0) / (F.col("df") + 1.0)) + 1.0
    from pyspark.sql.window import Window
    w = Window.partitionBy("doc_id").orderBy(F.col("tfidf").desc(), "token")
    return (tf.join(df_tbl, "token")
            .withColumn("tfidf", F.col("tf") * idf)
            .withColumn("_rk", F.row_number().over(w))
            .where(F.col("_rk") <= k)
            .select("doc_id", "token", "tf",
                    F.round("tfidf", 6).alias("tfidf")))


def fit_unigram_lm(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """(token, cnt): corpus unigram counts over the ASCII-normalized
    whitespace tokens -- one explode + one map-side-combinable agg.
    The 'training' half of the perplexity-style quality filter
    (CCNet/Gopher-lite with a unigram model instead of KenLM)."""
    norm = F.trim(F.regexp_replace(F.lower(F.col(text_col)),
                                   "[^a-z0-9]+", " "))
    toks = F.when(norm == "", F.array().cast("array<string>")) \
            .otherwise(F.split(norm, " "))
    return (docs.select(F.explode(toks).alias("token"))
            .groupBy("token").agg(F.count("*").cast("long").alias("cnt")))


def unigram_nll(docs: DataFrame, lm: DataFrame, total_tokens: int,
                vocab_size: int, text_col: str = "text",
                id_col: str = "doc_id", alpha: float = 1.0) -> DataFrame:
    """(doc_id, n_tokens, nll): mean negative log-likelihood per token
    under the add-alpha-smoothed unigram model --
    p(t) = (cnt + alpha) / (total + alpha * (vocab + 1)), unseen tokens
    get cnt = 0.  High NLL = out-of-distribution text (gibberish,
    boilerplate in another register): the perplexity quality gate.

    Shape: explode -> join against the vocabulary-sized LM table (left,
    so OOV scores) -> one map-side-combinable per-doc aggregation.  The
    token join key is Zipf-skewed like tfidf_topk's; AQE skew-join
    splits the stopword partitions.
    `total_tokens` / `vocab_size` are passed in (computed once when the
    LM is fit) -- no per-call count scans (the ANN-hygiene rule).
    Zero-token documents emit nothing."""
    norm = F.trim(F.regexp_replace(F.lower(F.col(text_col)),
                                   "[^a-z0-9]+", " "))
    toks = F.when(norm == "", F.array().cast("array<string>")) \
            .otherwise(F.split(norm, " "))
    denom = float(total_tokens) + alpha * (vocab_size + 1)
    exploded = docs.select(F.col(id_col).alias("doc_id"),
                           F.explode(toks).alias("token"))
    scored = (exploded.join(lm, "token", "left")
              .select("doc_id",
                      (-F.log((F.coalesce(F.col("cnt"), F.lit(0))
                               + F.lit(alpha)) / F.lit(denom)))
                      .alias("_nll")))
    return (scored.groupBy("doc_id")
            .agg(F.count("*").cast("long").alias("n_tokens"),
                 F.avg("_nll").alias("nll")))


def bm25_scores(docs: DataFrame, query_terms: list[str],
                k1: float = 1.2, b: float = 0.75,
                text_col: str = "text", id_col: str = "doc_id",
                n_docs: int | None = None,
                avgdl: float | None = None) -> DataFrame:
    """(doc_id, n_terms, score): Okapi BM25 of each document against a
    query-term set -- the classic lexical relevance ranking, the keyword
    companion to the embedding ANN family.  Only documents matching at
    least one query term are returned.

    idf = ln((N - df + 0.5) / (df + 0.5) + 1)   (Lucene's +1 variant,
    never negative), score = sum_t idf_t * tf*(k1+1) /
    (tf + k1*(1 - b + b*dl/avgdl)).

    Scale shape: tokenize -> per-doc tf for the query terms only (the
    term filter prunes BEFORE the aggregation, so the shuffle carries
    |terms| x n_docs rows at most) -> tiny df table (one row per query
    term) broadcast back.  The only corpus-wide aggregates are two
    scalars (N and avgdl), computed in one map-side-combinable pass --
    pass `n_docs`/`avgdl` from table stats to skip even that.  avgdl is
    rounded to 6 decimals half-AWAY-from-zero (matching SQL round(),
    not Python's banker's rounding) so an external oracle computing the
    same rounded scalar gets bit-equal scores."""
    import math

    from redactify_spark.operators.partitioning import spread_for_cpu
    norm = F.trim(F.regexp_replace(F.lower(F.col(text_col)),
                                   "[^a-z0-9]+", " "))
    toks = F.when(norm == "", F.array().cast("array<string>")) \
            .otherwise(F.split(norm, " "))
    # the tokenize+explode below runs pre-exchange: spread a
    # single-partition corpus scan first (guide §2; no-op when the
    # input is already parallel)
    docs = spread_for_cpu(docs.select(id_col, text_col), id_col)
    lens = docs.select(F.col(id_col).alias("doc_id"),
                       F.size(toks).alias("dl"), toks.alias("_toks"))
    if n_docs is None or avgdl is None:
        row = lens.agg(F.count("*").alias("n"),
                       F.avg("dl").alias("a")).collect()[0]
        n_docs = n_docs if n_docs is not None else int(row.n)
        avgdl = avgdl if avgdl is not None else float(row.a)
    avgdl = math.floor(abs(avgdl) * 1e6 + 0.5) / 1e6 * (
        -1.0 if avgdl < 0 else 1.0)
    terms = sorted(set(query_terms))
    tf = (lens.select("doc_id", "dl", F.explode("_toks").alias("token"))
          .where(F.col("token").isin(terms))
          .groupBy("doc_id", "dl", "token")
          .agg(F.count("*").cast("double").alias("tf")))
    df_tbl = tf.groupBy("token").agg(
        F.count("*").cast("double").alias("df"))
    idf = F.log((F.lit(float(n_docs)) - F.col("df") + 0.5)
                / (F.col("df") + 0.5) + 1.0)
    part = idf * (F.col("tf") * (k1 + 1.0)) \
        / (F.col("tf") + k1 * (1.0 - b + b * F.col("dl") / F.lit(avgdl)))
    return (tf.join(F.broadcast(df_tbl), "token")
            .groupBy("doc_id")
            .agg(F.count("*").cast("long").alias("n_terms"),
                 F.sum(part).alias("score")))
