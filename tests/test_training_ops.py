"""Training-data pipeline operators: dedup, similarity, text stats,
multimodal plumbing."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from redactify_spark.operators import dedup as D
from redactify_spark.operators import similarity as S
from redactify_spark.operators import textstats as X
from redactify_spark.operators import multimodal as M


@pytest.fixture(scope="module")
def docs(spark):
    base = "the quick brown fox jumps over the lazy dog near the river bank"
    rows = [
        (0, base, "s0"),
        (1, base, "s0"),                       # exact dup of 0
        (2, base.replace("lazy", "sleepy"), "s0"),  # near dup of 0
        (3, "completely different content about spark joins and shuffles", "s0"),
        (4, "der hund und die katze sind in der stadt und das ist gut", "s1"),
        (5, "le chat et le chien sont dans la ville et c est bon", "s1"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string, source string")


# --- exact dedup ------------------------------------------------------------

def test_dedup_exact_keeps_min(spark, docs):
    kept = {r.doc_id for r in D.dedup_exact(docs).collect()}
    assert kept == {0, 2, 3, 4, 5}


# --- minhash dedup -----------------------------------------------------------

def test_minhash_finds_near_dup(spark, docs):
    pairs = {(r.id_a, r.id_b): r.jaccard
             for r in D.minhash_dup_pairs(docs, threshold=0.5).collect()}
    assert (0, 1) in pairs and pairs[(0, 1)] == 1.0
    assert (0, 2) in pairs and 0.5 <= pairs[(0, 2)] < 1.0
    assert (0, 3) not in pairs


def test_dedup_minhash_clusters(spark, docs):
    kept = {r.doc_id for r in D.dedup_minhash(docs, threshold=0.5).collect()}
    assert 0 in kept and 1 not in kept and 2 not in kept
    assert {3, 4, 5} <= kept


# --- fully-native minhash -----------------------------------------------------

def test_minhash_native_sig_matches_pure_python(spark, docs):
    """Pin the native expression math to an independent pure-Python
    re-derivation (the same math the DuckDB oracle unrolls)."""
    import hashlib
    row = (D.doc_minhash_native(docs.where("doc_id = 0"))
           .select("sig").first())

    def grams_of(text):
        import re
        norm = re.sub(r"[^a-z0-9]+", " ", text.lower()).strip()
        toks = norm.split(" ") if norm else []
        if len(toks) < 3:
            return {" ".join(toks)}
        return {" ".join(toks[i:i + 3]) for i in range(len(toks) - 2)}

    base = "the quick brown fox jumps over the lazy dog near the river bank"
    gh = [int(hashlib.md5(g.encode()).hexdigest()[:15], 16) % D.MINHASH_P
          for g in grams_of(base)]
    expected = [min((D._MH_A[i] * g + D._MH_B[i]) % D.MINHASH_P for g in gh)
                for i in range(D.MINHASH_NATIVE_HASHES)]
    assert list(row["sig"]) == expected


def test_minhash_native_pairs_match_exact_jaccard(spark, docs):
    """LSH candidates + verify reproduce the exact-Jaccard answer on the
    fixture (same pairs, same values as the Python minhash family)."""
    pairs = {(r.id_a, r.id_b): r.jaccard
             for r in D.minhash_native_pairs(docs, threshold=0.5).collect()}
    assert pairs.get((0, 1)) == 1.0
    assert (0, 2) in pairs and 0.5 <= pairs[(0, 2)] < 1.0
    assert (0, 3) not in pairs


def test_minhash_native_bucket_cap_fires(spark):
    """An adversarial corpus of identical docs exceeds max_bucket: the cap
    drops the bucket (counted, not exploded) so no pairs come back."""
    rows = [(i, "same boilerplate text repeated on every page here")
            for i in range(12)]
    d = spark.createDataFrame(rows, "doc_id long, text string")
    assert D.wide_minhash_bucket_count(d, max_bucket=8) > 0
    assert D.minhash_native_pairs(d, threshold=0.5, max_bucket=8).count() == 0
    # raising the cap restores all C(12,2) exact-dup pairs
    assert D.minhash_native_pairs(d, threshold=0.5,
                                  max_bucket=64).count() == 66


# --- simhash ------------------------------------------------------------------

def test_simhash_deterministic_and_near(spark):
    a = D.simhash64("the quick brown fox jumps over the lazy dog")
    b = D.simhash64("the quick brown fox jumps over the lazy dog")
    assert a == b
    assert -(1 << 63) <= a < (1 << 63)


def test_simhash_dup_pairs(spark, docs):
    rows = D.simhash_dup_pairs(docs, max_hamming=6).collect()
    got = {(r.id_a, r.id_b) for r in rows}
    assert (0, 1) in got  # identical text -> hamming 0
    for r in rows:
        if (r.id_a, r.id_b) == (0, 1):
            assert r.hamming == 0


# --- native n-gram jaccard ----------------------------------------------------

def test_ngram_jaccard_native(spark, docs):
    rows = D.ngram_jaccard_pairs_native(docs, threshold=0.5).collect()
    got = {(r.id_a, r.id_b): r.jaccard for r in rows}
    assert got[(0, 1)] == 1.0
    assert (0, 2) in got
    assert (0, 3) not in got


def test_ngram_block_cap_fires(spark):
    """An oversized block is dropped (counted, not silently exploded):
    the quadratic pair expansion never sees it."""
    rows = [(i, f"shared boilerplate text number {i}", "big") for i in range(40)]
    rows += [(100, "alpha beta gamma", "small"), (101, "alpha beta gamma", "small")]
    docs = spark.createDataFrame(rows, "doc_id long, text string, source string")
    assert D.wide_ngram_block_count(docs, max_block=10) == 1
    pairs = D.ngram_jaccard_pairs_native(docs, threshold=0.3,
                                         max_block=10).collect()
    ids = {i for r in pairs for i in (r.id_a, r.id_b)}
    assert ids == {100, 101}  # the capped block contributed nothing
    # default cap admits the block
    assert D.wide_ngram_block_count(docs) == 0


# --- similarity search ---------------------------------------------------------

@pytest.fixture(scope="module")
def embeddings(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet").cache()


def test_brute_force_topk(spark, embeddings):
    q = embeddings.where("vec_id = 0").first().embedding
    top = S.brute_force_topk(embeddings, list(q), k=5).collect()
    assert top[0].vec_id == 0 and abs(top[0].cos - 1.0) < 1e-9
    assert len(top) == 5
    assert all(top[i].cos >= top[i + 1].cos - 1e-12 for i in range(4))


def test_lsh_topk_contains_query(spark, embeddings):
    q = embeddings.where("vec_id = 0").first().embedding
    top = S.lsh_topk(embeddings, list(q), k=5)
    rows = top.collect()
    assert rows and rows[0].vec_id == 0  # query's own bucket always probed


def test_lsh_recall_vs_brute_force(spark, embeddings):
    q = embeddings.where("vec_id = 7").first().embedding
    exact = [r.vec_id for r in S.brute_force_topk(embeddings, list(q), k=10).collect()]
    approx = [r.vec_id for r in S.lsh_topk(embeddings, list(q), k=10).collect()]
    recall = len(set(exact) & set(approx)) / 10
    assert recall >= 0.5, (recall, exact, approx)  # adaptive planes, 2-bit probe


@pytest.fixture(scope="module")
def clustered(spark):
    """16 unit-norm cluster centers, 40 members each with small gaussian
    noise -- the regime ANN/near-dup operators are built for (true
    neighbors genuinely close)."""
    rng = np.random.RandomState(7)
    centers = rng.randn(16, 64)
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    rows, vid = [], 0
    for c in range(16):
        for _ in range(40):
            v = centers[c] + 0.02 * rng.randn(64)
            rows.append((vid, [float(x) for x in v], f"c{c}"))
            vid += 1
    return spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label string").cache()


def test_lsh_recall_clustered(spark, clustered):
    """recall@10 >= 0.9 for the bucket-pruned path in its intended
    regime (fixed 8-plane signature, hamming<=2 probe)."""
    q = clustered.where("vec_id = 5").first().embedding
    exact = [r.vec_id for r in
             S.brute_force_topk(clustered, list(q), k=10).collect()]
    approx = [r.vec_id for r in
              S.lsh_topk(clustered, list(q), k=10, n_planes=8).collect()]
    recall = len(set(exact) & set(approx)) / 10
    assert recall >= 0.9, (recall, exact, approx)


def test_ivf_recall_clustered(spark, clustered):
    q = clustered.where("vec_id = 45").first().embedding
    exact = [r.vec_id for r in
             S.brute_force_topk(clustered, list(q), k=10).collect()]
    approx = [r.vec_id for r in
              S.ivf_topk(clustered, list(q), k=10, n_cells=16,
                         n_probe=4).collect()]
    recall = len(set(exact) & set(approx)) / 10
    assert recall >= 0.9, (recall, exact, approx)


def test_embedding_dup_recall_clustered(spark, clustered):
    """Banded sign-LSH blocking must recover >=90% of the true
    cosine>=0.95 pairs (ground truth: driver-side numpy over the small
    fixture).  Guards the recall property the single-signature design
    lacked at this threshold."""
    rows = sorted(clustered.collect(), key=lambda r: r.vec_id)
    V = np.array([list(r.embedding) for r in rows], dtype=np.float64)
    V = V / np.linalg.norm(V, axis=1, keepdims=True)
    sims = V @ V.T
    ids = [r.vec_id for r in rows]
    truth = {(ids[i], ids[j])
             for i in range(len(ids)) for j in range(i + 1, len(ids))
             if sims[i, j] >= 0.95}
    got = {(r.id_a, r.id_b) for r in
           D.embedding_dup_pairs(clustered, threshold=0.95,
                                 dim=64).collect()}
    assert truth, "fixture must contain true near-dup pairs"
    recall = len(got & truth) / len(truth)
    assert recall >= 0.9, (recall, len(truth), len(got))
    assert got <= truth  # exact verify: no false positives


def test_pairwise_topk_join(spark, embeddings):
    queries = embeddings.limit(4)
    rows = S.pairwise_topk_join(embeddings, queries, k=3).collect()
    by_q = {}
    for r in rows:
        by_q.setdefault(r.q_id, []).append(r)
    assert by_q, "expected at least some query buckets to match"
    for q_id, rs in by_q.items():
        assert len(rs) <= 3
        assert all(x.vec_id != q_id for x in rs)


# --- text stats ------------------------------------------------------------------

def test_lang_id(spark, docs):
    got = {r.doc_id: r.lang_pred for r in
           docs.select("doc_id", X.lang_id_expr(F.col("text"))
                       .alias("lang_pred")).collect()}
    assert got[0] == "en" and got[4] == "de" and got[5] == "fr"


def test_token_counts(spark):
    df = spark.createDataFrame([(1, "a b  c"), (2, ""), (3, "  ")],
                               "doc_id long, text string")
    got = {r.doc_id: r.n for r in
           df.select("doc_id", X.token_count_expr(F.col("text")).alias("n"))
           .collect()}
    assert got == {1: 3, 2: 0, 3: 0}


def test_quality_features(spark, docs):
    rows = X.quality_features(docs).collect()
    for r in rows:
        assert 0.0 <= r.quality_score <= 1.0
        assert r.n_tokens > 0


def test_fingerprint_stable(spark, docs):
    a = {r.doc_id: r.fp for r in docs.select(
        "doc_id", X.fingerprint_expr(F.col("text")).alias("fp")).collect()}
    b = {r.doc_id: r.fp for r in docs.select(
        "doc_id", X.fingerprint_expr(F.col("text")).alias("fp")).collect()}
    assert a == b
    assert a[0] == a[1]  # identical docs share a fingerprint
    assert a[0] != a[3]


# --- multimodal plumbing -----------------------------------------------------------

def test_media_synthesis_and_features(spark):
    media = M.synth_media(spark, 30, partitions=2)
    assert media.count() == 30
    feats = M.extract_features(media, fake_decode=True).collect()
    assert len(feats) == 30
    for r in feats:
        assert len(r.feature) == 8 and r.feat_norm > 0


def test_media_features_golden(spark):
    """Exact-golden gate for q40 (its synth corpus is SF-independent, so
    the whole aggregate is one pinned 3-row table)."""
    import __spark_entry__ as entry
    got = {(r.kind, r.n, r.avg_norm) for r in
           entry.queries()["q40_media_features"](
               spark, "/root/testdata/sf0.001").collect()}
    assert got == {("audio", 67, 357.3444),
                   ("image", 67, 357.0341),
                   ("video", 66, 355.1287)}


def test_decode_stub_raises():
    with pytest.raises(NotImplementedError):
        M.decode_image(b"xx", fake=False)


# --- metrics ---------------------------------------------------------------

def test_mention_metrics(spark):
    from redactify_spark.operators import metrics as MT
    from redactify_spark.operators.detection import detect_mentions
    from redactify_spark.sources.pages import synth_pages
    m = detect_mentions(synth_pages(spark, 40, partitions=2),
                        id_col="url", text_col="text").cache()
    g = MT.mention_metrics(m).first()
    exact = m.select("pseudo_key").distinct().count()
    assert g.n_mentions == m.count()
    # HLL estimate within 10% of exact
    assert abs(g.approx_entities - exact) / exact < 0.10
    bd = MT.detector_breakdown(m).collect()
    assert sum(r.n for r in bd) == g.n_mentions
    hist = MT.score_histogram(m).collect()
    assert sum(r.n for r in hist) == g.n_mentions
    assert all(0 <= r.bucket <= 9 for r in hist)


def test_hf_backend_gate():
    from redactify_spark.detect import kernel
    # transformers absent in this container -> gate returns False and the
    # deterministic gazetteer stays active
    assert kernel.try_load_hf_backend() is False
    assert kernel._NER_BATCH_BACKEND is None


def test_batched_ner_backend_parity(spark):
    """With a BATCHED general-NER backend registered (the transformer
    inference shape: one model call per Arrow batch of texts), the
    detection output must be identical to the per-document path --
    both at the kernel level (detect_batch) and through the Spark UDTF
    (mapInPandas calls general_raw_batch once per pandas batch)."""
    from redactify_spark.detect import kernel
    from redactify_spark.operators.detection import detect_mentions
    from redactify_spark.sources.pages import synth_pages, synth_text

    def batch_backend(texts):
        # the gazetteer default wrapped as a batched call: the wrapper
        # must reproduce the per-doc backend bit-for-bit
        return [kernel._gazetteer_ner(t) for t in texts]

    texts = [synth_text(i) for i in range(24)] + ["no entities", ""]
    try:
        kernel.set_ner_batch_backend(batch_backend)
        with_batch = kernel.detect_batch(texts)
        kernel.set_ner_batch_backend(None)
        without = kernel.detect_batch(texts)
        assert with_batch == without

        # Spark-level: the UDTF threads general_raw through untouched
        pages = synth_pages(spark, 24, partitions=2).localCheckpoint()

        def rows(df):
            return {tuple(r) for r in df.select(
                "url", "entity_group", "start", "end", "score",
                "detector", "pseudo_key").collect()}

        base = rows(detect_mentions(pages, id_col="url", text_col="text"))
        kernel.set_ner_batch_backend(batch_backend)
        # python workers are separate processes: a DRIVER-side
        # registration must not perturb the Spark output (production
        # registers inside the worker via the mapInPandas prologue, the
        # same hook try_load_hf_backend documents; the batch-path value
        # parity itself is pinned by the kernel-level assert above)
        assert rows(detect_mentions(pages, id_col="url",
                                    text_col="text")) == base
    finally:
        kernel.set_ner_batch_backend(None)


# --- IVF ANN -----------------------------------------------------------------

def test_ivf_topk(spark, embeddings):
    q = embeddings.where("vec_id = 3").first().embedding
    rows = S.ivf_topk(embeddings, list(q), k=10).collect()
    assert rows and rows[0].vec_id == 3 and abs(rows[0].cos - 1.0) < 1e-9
    exact = [r.vec_id for r in
             S.brute_force_topk(embeddings, list(q), k=10).collect()]
    recall = len({r.vec_id for r in rows} & set(exact)) / 10
    assert recall >= 0.4, (recall,)


def test_ivf_deterministic(spark, embeddings):
    c1 = S.ivf_centroids(embeddings, n_cells=8)
    c2 = S.ivf_centroids(embeddings, n_cells=8)
    assert (c1 == c2).all()


# --- embedding-cosine near-dup dedup -------------------------------------------

def test_embedding_dedup(spark, embeddings):
    from pyspark.sql import functions as F
    # plant two exact near-dups of vec 0 with new ids
    dup = (embeddings.where("vec_id = 0")
           .select((F.col("vec_id") + 100000).alias("vec_id"),
                   "embedding", "label"))
    dup2 = (embeddings.where("vec_id = 0")
            .select((F.col("vec_id") + 200000).alias("vec_id"),
                    F.transform("embedding",
                                lambda x: x * F.lit(1.0001)).alias("embedding"),
                    "label"))
    corpus = embeddings.unionByName(dup).unionByName(dup2)
    pairs = {(r.id_a, r.id_b) for r in
             D.embedding_dup_pairs(corpus, threshold=0.999).collect()}
    assert (0, 100000) in pairs and (0, 200000) in pairs


# --- unigram LM quality gate ---------------------------------------------

def test_unigram_nll_hand_fixture(spark):
    import math
    docs = spark.createDataFrame(
        [(0, "aa aa bb"), (1, "aa zz"), (2, "")],
        "doc_id long, text string")
    lm = X.fit_unigram_lm(docs)
    counts = {r.token: r.cnt for r in lm.collect()}
    assert counts == {"aa": 3, "bb": 1, "zz": 1}
    total, vocab = 5, 3
    out = {r.doc_id: (r.n_tokens, r.nll)
           for r in X.unigram_nll(docs, lm, total, vocab).collect()}
    denom = total + 1.0 * (vocab + 1)
    p = lambda c: (c + 1.0) / denom
    exp0 = -(2 * math.log(p(3)) + math.log(p(1))) / 3
    exp1 = -(math.log(p(3)) + math.log(p(1))) / 2
    assert out[0][0] == 3 and out[0][1] == pytest.approx(exp0)
    assert out[1][1] == pytest.approx(exp1)
    assert 2 not in out  # zero-token docs emit nothing


def test_unigram_nll_oov_scores_higher(spark):
    """Scoring held-out text: OOV tokens get the alpha floor, so
    out-of-distribution docs rank worse (higher NLL)."""
    train = spark.createDataFrame(
        [(0, "the cat sat on the mat " * 10)], "doc_id long, text string")
    lm = X.fit_unigram_lm(train)
    total = lm.agg(F.sum("cnt")).first()[0]
    vocab = lm.count()
    held = spark.createDataFrame(
        [(1, "the cat sat"), (2, "qqq zzz www")],
        "doc_id long, text string")
    out = {r.doc_id: r.nll
           for r in X.unigram_nll(held, lm, int(total), vocab).collect()}
    assert out[2] > out[1]


def test_duplicated_ngram_windows(spark):
    import hashlib
    shared = "one two three four five six seven eight"  # one 8-window
    rows = [(0, shared + " tail0"), (1, shared + " tail1"),
            (2, shared + " " + shared),  # window twice in one doc? no --
            # tokens: 16 of the same words -> the shared window recurs
            (3, "totally different words here with no repeats at all x")]
    d = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.window_md5: (r.n_occurrences, r.n_docs)
           for r in D.duplicated_ngram_windows(d, n=8,
                                               min_count=2).collect()}
    key = hashlib.md5(shared.encode()).hexdigest()
    occ, ndocs = out[key]
    # docs 0,1 contain it once each; doc 2's doubled text contains the
    # window at positions 1 and 9 (plus 7 straddling windows)
    assert occ == 4 and ndocs == 3
    # n_docs never exceeds n_occurrences, and every window repeated
    assert all(o >= 2 and nd <= o for o, nd in out.values())


# --- int8 quantization ----------------------------------------------------

def test_quantize_embeddings_bounds_and_zero(spark):
    rows = [(0, [0.5, -1.0, 0.25]), (1, [0.0, 0.0, 0.0])]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = {r.vec_id: (list(r.qvec), r.scale)
           for r in S.quantize_embeddings(df).collect()}
    q0, s0 = out[0]
    assert s0 == pytest.approx(1.0 / 127)
    assert q0 == [64, -127, 32]           # floor(x/scale + 0.5)
    assert all(-127 <= v <= 127 for v in q0)
    assert out[1] == ([0, 0, 0], 1.0)     # zero vector: scale 1.0


def test_quantized_recall_vs_float(spark, embeddings):
    """int8 cosine top-10 recalls >=0.9 of the float top-10 (real
    embeddings, not a synthetic easy case)."""
    qvec = embeddings.where("vec_id = 7").first().embedding
    exact = [r.vec_id
             for r in S.brute_force_topk(embeddings, list(qvec),
                                         k=10).collect()]
    qt = S.quantize_embeddings(embeddings)
    qrow = qt.where("vec_id = 7").first()
    approx = [r.vec_id
              for r in S.brute_force_topk(qt, list(qrow.qvec), k=10,
                                          vec_col="qvec").collect()]
    recall = len(set(exact) & set(approx)) / 10
    assert recall >= 0.9, (recall, exact, approx)


def test_null_and_empty_text_robustness(spark):
    """Dirty-crawl rows (null / empty / whitespace text) flow through
    every native text operator without errors or spurious output."""
    from redactify_spark.operators import curation as CU
    dirty = spark.createDataFrame(
        [(0, None, "en"), (1, "", "en"), (2, "   ", "de"),
         (3, "real text with several words here", "en")],
        "doc_id long, text string, lang string")

    # chunking: nothing for null/empty/blank
    assert {r.doc_id for r in CU.chunk_documents(dirty).collect()} == {3}
    # tfidf: only the real doc produces keywords
    assert {r.doc_id for r in X.tfidf_topk(dirty, k=2).collect()} == {3}
    # unigram LM: null/empty contribute no tokens, scoring skips them
    lm = X.fit_unigram_lm(dirty)
    assert lm.count() == 6
    scored = X.unigram_nll(dirty, lm, 6, 6)
    assert {r.doc_id for r in scored.collect()} == {3}
    # native LSH families: null/empty hash to the empty-gram set and
    # pair with each other (deterministically), never crash
    pairs = D.minhash_native_pairs(dirty, threshold=0.5).collect()
    ids = {i for r in pairs for i in (r.id_a, r.id_b)}
    assert 3 not in ids
    sh = D.doc_simhash_native(dirty).collect()
    assert len(sh) == 4
    # boilerplate removal treats null text as empty (doc drops out)
    out = CU.remove_boilerplate_lines(dirty, n_docs=4, min_doc_frac=0.9)
    kept = {r.doc_id for r in out.collect()}
    assert 3 in kept and 0 not in kept


def test_minhash_native_rejects_short_signature(spark, docs):
    with pytest.raises(ValueError):
        D.minhash_native_pairs(docs, n_hashes=16, n_bands=16)


def test_hf_backend_loader_wiring_with_stub_transformers(monkeypatch):
    """Exercise try_load_hf_backend's REAL loading path (not just the
    ImportError gate) by injecting a stub `transformers` module whose
    pipeline mimics HF's API: single-text call returns entity dicts,
    list call returns per-text lists batched with batch_size.  Verifies
    pipeline construction args, result conversion, and that BOTH the
    per-doc and batched backends are registered and reach
    detect_document output."""
    import sys
    import types

    from redactify_spark.detect import kernel

    built = {}

    def fake_pipeline(task, model=None, aggregation_strategy=None,
                      device=None):
        built.update(task=task, model=model,
                     aggregation_strategy=aggregation_strategy,
                     device=device)

        def nlp(x, batch_size=None):
            def ents(text):
                i = text.find("Zanzibar Corp")
                if i < 0:
                    return []
                return [{"entity_group": "ORG", "start": i,
                         "end": i + len("Zanzibar Corp"),
                         "score": 0.97, "word": "Zanzibar Corp"}]
            if isinstance(x, list):
                assert batch_size == 32
                return [ents(t) for t in x]
            return ents(x)
        return nlp

    stub = types.ModuleType("transformers")
    stub.pipeline = fake_pipeline
    monkeypatch.setitem(sys.modules, "transformers", stub)
    try:
        assert kernel.try_load_hf_backend("my/model") is True
        assert built == {"task": "ner", "model": "my/model",
                         "aggregation_strategy": "simple", "device": -1}
        assert kernel._NER_BATCH_BACKEND is not None

        text = "we visited Zanzibar Corp yesterday"
        ments = kernel.detect_document(text)
        # the model span survives the post-processing chain: P8
        # normalizes ORG -> ORGANIZATION and the detector label follows
        # the reference's mapping table
        hits = [m for m in ments
                if m.get("original_label") == "ORG"
                and m["entity_group"] == "ORGANIZATION"]
        assert hits and text[hits[0]["start"]:hits[0]["end"]] \
            == "Zanzibar Corp"
        assert hits[0]["score"] == pytest.approx(0.97)
        # batched path returns the same spans
        per_batch = kernel._NER_BATCH_BACKEND([text, "nothing here"])
        assert per_batch[0][0]["start"] == hits[0]["start"]
        assert per_batch[1] == []
    finally:
        kernel.set_ner_batch_backend(None)


def test_wide_minhash_bucket_count_band_guard(spark):
    """n_hashes < 2*n_bands would read NULL past the signature and
    silently undercount -- must raise like minhash_native_pairs."""
    import pytest
    from redactify_spark.operators.dedup import wide_minhash_bucket_count
    docs = spark.createDataFrame([(1, "a b c d")], "doc_id long, text string")
    with pytest.raises(ValueError, match="n_bands"):
        wide_minhash_bucket_count(docs, n_hashes=8, n_bands=16)


def _stub_transformers(monkeypatch, built, label, surface):
    """Install a stub `transformers` whose pipeline records construction
    args and emits one `label` span over `surface` when present."""
    import sys
    import types

    def fake_pipeline(task, model=None, aggregation_strategy=None,
                      device=None):
        built.update(task=task, model=model,
                     aggregation_strategy=aggregation_strategy,
                     device=device)

        def nlp(text):
            i = text.find(surface)
            if i < 0:
                return []
            return [{"entity_group": label, "start": i,
                     "end": i + len(surface), "score": 0.8,
                     "word": surface}]
        return nlp

    stub = types.ModuleType("transformers")
    stub.pipeline = fake_pipeline
    monkeypatch.setitem(sys.modules, "transformers", stub)


def test_medical_hf_backend_loader_wiring_with_stub(monkeypatch):
    """try_load_medical_hf_backend's REAL load path: pipeline args match
    the reference (medical_ner.py:62-67), raw labels are remapped via
    MEDICAL_LABEL_MAP, and the x1.1 medical-context boost applies."""
    from redactify_spark.detect import kernel

    built = {}
    _stub_transformers(monkeypatch, built, "PATIENT", "Maria Gonzalez")
    try:
        assert kernel.try_load_medical_hf_backend() is True
        assert built == {"task": "ner",
                         "model": "obi/deid_roberta_i2b2",
                         "aggregation_strategy": "simple", "device": -1}
        assert kernel._MEDICAL_BACKEND is not None

        text = "the patient Maria Gonzalez was admitted to the hospital"
        out = kernel._run_medical_model(text)
        assert len(out) == 1
        # PATIENT -> PERSON via MEDICAL_LABEL_MAP; medical context
        # ('patient', 'hospital', 'admitted') fires the x1.1 boost
        assert out[0]["entity_group"] == "PERSON"
        assert text[out[0]["start"]:out[0]["end"]] == "Maria Gonzalez"
        assert out[0]["score"] == pytest.approx(min(1.0, 0.8 * 1.1))

        # no medical context -> no boost
        plain = kernel._run_medical_model("Maria Gonzalez won the race")
        assert plain[0]["score"] == pytest.approx(0.8)
    finally:
        kernel.set_medical_backend(None)


def test_pii_hf_backend_loader_wiring_with_stub(monkeypatch):
    """try_load_pii_hf_backend's REAL load path: pipeline args match the
    reference (pii_specialized_ner.py:97-103), the dedicated backend
    takes precedence over shared general spans, and its labels flow
    through the D9 mapping + context boost."""
    from redactify_spark.detect import kernel

    built = {}
    _stub_transformers(monkeypatch, built, "MISC", "XK-42-FOO")
    try:
        assert kernel.try_load_pii_hf_backend() is True
        assert built == {
            "task": "ner",
            "model": "dbmdz/bert-large-cased-finetuned-conll03-english",
            "aggregation_strategy": "simple", "device": -1}
        assert kernel._PII_MODEL_BACKEND is not None

        text = "employee id number XK-42-FOO on file"
        out = kernel._run_pii_specialized(text, kernel._AnchorIndex(text),
                                          general_raw=[])
        hits = [e for e in out
                if text[e["start"]:e["end"]] == "XK-42-FOO"
                and e.get("detector") == "pii_specialized_ner_model"]
        # MISC -> PII_IDENTIFIER (D9 mapping); 'id number' context
        # indicator fires the x1.1 boost
        assert hits and hits[0]["entity_group"] == "PII_IDENTIFIER"
        assert hits[0]["score"] == pytest.approx(min(1.0, 0.8 * 1.1))

        # precedence: general_raw passed in is IGNORED when the
        # dedicated backend is registered (reference runs its own model)
        out2 = kernel._run_pii_specialized(
            text, kernel._AnchorIndex(text),
            general_raw=[{"entity_group": "ORG", "start": 0,
                          "end": 8, "score": 0.99, "word": "employee"}])
        assert not [e for e in out2 if e.get("original_label") == "ORG"]
    finally:
        kernel.set_pii_model_backend(None)


def test_ann_stored_index_matches_inline(spark):
    """The scale path (precomputed signature / cell-id columns) must
    return exactly what the inline computation returns."""
    import numpy as np
    from pyspark.sql import functions as F
    from redactify_spark.operators import similarity as S

    dim, n = 16, 300
    rows = []
    for i in range(n):
        v = np.sin(np.arange(dim) * (i + 1) * 0.7) + 0.1 * (i % 7)
        rows.append((i, [float(x) for x in v]))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    q = [float(x) for x in np.sin(np.arange(dim) * 5 * 0.7)]

    planes = S._hyperplanes(dim, 6)
    cents = S.fixed_centroids(dim, 8)
    indexed = (emb
               .withColumn("sig", S.signature_expr(F.col("embedding"), planes))
               .withColumn("cell", S.cell_assign_expr(F.col("embedding"),
                                                      cents)))

    inline_lsh = S.lsh_topk(emb, q, k=5, dim=dim, n_planes=6).collect()
    stored_lsh = S.lsh_topk(indexed, q, k=5, dim=dim, n_planes=6,
                            sig_col="sig").collect()
    assert [(r.vec_id, round(r.cos, 9)) for r in inline_lsh] \
        == [(r.vec_id, round(r.cos, 9)) for r in stored_lsh]

    inline_ivf = S.ivf_topk(emb, q, k=5, n_cells=8, n_probe=3,
                            centroids=cents).collect()
    stored_ivf = S.ivf_topk(indexed, q, k=5, n_cells=8, n_probe=3,
                            centroids=cents, cell_col="cell").collect()
    assert [(r.vec_id, round(r.cos, 9)) for r in inline_ivf] \
        == [(r.vec_id, round(r.cos, 9)) for r in stored_ivf]


def test_bm25_hand_fixture(spark):
    """BM25 against a 3-doc corpus, hand-computed."""
    import math
    from redactify_spark.operators.textstats import bm25_scores
    docs = spark.createDataFrame(
        [(1, "spark spark is fast"),
         (2, "duck runs fast"),
         (3, "spark and duck")],
        "doc_id long, text string")
    out = {r.doc_id: (r.n_terms, r.score)
           for r in bm25_scores(docs, ["spark", "duck"]).collect()}
    # dl: 4, 3, 3 -> avgdl = 10/3 rounded to 6
    avgdl = round(10 / 3, 6)
    n = 3.0

    def idf(df):
        return math.log((n - df + 0.5) / (df + 0.5) + 1.0)

    def part(tf, dl, df):
        return idf(df) * tf * 2.2 / (tf + 1.2 * (0.25 + 0.75 * dl / avgdl))

    assert set(out) == {1, 2, 3}
    assert out[1][0] == 1
    assert out[1][1] == pytest.approx(part(2, 4, 2))   # spark df=2
    assert out[2][1] == pytest.approx(part(1, 3, 2))   # duck df=2
    assert out[3][0] == 2
    assert out[3][1] == pytest.approx(part(1, 3, 2) * 2)
    # doc with no query term is excluded
    docs2 = docs.union(spark.createDataFrame([(4, "nothing here")],
                                             docs.schema))
    assert 4 not in {r.doc_id
                     for r in bm25_scores(docs2, ["spark"]).collect()}


def test_blocked_levenshtein_pairs(spark):
    """Blocking finds same-block pairs within max_dist, drops and counts
    over-wide blocks, and documents the first-char recall bound."""
    from redactify_spark.operators.linking import (
        blocked_levenshtein_pairs, wide_levenshtein_block_count)
    names = ["red widget", "red widget", "red gadget", "blue bolt",
             "blue boat", "zed widget"]
    df = spark.createDataFrame([(x,) for x in names], "p_name string")
    pairs = {(r.name_a, r.name_b, r.dist)
             for r in blocked_levenshtein_pairs(df, "p_name",
                                                max_dist=3).collect()}
    assert ("red gadget", "red widget", 2) in pairs
    assert ("blue boat", "blue bolt", 1) in pairs
    # 'zed widget' ~ 'red widget' is dist 1 but first char differs:
    # different block, not found -- the documented recall bound
    assert not any("zed widget" in p for p in pairs)

    # cap: a flooded block is dropped and counted
    flood = spark.createDataFrame(
        [(f"aaaa{i:04d}",) for i in range(100)], "p_name string")
    assert wide_levenshtein_block_count(flood, "p_name", max_block=64) == 1
    assert blocked_levenshtein_pairs(flood, "p_name",
                                     max_block=64).count() == 0


def test_word_containment_embedded_doc(spark):
    """A short doc fully quoted inside a long one: containment ~1.0 in
    the small->large direction while Jaccard stays low (the case the
    symmetric metric structurally misses)."""
    from redactify_spark.operators.dedup import (
        word_containment_pairs_native, word_jaccard_pairs_native)
    small = "alpha beta gamma delta epsilon"
    filler = " ".join(f"word{i}" for i in range(60))
    docs = spark.createDataFrame(
        [(1, small, "s"), (2, filler + " " + small + " " + filler, "s"),
         (3, "totally unrelated text here", "s")],
        "doc_id long, text string, source string")
    cont = {(r.id_a, r.id_b): (round(r.cont_a, 3), round(r.cont_b, 3))
            for r in word_containment_pairs_native(
                docs, threshold=0.9).collect()}
    assert (1, 2) in cont
    assert cont[(1, 2)][0] == 1.0      # all of doc1's grams inside doc2
    assert cont[(1, 2)][1] < 0.1       # tiny fraction of doc2
    assert (1, 3) not in cont
    # symmetric Jaccard misses the same pair at any useful threshold
    jac = word_jaccard_pairs_native(docs, threshold=0.3)
    assert (1, 2) not in {(r.id_a, r.id_b) for r in jac.collect()}


def test_new_text_ops_null_empty_unicode(spark):
    """bm25 / containment / gap-fill survive null, empty, and unicode
    inputs (the driver's standard edge probes)."""
    from redactify_spark.operators.dedup import word_containment_pairs_native
    from redactify_spark.operators.textstats import bm25_scores
    docs = spark.createDataFrame(
        [(1, None, "s"), (2, "", "s"), (3, "   ", "s"),
         (4, "café naïve résumé spark", "s"), (5, "spark spark", "s")],
        "doc_id long, text string, source string")
    scores = {r.doc_id for r in bm25_scores(docs, ["spark"]).collect()}
    assert scores == {4, 5}          # null/empty/blank contribute nothing
    pairs = word_containment_pairs_native(docs, threshold=0.5).collect()
    ids = {i for r in pairs for i in (r.id_a, r.id_b)}
    assert 1 not in ids              # null text never pairs


def test_real_image_codec_roundtrip_and_phash(spark):
    """PPM encode/decode round-trips exactly; BMP decode agrees; pHash
    is identical for identical images, near for noised copies, far for
    different images."""
    import struct

    img = np.zeros((20, 24, 3), dtype=np.uint8)
    yy, xx = np.mgrid[0:20, 0:24]
    img[..., 0] = (xx * 10) % 256
    img[..., 1] = (yy * 12) % 256
    img[..., 2] = (xx + yy) % 256

    ppm = M.encode_ppm(img)
    back = M.decode_image(ppm)
    assert back.dtype == np.uint8 and (back == img).all()

    # hand-rolled 24-bit BMP of the same pixels must decode identically
    h, w = img.shape[:2]
    stride = (w * 3 + 3) & ~3
    body = b""
    for row in img[::-1]:                      # bottom-up, BGR, padded
        body += row[:, ::-1].tobytes() + b"\x00" * (stride - w * 3)
    header = (b"BM" + struct.pack("<IHHI", 54 + len(body), 0, 0, 54)
              + struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0,
                            len(body), 2835, 2835, 0, 0))
    assert (M.decode_image(header + body) == img).all()

    # pHash: use a TEXTURED image (hash blocks) -- a smooth gradient
    # concentrates all DCT energy in the same low bins and pHash cannot
    # separate anything, which is a property of the hash, not a bug
    import hashlib as _h
    raw = b"".join(_h.md5(f"t{j}".encode()).digest() for j in range(9))
    grid = np.frombuffer(raw[:108], dtype=np.uint8).reshape(6, 6, 3)
    tex = np.repeat(np.repeat(grid, 8, axis=0), 8, axis=1)
    h0 = M.phash64(tex)
    assert h0 == M.phash64(tex.copy())
    noisy = np.clip(tex.astype(np.int16)
                    + np.arange(tex.size).reshape(tex.shape) % 7 - 3,
                    0, 255).astype(np.uint8)
    raw2 = b"".join(_h.md5(f"u{j}".encode()).digest() for j in range(9))
    other = np.repeat(np.repeat(
        np.frombuffer(raw2[:108], dtype=np.uint8).reshape(6, 6, 3),
        8, axis=0), 8, axis=1)
    assert bin(h0 ^ M.phash64(noisy)).count("1") <= 8
    assert bin(h0 ^ M.phash64(other)).count("1") >= 16


def test_png_codec_roundtrip_all_filters_and_phash_parity(spark):
    """PNG decode (stdlib zlib, VERDICT r4 #4): (a) encode_png ->
    decode round-trips exactly and matches the PPM decode of the same
    pixels (pHash parity included); (b) a hand-FILTERED PNG exercising
    every scanline filter type (None/Sub/Up/Average/Paeth, spec 9.2)
    decodes back to the original; (c) RGBA drops alpha, grayscale
    broadcasts; (d) palette/interlace stay honest
    NotImplementedError boundaries."""
    import struct
    import zlib

    img = np.zeros((25, 31, 3), dtype=np.uint8)
    yy, xx = np.mgrid[0:25, 0:31]
    img[..., 0] = (xx * 9 + yy * 3) % 256
    img[..., 1] = (yy * 11) % 256
    img[..., 2] = (xx * xx + yy) % 256

    # (a) own-encoder round trip + PPM/PNG decode parity + pHash parity
    png = M.encode_png(img)
    assert (M.decode_image(png) == img).all()
    assert (M.decode_image(M.encode_ppm(img)) == M.decode_image(png)).all()
    assert M.phash64(M.decode_image(png)) == M.phash64(img)

    # (b) reference-filtered PNG: apply each forward filter per spec,
    # cycling through types 0..4 row by row
    h, w, bpp = img.shape[0], img.shape[1], 3
    flat = img.reshape(h, w * bpp).astype(np.int32)
    lines = []
    for y in range(h):
        ftype = y % 5
        cur, prev = flat[y], (flat[y - 1] if y else np.zeros(w * bpp,
                                                            dtype=np.int32))
        filt = np.empty(w * bpp, dtype=np.int32)
        for x in range(w * bpp):
            a = cur[x - bpp] if x >= bpp else 0
            b = prev[x]
            c = prev[x - bpp] if x >= bpp else 0
            if ftype == 0:
                pred = 0
            elif ftype == 1:
                pred = a
            elif ftype == 2:
                pred = b
            elif ftype == 3:
                pred = (a + b) >> 1
            else:
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pred = a if (pa <= pb and pa <= pc) else \
                    (b if pb <= pc else c)
            filt[x] = (cur[x] - pred) & 0xFF
        lines.append(bytes([ftype]) + filt.astype(np.uint8).tobytes())

    def chunk(tag, body):
        return (struct.pack(">I", len(body)) + tag + body
                + struct.pack(">I", zlib.crc32(tag + body) & 0xFFFFFFFF))

    ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)
    ref_png = (b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", ihdr)
               + chunk(b"IDAT", zlib.compress(b"".join(lines)))
               + chunk(b"IEND", b""))
    assert (M.decode_image(ref_png) == img).all()

    # (c) RGBA -> alpha dropped; grayscale -> 3-channel broadcast
    rgba = np.dstack([img, ((xx + yy) % 256).astype(np.uint8)])
    assert (M.decode_image(M.encode_png(rgba)) == img).all()
    gray = img[..., 0]
    graw = np.concatenate([np.zeros((h, 1), np.uint8), gray], axis=1)
    gpng = (b"\x89PNG\r\n\x1a\n"
            + chunk(b"IHDR", struct.pack(">IIBBBBB", w, h, 8, 0, 0, 0, 0))
            + chunk(b"IDAT", zlib.compress(graw.tobytes()))
            + chunk(b"IEND", b""))
    gdec = M.decode_image(gpng)
    assert gdec.shape == (h, w, 3) and (gdec[..., 0] == gray).all() \
        and (gdec[..., 1] == gray).all()

    # (d) honest boundaries: palette color type, Adam7 interlace
    for ct, il in ((3, 0), (2, 1)):
        bad = (b"\x89PNG\r\n\x1a\n"
               + chunk(b"IHDR", struct.pack(">IIBBBBB", w, h, 8, ct, 0,
                                            0, il))
               + chunk(b"IDAT", zlib.compress(b"\x00" * (h * (1 + w))))
               + chunk(b"IEND", b""))
        with pytest.raises(NotImplementedError):
            M.decode_image(bad)


def test_image_phash_dedup_pipeline(spark):
    """REAL decode end to end on Spark: planted near-dup images pair up
    by perceptual hash; unrelated images do not."""
    media = M.synth_image_media(spark, 40, partitions=3)
    hashes = M.image_phashes(media)
    assert hashes.count() == 40
    pairs = {(r.id_a, r.id_b): r.hamming
             for r in M.phash_dup_pairs(hashes, max_hamming=10).collect()}
    planted = {(i - 1, i) for i in range(1, 40, 10)}
    assert planted <= set(pairs), (sorted(pairs), sorted(planted))
    for p in planted:
        assert pairs[p] <= 10
    # no cross-pairing of unrelated base images at this tolerance
    assert not {p for p in pairs if p not in planted
                and p[1] - p[0] != 1}, pairs


def test_q101_image_phash_dedup_exact_gate(spark):
    """Exact gate for the rows-only registry entry
    q101_image_phash_dedup: at 200 synthetic images the planted
    near-dups are exactly (i-1, i) for i % 10 == 1, and the banded
    hamming join must return precisely that pair set (no misses, no
    accidental cross-pairs)."""
    import __spark_entry__ as entry
    rows = entry.queries()["q101_image_phash_dedup"](
        spark, "/root/testdata/sf0.001").collect()
    got = {(r.id_a, r.id_b) for r in rows}
    assert got == {(i - 1, i) for i in range(1, 200, 10)}
    assert all(r.hamming <= 10 for r in rows)


def test_synth_image_media_non_multiple_of_8_size(spark):
    """Regression (r3 ADVICE): size=50 rounds down to 48x48 blocks; the
    planted-dup noise array must be shaped to the ACTUAL payload dims,
    not the requested size (used to raise a numpy broadcast error)."""
    media = M.synth_image_media(spark, 12, size=50, partitions=2)
    rows = media.collect()
    assert len(rows) == 12
    for r in rows:
        assert r.meta["width"] == 48 and r.meta["height"] == 48
        img = M.decode_image(bytes(r.payload))
        assert img.shape == (48, 48, 3)


def test_dedup_minhash_native_engine(spark):
    """engine='native' must remove planted near-dup copies and keep the
    min-id representative, same contract as the Python kernel engine;
    unknown engines fail loudly."""
    from redactify_spark.operators.dedup import dedup_minhash
    base = ("the quick brown fox jumps over the lazy dog and then "
            "runs far away into the deep green forest tonight")
    rows = [(1, base), (2, base + " extra"),          # near-dups of 1
            (3, "completely different text about spark shuffles and "
                "partitions with nothing shared at all here")]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    kept_native = {r.doc_id for r in
                   dedup_minhash(df, threshold=0.7,
                                 engine="native").collect()}
    assert kept_native == {1, 3}
    kept_py = {r.doc_id for r in
               dedup_minhash(df, threshold=0.7,
                             engine="python").collect()}
    assert kept_py == {1, 3}
    import pytest as _pt
    with _pt.raises(ValueError):
        dedup_minhash(df, engine="nope")
