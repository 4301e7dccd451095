"""Char-n-gram-profile language identification (VERDICT r3 #5).

The classic character-trigram text-categorization method (Cavnar &
Trenkle 1994, "N-Gram-Based Text Categorization", re-popularized as the
multinomial-NB variant by langid.py, Lui & Baldwin 2012): each language
gets a trigram profile built from a vendored sample text; a document is
classified by summing per-trigram log-probabilities and taking the
argmax.  Everything is deterministic and offline -- the samples below
are the ONLY training data, so the profile build is reproducible from
this file alone.

Engine shape (fully native, no Python in the scoring path):
  doc -> normalize (lower, accent-fold, non-letters to space, pad)
      -> explode char trigrams                      (narrow)
      -> broadcast-join the profile table           (vocab x langs rows,
         a few thousand -- always broadcastable)
      -> groupBy (doc, lang) sum log-probs          (map-side combinable;
         the shuffle carries at most n_docs x n_langs rows)
      -> per-doc argmax window                      (per-doc partition)
Log-probs are pre-quantized to integer MICRO-log units (floor(x*1e6 +
0.5)), so score sums are exact integers and the DuckDB oracle -- which
REBUILDS the same profiles in SQL from the same sample strings -- gets
bit-identical scores regardless of float summation order.

Scale: the profile is constant-size; per-doc cost is linear in text
length; no stage depends on corpus size except the one combinable
groupBy.  Trigrams not in the fixed vocabulary are dropped before the
shuffle (the langid.py feature-set restriction), so boilerplate-heavy
corpora do not inflate it.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# Accent folding map (1 codepoint -> 1 codepoint, applied after
# lower()).  Shared VERBATIM with the DuckDB oracle via oracle_sql()'s
# interpolation -- edit only here.
ACCENT_MAP = {
    "á": "a", "à": "a", "â": "a", "ä": "a", "ã": "a", "å": "a", "ă": "a",
    "ą": "a", "é": "e", "è": "e", "ê": "e", "ë": "e", "ę": "e", "í": "i",
    "ì": "i", "î": "i", "ï": "i", "ı": "i", "ó": "o", "ò": "o", "ô": "o",
    "ö": "o", "õ": "o", "ú": "u", "ù": "u", "û": "u", "ü": "u", "ç": "c",
    "ć": "c", "č": "c", "ñ": "n", "ń": "n", "ý": "y", "ś": "s", "ş": "s",
    "š": "s", "ß": "s", "ź": "z", "ż": "z", "ž": "z", "ł": "l", "ğ": "g",
    "ț": "t", "ș": "s", "œ": "e", "æ": "e", "ř": "r", "ď": "d", "đ": "d",
    # Cyrillic folds: ё->е (standard ru), ґ->г (uk; і/ї/є carry the
    # uk-vs-ru signal, ґ is too rare to matter)
    "ё": "е", "ґ": "г",
    # Greek: tonos/dialytika accents + final sigma
    "ά": "α", "έ": "ε", "ή": "η", "ί": "ι", "ό": "ο", "ύ": "υ",
    "ώ": "ω", "ϊ": "ι", "ϋ": "υ", "ΐ": "ι", "ΰ": "υ", "ς": "σ",
    # Arabic orthographic normalization: alef variants, alef maqsura,
    # teh marbuta (the standard IR folding)
    "أ": "ا", "إ": "ا", "آ": "ا", "ى": "ي", "ة": "ه",
}
ACCENTS_FROM = "".join(ACCENT_MAP)
ACCENTS_TO = "".join(ACCENT_MAP.values())

# Characters DELETED outright before the keep-class replace (a 'to'
# shorter than 'from' in translate() deletes -- same semantics in Spark
# and DuckDB): Arabic tashkeel diacritics + tatweel, which sit INSIDE
# words (mapping them to space would split every vocalized word).
STRIP_CHARS = "".join(chr(c) for c in range(0x064B, 0x0653)) + "ـ"

# Letter classes the normalizer KEEPS (everything else becomes a word
# break).  Post-fold lowercase only: ASCII Latin, Russian/Ukrainian
# Cyrillic (і ї є are the uk extras), unaccented Greek, Arabic base
# letters.  Scripts without trigram profiles (CJK, Thai, Hebrew,
# Devanagari) are handled at SCRIPT level by lang_id_script below, so
# the trigram normalizer deliberately drops them.
KEEP_CLASS = "[^a-zа-яіїєα-ωء-ي]+"

# Vendored training samples: ~70 words of generic prose per language
# (function-word-dense on purpose; apostrophes avoided so the strings
# embed directly in SQL).  These are the entire training corpus.
LANG_SAMPLES = {
    "en": ("the quick brown fox jumps over the lazy dog and the people "
           "who were there said that it was one of the best things they "
           "had ever seen in their lives because there is nothing better "
           "than a good story about what happened when everyone was "
           "young and the world seemed full of things to do and places "
           "to go with friends and family during the long summer days"),
    "de": ("der schnelle braune fuchs springt über den faulen hund und "
           "die leute die dort waren sagten dass es eines der besten "
           "dinge war die sie je in ihrem leben gesehen hatten denn es "
           "gibt nichts besseres als eine gute geschichte darüber was "
           "geschah als alle jung waren und die welt voller dinge schien "
           "die man mit freunden und familie während der langen "
           "sommertage tun konnte"),
    "fr": ("le renard brun rapide saute par dessus le chien paresseux "
           "et les gens qui étaient là ont dit que c était une des "
           "meilleures choses qu ils avaient jamais vues dans leur vie "
           "parce qu il n y a rien de mieux qu une bonne histoire sur ce "
           "qui s est passé quand tout le monde était jeune et que le "
           "monde semblait plein de choses à faire et d endroits où "
           "aller avec des amis et la famille pendant les longues "
           "journées d été"),
    "es": ("el rápido zorro marrón salta sobre el perro perezoso y la "
           "gente que estaba allí dijo que era una de las mejores cosas "
           "que habían visto en su vida porque no hay nada mejor que una "
           "buena historia sobre lo que pasó cuando todos eran jóvenes y "
           "el mundo parecía lleno de cosas que hacer y lugares a donde "
           "ir con amigos y familia durante los largos días de verano"),
    "it": ("la rapida volpe marrone salta sopra il cane pigro e le "
           "persone che erano lì hanno detto che era una delle cose "
           "migliori che avessero mai visto nella loro vita perché non c "
           "è niente di meglio di una bella storia su ciò che accadde "
           "quando tutti erano giovani e il mondo sembrava pieno di cose "
           "da fare e di posti dove andare con gli amici e la famiglia "
           "durante le lunghe giornate d estate"),
    "pt": ("a rápida raposa marrom salta sobre o cão preguiçoso e as "
           "pessoas que estavam lá disseram que foi uma das melhores "
           "coisas que já tinham visto na vida porque não há nada melhor "
           "do que uma boa história sobre o que aconteceu quando todos "
           "eram jovens e o mundo parecia cheio de coisas para fazer e "
           "lugares para ir com amigos e família durante os longos dias "
           "de verão"),
    "nl": ("de snelle bruine vos springt over de luie hond en de mensen "
           "die daar waren zeiden dat het een van de beste dingen was "
           "die ze ooit in hun leven hadden gezien want er is niets "
           "beters dan een goed verhaal over wat er gebeurde toen "
           "iedereen jong was en de wereld vol leek met dingen om te "
           "doen en plaatsen om naartoe te gaan met vrienden en familie "
           "tijdens de lange zomerdagen"),
    "sv": ("den snabba bruna räven hoppar över den lata hunden och "
           "människorna som var där sade att det var en av de bästa "
           "sakerna de någonsin sett i sina liv eftersom det inte finns "
           "något bättre än en bra berättelse om vad som hände när alla "
           "var unga och världen verkade full av saker att göra och "
           "platser att besöka med vänner och familj under de långa "
           "sommardagarna"),
    "pl": ("szybki brązowy lis skacze nad leniwym psem a ludzie którzy "
           "tam byli powiedzieli że to była jedna z najlepszych rzeczy "
           "jakie kiedykolwiek widzieli w swoim życiu ponieważ nie ma "
           "nic lepszego niż dobra opowieść o tym co się wydarzyło gdy "
           "wszyscy byli młodzi a świat wydawał się pełen rzeczy do "
           "zrobienia i miejsc do odwiedzenia z przyjaciółmi i rodziną "
           "podczas długich letnich dni"),
    "tr": ("hızlı kahverengi tilki tembel köpeğin üzerinden atlar ve "
           "orada olan insanlar bunun hayatlarında gördükleri en iyi "
           "şeylerden biri olduğunu söylediler çünkü herkesin genç "
           "olduğu ve dünyanın arkadaşlar ve aile ile uzun yaz "
           "günlerinde yapılacak şeylerle ve gidilecek yerlerle dolu "
           "göründüğü zamanlar hakkında güzel bir hikayeden daha iyi bir "
           "şey yoktur"),
    # Non-Latin-script languages (VERDICT r4 #3).  Same generic prose,
    # function-word dense; Greek written without tonos (held-out
    # accented text folds to match via ACCENT_MAP).
    "ru": ("быстрая коричневая лиса прыгает через ленивую собаку и "
           "люди которые были там сказали что это была одна из лучших "
           "вещей которые они когда либо видели в своей жизни потому "
           "что нет ничего лучше чем хорошая история о том что "
           "случилось когда все были молоды и мир казался полным дел "
           "которые можно было делать и мест куда можно было пойти с "
           "друзьями и семьей в течение долгих летних дней"),
    "uk": ("швидка коричнева лисиця стрибає через ледачого собаку і "
           "люди які були там сказали що це була одна з найкращих "
           "речей які вони коли небудь бачили у своєму житті тому що "
           "немає нічого кращого ніж гарна історія про те що сталося "
           "коли всі були молоді і світ здавався повним справ які "
           "можна було робити і місць куди можна було піти з друзями "
           "і родиною протягом довгих літніх днів"),
    "el": ("η γρηγορη καφε αλεπου πηδαει πανω απο τον τεμπελη σκυλο "
           "και οι ανθρωποι που ηταν εκει ειπαν οτι ηταν ενα απο τα "
           "καλυτερα πραγματα που ειχαν δει ποτε στη ζωη τους γιατι "
           "δεν υπαρχει τιποτα καλυτερο απο μια καλη ιστορια για το τι "
           "συνεβη οταν ολοι ηταν νεοι και ο κοσμος φαινοταν γεματος "
           "πραγματα να κανεις και μερη να πας με φιλους και "
           "οικογενεια κατα τη διαρκεια των μεγαλων καλοκαιρινων "
           "ημερων"),
    "ar": ("الثعلب البني السريع يقفز فوق الكلب الكسول والناس الذين "
           "كانوا هناك قالوا انها كانت واحدة من افضل الاشياء التي "
           "رأوها في حياتهم لانه لا يوجد شيء افضل من قصة جيدة عن ما "
           "حدث عندما كان الجميع صغارا وبدا العالم مليئا بالاشياء "
           "التي يمكن القيام بها والاماكن التي يمكن الذهاب اليها مع "
           "الاصدقاء والعائلة خلال ايام الصيف الطويلة"),
}

TOP_K = 60  # trigrams kept per language (ties: count desc, trigram asc)


def _normalize_py(s: str) -> str:
    """Python mirror of the native normalization: lower -> accent-fold
    -> strip in-word diacritics -> non-letter runs to single space ->
    trim.  Used only to build the profile from the vendored samples
    (tiny, driver-side)."""
    import re
    s = s.lower().translate(str.maketrans(ACCENTS_FROM, ACCENTS_TO))
    s = s.translate({ord(c): None for c in STRIP_CHARS})
    return re.sub(KEEP_CLASS, " ", s).strip()


def _trigrams_py(s: str) -> list[str]:
    p = f" {s} "
    return [p[i:i + 3] for i in range(len(p) - 2)]


def build_profiles() -> tuple[list[tuple[str, str, int]], int]:
    """-> (rows, vocab_size): dense (ngram, lang, logp_micro) over
    vocab x languages, where vocab is the union of each language's
    TOP_K most frequent sample trigrams and logp_micro =
    floor(ln((cnt+1)/(tot+V))*1e6 + 0.5) with tot = that language's
    total count over the vocab (add-one smoothing over the restricted
    feature set -- the langid.py construction)."""
    counts: dict[str, dict[str, int]] = {}
    for lang, sample in LANG_SAMPLES.items():
        c: dict[str, int] = {}
        for g in _trigrams_py(_normalize_py(sample)):
            c[g] = c.get(g, 0) + 1
        counts[lang] = c
    vocab: set[str] = set()
    for lang, c in counts.items():
        top = sorted(c.items(), key=lambda kv: (-kv[1], kv[0]))[:TOP_K]
        vocab.update(g for g, _ in top)
    v = len(vocab)
    rows = []
    for lang, c in counts.items():
        tot = sum(c.get(g, 0) for g in vocab)
        for g in sorted(vocab):
            lp = math.log((c.get(g, 0) + 1) / (tot + v))
            rows.append((g, lang, int(math.floor(lp * 1e6 + 0.5))))
    return rows, v


def normalize_expr(text: Column) -> Column:
    """Native mirror of _normalize_py (translate with a shorter 'to'
    DELETES the extra 'from' chars -- same in Spark and DuckDB)."""
    folded = F.translate(F.lower(text), ACCENTS_FROM, ACCENTS_TO)
    stripped = F.translate(folded, STRIP_CHARS, "")
    return F.trim(F.regexp_replace(stripped, KEEP_CLASS, " "))


def _profile_arrays():
    """Vectorized-scorer view of build_profiles(): (langs sorted asc,
    sorted int64 trigram codes, (V, L) int64 logp matrix).  A trigram
    "abc" encodes as cp(a)<<42 | cp(b)<<21 | cp(c) -- 21 bits per
    codepoint covers all of Unicode, 63 bits total."""
    import numpy as np
    rows, _ = build_profiles()
    langs = sorted({lang for _, lang, _ in rows})
    grams = sorted({g for g, _, _ in rows})
    lut = {(g, l): lp for g, l, lp in rows}
    codes = np.array([(ord(g[0]) << 42) | (ord(g[1]) << 21) | ord(g[2])
                      for g in grams], dtype=np.int64)
    order = np.argsort(codes, kind="stable")
    codes = codes[order]
    mat = np.array([[lut[(grams[i], l)] for l in langs] for i in order],
                   dtype=np.int64)
    return langs, codes, mat


def lang_id_ngram(docs: DataFrame, text_col: str = "text",
                  id_col: str = "doc_id") -> DataFrame:
    """(doc_id, lang_pred, score_micro, n_ngrams): per-document language
    via trigram-profile NB.  Documents with zero in-vocabulary trigrams
    (empty, non-Latin, pure digits) predict 'und'.  Ties break to the
    lexicographically smallest language code.

    Normalization stays the native expression (shared verbatim with the
    DuckDB oracle); the trigram extraction + NB scoring run as ONE
    vectorized numpy pass per Arrow batch (guide §4.2).  The previous
    all-native formulation built a per-codepoint trigram array through
    two interpreted zip_with lambdas and exploded it (~30M closure
    evaluations + a 15M-row generate/join/agg chain at sf1.0 -- 29 s at
    local[32]); the numpy pass encodes each trigram as one int64 and
    binary-searches the ~500-entry vocabulary for the whole batch at
    once.  Integer micro-log scores sum in int64, so results are
    bit-identical to the exploded formulation (pinned by the
    equivalence test)."""
    from typing import Iterator

    import numpy as np
    import pandas as pd

    from redactify_spark.operators.partitioning import spread_for_cpu

    langs, vocab_codes, logp_mat = _profile_arrays()
    n_langs = len(langs)
    langs_arr = np.array(langs)

    def score(batches: "Iterator[pd.DataFrame]"):
        for pdf in batches:
            norms = ["" if n is None else n for n in pdf["_lid_norm"]]
            n_docs = len(norms)
            if n_docs == 0:
                yield pd.DataFrame({"doc_id": pd.Series([], dtype="int64"),
                                    "lang_pred": pd.Series([], dtype=str),
                                    "score_micro": pd.Series([],
                                                            dtype="int64"),
                                    "n_ngrams": pd.Series([],
                                                          dtype="int64")})
                continue
            padded = [f" {n} " for n in norms]
            lens = np.array([len(p) for p in padded], dtype=np.int64)
            joined = "".join(padded)
            cp = np.frombuffer(joined.encode("utf-32-le"),
                               dtype=np.uint32).astype(np.int64)
            scores = np.zeros((n_docs, n_langs), dtype=np.int64)
            counts = np.zeros(n_docs, dtype=np.int64)
            if len(cp) >= 3:
                codes = (cp[:-2] << 42) | (cp[1:-1] << 21) | cp[2:]
                # position -> doc index; a window is valid only when it
                # lies entirely inside its own doc's padded slice
                doc_idx = np.repeat(np.arange(n_docs), lens)[:-2]
                ends = np.cumsum(lens)
                pos = np.arange(len(codes))
                valid = pos + 3 <= ends[doc_idx]
                ins = np.searchsorted(vocab_codes, codes)
                ins_c = np.minimum(ins, len(vocab_codes) - 1)
                hit = valid & (vocab_codes[ins_c] == codes)
                d_hit = doc_idx[hit]
                np.add.at(scores, d_hit, logp_mat[ins_c[hit]])
                counts = np.bincount(d_hit, minlength=n_docs)
            best = np.argmax(scores, axis=1)  # first max = smallest lang
            has = counts > 0
            yield pd.DataFrame({
                "doc_id": pdf["doc_id"].astype("int64"),
                "lang_pred": np.where(has, langs_arr[best], "und"),
                "score_micro": np.where(has,
                                        scores[np.arange(n_docs), best],
                                        np.int64(0)),
                "n_ngrams": counts.astype("int64"),
            })

    # spread FIRST, normalize after: the translate/regexp normalize is
    # itself per-char work that would otherwise run on the single scan
    # partition (the shuffle ships raw text either way)
    src = spread_for_cpu(
        docs.select(F.col(id_col).alias("doc_id"), F.col(text_col)),
        "doc_id") \
        .select("doc_id",
                normalize_expr(F.col(text_col)).alias("_lid_norm"))
    return src.mapInPandas(
        score, schema="doc_id long, lang_pred string, "
                      "score_micro long, n_ngrams long")


# ---------------------------------------------------------------------------
# Script-range classifier + cross-script language ID (VERDICT r4 #3)
# ---------------------------------------------------------------------------

# Unicode-block character classes counted per document (over lower()ed
# text, so only lowercase ranges are needed for cased scripts).  Literal
# codepoints, valid in both Java regex (Spark) and RE2 (DuckDB).
SCRIPT_CLASSES = {
    "latin": "[a-z]",
    "cyrillic": "[а-џҐґ]",
    "greek": "[Ͱ-Ͽ]",
    "arabic": "[؀-ۿ]",
    "han": "[㐀-䶿一-鿿]",
    "kana": "[぀-ヿ]",            # hiragana + katakana
    "hangul": "[ᄀ-ᇿ㄰-㆏가-힯]",
    "thai": "[฀-๿]",
    "hebrew": "[֐-׿]",
    "devanagari": "[ऀ-ॿ]",
}
# scripts resolved by the trigram profiles above
TRIGRAM_SCRIPTS = ("arabic", "cyrillic", "greek", "latin")
# scripts resolved at script level (no per-language trigram profile;
# CJK stays script-level deliberately)
SCRIPT_LANG = {"han": "zh", "kana": "ja", "hangul": "ko", "thai": "th",
               "hebrew": "he", "devanagari": "hi"}


def script_count_expr(text: Column, script: str) -> Column:
    """#codepoints of `script` in lower(text): length minus length with
    the class deleted -- a counter both Spark and DuckDB evaluate
    natively (no codepoint explode)."""
    lo = F.lower(text)
    return (F.length(lo) - F.length(
        F.regexp_replace(lo, SCRIPT_CLASSES[script], ""))).cast("long")


def dominant_script_expr(text: Column) -> Column:
    """Dominant script name, 'none' when the text has no letters of any
    known script.  Tie-break: the script whose name sorts LAST among the
    tied counts (struct max semantics -- mirrored in the DuckDB oracle
    with ORDER BY cnt DESC, name DESC)."""
    pairs = [F.struct(script_count_expr(text, s).alias("cnt"),
                      F.lit(s).alias("name"))
             for s in sorted(SCRIPT_CLASSES)]
    best = F.array_max(F.array(*pairs))
    return F.when(best["cnt"] > 0, best["name"]).otherwise(F.lit("none"))


def lang_id_multiscript(docs: DataFrame, text_col: str = "text",
                        id_col: str = "doc_id") -> DataFrame:
    """(doc_id, script, lang_pred, score_micro, n_ngrams): cross-script
    language ID.  Documents whose dominant script is trigram-capable
    (Latin, Cyrillic, Greek, Arabic) route to the 14-language trigram
    profiles; han/kana/hangul/thai/hebrew/devanagari resolve at script
    level (zh/ja/ko/th/he/hi; han with ANY kana present -> ja, the
    standard ja-vs-zh heuristic); no known letters at all -> 'und'.
    Script counting is pure expression work (zero extra shuffles on top
    of lang_id_ngram's one combinable groupBy)."""
    scripts = docs.select(
        F.col(id_col).alias("doc_id"),
        dominant_script_expr(F.col(text_col)).alias("script"),
        script_count_expr(F.col(text_col), "kana").alias("_kana_cnt"))
    tri = lang_id_ngram(docs, text_col=text_col, id_col=id_col) \
        .withColumnsRenamed({"lang_pred": "_tri_lang",
                             "score_micro": "_tri_score",
                             "n_ngrams": "_tri_n"})
    script_lang = F.when(
        (F.col("script") == "han") & (F.col("_kana_cnt") > 0), F.lit("ja"))
    for s, code in sorted(SCRIPT_LANG.items()):
        script_lang = script_lang.when(F.col("script") == s, F.lit(code))
    trigram_route = F.col("script").isin(*TRIGRAM_SCRIPTS) \
        & (F.col("_tri_n") > 0)
    return (scripts.join(tri, "doc_id")
            .select("doc_id", "script",
                    script_lang
                    .when(trigram_route, F.col("_tri_lang"))
                    .otherwise(F.lit("und")).alias("lang_pred"),
                    F.when(trigram_route, F.col("_tri_score"))
                     .otherwise(F.lit(0)).cast("long").alias("score_micro"),
                    F.when(trigram_route, F.col("_tri_n"))
                     .otherwise(F.lit(0)).cast("long").alias("n_ngrams")))
