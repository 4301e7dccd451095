"""Anchored regex scans, the cut context window and the P10 sweep equal
the plain paths they replace (redactify_spark.detect.kernel)."""
import gc
import random
import time

from redactify_spark.detect import kernel

# Unicode digits, the letters IGNORECASE folds onto ASCII (long s, Kelvin
# sign, dotless i), word/non-word neighbours and the anchor characters.
FUZZ_ALPHABET = "ab-AZ09 .@+(_\n1ſKı٣x:/%"


def fuzz_strings(n, seed=7, max_len=80):
    rng = random.Random(seed)
    return ["".join(rng.choice(FUZZ_ALPHABET)
                    for _ in range(rng.randrange(0, max_len)))
            for _ in range(n)]


# One line per rarely-firing shape, so rules that never fire on the
# synthetic pages still match somewhere in the corpus.
PII_DENSE = (
    "IBAN GB82WEST12345698765432 BTC 1BoatSLRHtKNngkdXEeobR76b53LETtpyT "
    "DL A1234567 license, NHS 943 476 5919, Aadhaar 2345 6789 0123, "
    "ABN 51 824 753 556, TFN 123 456 782, medicare 2123 45670 1, NRIC "
    "S1234567D, PAN ABCPE1234F, ITIN 912-70-1234, passport 123456789, "
    "bank account 12345678901 card 4111 1111 1111 1111, 4111-1111-1111-"
    "1111 phone +1 (555) 123-4567, (555) 987-6543, +44 20 7946 0958, "
    "5551234567 ip 192.168.0.1 mac 00:1B:44:11:3A:B7 0a.1b.2c.3d.4e.5f "
    "date 12/31/2024 2024-01-02 03/04 2024-01-02T10:11:12 1/2/24 roll "
    "21CSE123 VIN 1HGCM82633A004352 plate AB-1234 zip 12345-6789 "
    "u.ser+x@mail.example.co.uk www.example.org/x http://a.b/c "
    "sub.example.com/path ssn 123-45-6789 12345678 X123456 AB12345\n"
)


def chunk_strings(n, seed=9):
    """Random joins of email/URL/phone pieces, so run anchors meet runs
    that start after a word character, matches that end mid-run and
    optional groups."""
    rng = random.Random(seed)
    chunks = ["a", "b", "-", ".", "_", "ſ", "٣", "K", "@", " ", "x.co",
              "y.com", "+1", "(555)", " 555-0100", "12", "Z9"]
    return ["".join(rng.choice(chunks) for _ in range(rng.randrange(1, 16)))
            for _ in range(n)]


def corpus():
    from redactify_spark.sources.pages import synth_text
    pages = [synth_text(i) for i in range(0, 120, 3)]
    docs = [PII_DENSE + " ".join(pages[i:i + 6]) + " " + PII_DENSE
            for i in range(0, len(pages), 6)]
    return (pages + docs + [PII_DENSE] + fuzz_strings(3000)
            + chunk_strings(3000))


def rules():
    """(bank, name, compiled pattern, anchor) for every rule of the
    three banks, whether or not it fires on a document."""
    for t in kernel._BANK_T:
        yield "bank", t[0].pattern, t[0], t[5]
    for t in kernel._PRESIDIO_T:
        yield "presidio", t[4], t[0], t[6]
    for t in kernel._PII_T:
        yield "pii", t[2], t[0], t[6]


def anchor_name(anchor):
    return anchor if anchor is None or isinstance(anchor, str) \
        else "run" + anchor[0]


ANCHORED = {
    ("bank", r"\b\d{3}-\d{2}-\d{4}\b"): "digit",
    ("bank", r"\b(?:\d{1,3}\.){3}\d{1,3}\b"): "digit",
    ("bank", r"\b[a-z0-9-]+\.[a-z0-9-]+\.[a-z]{2,}(?:/[^\s]*)?"): "run.",
    ("bank", r"\b\d{1,2}[/-]\d{1,2}[/-]\d{2,4}\b"): "digit",
    ("bank", r"\b\d{1,2}/\d{2}\b"): "digit",
    ("bank", r"\b\d{4}-\d{2}-\d{2}\b"): "digit",
    ("bank", r"\b\d{4}-\d{2}-\d{2}[ T]\d{2}:\d{2}:\d{2}\b"): "digit",
    ("bank", r"\b\d{2}/\d{2}/\d{4}\b"): "digit",
    ("bank", r"\b\d{10}\b"): "digit",
    ("bank", r"\b\d{3}[-.\s]?\d{3}[-.\s]?\d{4}\b"): "digit",
    ("bank", r"\b(?:\d{4}[- ]?){3}\d{4}\b"): "digit",
    ("bank", r"\b\d{4}\s?\d{4}\s?\d{4}\s?\d{4}\b"): "digit",
    ("bank", r"\b\d{2}[A-Za-z]{3}\d{3}\b"): "digit",
    **{("presidio", n): "digit" for n in (
        "IP_ADDRESS", "US_SSN", "CREDIT_CARD", "DATE_TIME", "US_ITIN",
        "CRYPTO", "UK_NHS", "US_PASSPORT", "US_BANK_NUMBER", "AU_ABN",
        "AU_ACN", "AU_TFN", "AU_MEDICARE", "IN_AADHAAR")},
    ("presidio", "IBAN_CODE"): "upper",
    ("presidio", "US_DRIVER_LICENSE"): "upper",
    ("presidio", "PHONE_NUMBER"): "sign",
    ("presidio", "EMAIL_ADDRESS"): "run@",
    **{("pii", n): "digit" for n in (
        "ssn", "credit_card", "bank_account", "routing_number", "zip_code",
        "ip_address", "date")},
    **{("pii", n): "upper" for n in (
        "passport", "license", "license_plate", "vin")},
    ("pii", "phone"): "sign",
    ("pii", "email"): "run@",
}


def test_anchored_rules_are_pinned():
    """A rule that silently falls back to finditer (or gains an anchor)
    shows up here.  Kept on finditer: literal- or class-led rules (`re`
    already skips ahead), IGNORECASE letter classes and `[A-Za-z]`-led
    rules."""
    got = {(bank, name): anchor_name(anchor)
           for bank, name, _, anchor in rules() if anchor is not None}
    assert got == ANCHORED


def test_anchored_matches_equal_finditer_per_rule():
    for text in corpus():
        index = kernel._AnchorIndex(text)
        for bank, name, pat, anchor in rules():
            want = [(m.span(), m.groups()) for m in pat.finditer(text)]
            got = [(m.span(), m.groups())
                   for m in index.matches(pat, anchor)]
            assert got == want, (bank, name, text)


def test_cut_context_window_equals_full_window():
    """Long window pieces are cut and looked up in the occurrence index;
    the gate's answer equals the uncut window's on huge tokens."""
    rng = random.Random(5)
    words_alphabet = ["ssn", "social", "security", "api", "key", "xx", "-",
                      "K", "İ", "ab", "12", " ", "\n"]
    cases = []
    for _ in range(300):
        text = "".join(rng.choice(words_alphabet)
                       for _ in range(rng.randrange(1, 120)))
        a = rng.randrange(0, len(text))
        b = rng.randrange(a, len(text) + 1)
        cases.append((text, a, b))
    big = ("ab-" * 200 + "social" + "ab-" * 200 + " security " + "x" * 500
           + " " + "ab-" * 200 + "social security" + "ab-" * 200)
    cases += [(big, s, s + 9) for s in range(0, len(big) - 9, 97)]
    for text, a, b in cases:
        tokens = [(m.start(), m.end())
                  for m in kernel._TOKEN_RE.finditer(text)]
        for words in (["ssn", "social security", "social"],
                      ["api", "key", "secret"], ["social security"]):
            want = kernel._has_context(text, a, b, words, tokens)
            got = kernel._has_context(text, a, b, words, tokens,
                                      kernel._AnchorIndex(text))
            assert got == want, (text, a, b, words)


def test_context_words_are_ascii():
    # the occurrence index reads offsets of text.lower(); that is exact
    # for ASCII words whenever lowering keeps the text's length
    assert all(w.isascii() for r in kernel.C.REGEX_BANK
               for w in r["context"])


def _reference_overlap_removal(entities):
    """The reference's O(m^2) P10 loop (pii_specialized_ner.py:373-398)."""
    kept = []
    for ent in sorted(entities, key=lambda x: x["start"]):
        replaced = False
        for i, ex in enumerate(kept):
            if ent["start"] < ex["end"] and ent["end"] > ex["start"]:
                if ent["score"] > ex["score"]:
                    kept[i] = ent
                replaced = True
                break
        if not replaced:
            kept.append(ent)
    return sorted(kept, key=lambda x: x["start"])


def test_overlap_sweep_equals_reference_loop():
    rng = random.Random(3)
    for _ in range(20000):
        ents = []
        for k in range(rng.randrange(0, 12)):
            s = rng.randrange(0, 30)
            ents.append({"start": s,
                         "end": s + rng.choice([0, 1, 2, 3, 5, 8, 13, -1]),
                         "score": rng.choice([0.5, 0.6, 0.9, 1.0]),
                         "id": k})
        assert kernel.remove_overlaps_by_score(ents) \
            == _reference_overlap_removal(ents), ents


ADVERSARIAL = [("ab-", " x@y.com"), ("ab-", " y.co"), ("12-", "")]


def _adversarial(unit, tail, size):
    return unit * (size // len(unit)) + tail


def _cpu_per_call(small, large, rounds=5):
    """The best CPU seconds of detect_document per call on `small` and on
    `large`, the collector off.  Each round times 16 calls on `small` and
    one on `large`, so both windows last about as long and a burst of
    load on the host hits them alike."""
    best_small = best_large = float("inf")
    enabled = gc.isenabled()
    gc.disable()
    try:
        for _ in range(rounds):
            t = time.thread_time()
            for _ in range(16):
                kernel.detect_document(small)
            best_small = min(best_small, (time.thread_time() - t) / 16)
            t = time.thread_time()
            kernel.detect_document(large)
            best_large = min(best_large, time.thread_time() - t)
    finally:
        if enabled:
            gc.enable()
    return best_small, best_large


def test_adversarial_inputs_scale_linearly():
    """Long runs of the email/URL classes, and many overlapping digit
    mentions, used to cost O(n^2): 16x the text must cost at most 20x."""
    for unit, tail in ADVERSARIAL:
        small, large = _cpu_per_call(_adversarial(unit, tail, 4096),
                                     _adversarial(unit, tail, 65536))
        assert large <= 20 * small, (unit, tail, small, large)


def test_adversarial_spans_equal_unanchored_path():
    for unit, tail in ADVERSARIAL:
        text = _adversarial(unit, tail, 4096)
        anchored = kernel.detect_document(text)
        kernel.ENABLE_PREFILTERS = False
        try:
            plain = kernel.detect_document(text)
        finally:
            kernel.ENABLE_PREFILTERS = True
        assert anchored == plain, (unit, tail)
