"""Span fixtures pinning the detection kernel to reference semantics.

Each case documents WHICH reference behavior it pins (file:line of
rushilpatel21/Redactify).  The kernel is both this oracle's subject and
the Spark UDF body, so green here means the distributed pipeline
reproduces the same spans.
"""

import pytest

from redactify_spark.detect import kernel


def spans(text, **kw):
    return [(m["entity_group"], m["start"], m["end"], m["detector"])
            for m in kernel.detect_document(text, **kw)]


def types(text, **kw):
    return {m["entity_group"] for m in kernel.detect_document(text, **kw)}


# --- D1 regex bank + D8 context gate (detection_engine.py:458-492,613-645)

def test_ssn_with_context():
    t = "The ssn on file is 123-45-6789 for the account."
    got = spans(t)
    assert ("SSN", 19, 30, "mcp_pii_specialized") in got or \
           ("SSN", 19, 30, "regex_internal") in got
    assert "SSN" in types(t)


def test_ssn_regex_needs_context_but_presidio_fires():
    # bare SSN: regex gate (context list non-empty) fails, but the
    # presidio-style recognizer still reports US_SSN -> SSN stays absent
    # only if no recognizer covers it; our registry does (score .85)
    t = "value 123-45-6789 appears"
    assert any(g == "SSN" for g, *_ in spans(t))


def test_ip_address_context_gate():
    with_ctx = "connect to the server ip 10.1.2.3 now"
    without = "numbers 10.1.2.3 in a list"
    assert "IP_ADDRESS" in types(with_ctx)
    # without context the D1 gate drops it, but the D9 pii bank
    # (pii_specialized_ner.py:61 'ip_address', no octet validation) and
    # presidio-lite (D2, validated) still cover it -- reference behavior
    assert "IP_ADDRESS" in types(without)
    assert "IP_ADDRESS" in types("numbers 999.999.999.999 here")


def test_mac_address_no_context_needed():
    assert "MAC_ADDRESS" in types("device id 00:1B:44:11:3A:B7 registered")


def test_url_http():
    assert "URL" in types("see https://example.org/path for details")


def test_date_formats():
    assert "DATE_TIME" in types("dated 12/31/2024 herein")
    assert "DATE_TIME" in types("on 2024-06-01 we met")
    assert "DATE_TIME" in types("Jan 5, 2023 meeting")


def test_expiry_date_context():
    assert "DATE_TIME" in types("card exp 11/26 on file")
    # bare d{1,2}/d{2} without exp-context is gated off
    assert "DATE_TIME" not in types("score was 11/26 yesterday")


def test_phone_number_formats():
    assert "PHONE_NUMBER" in types("call 555-123-4567 today")
    assert "PHONE_NUMBER" in types("call (555) 123-4567 today")
    assert "PHONE_NUMBER" in types("phone: 5551234567")


def test_password_kv():
    got = kernel.detect_document("password: hunter2secret!")
    assert any(m["entity_group"] == "PASSWORD" for m in got)


def test_credit_card_luhn():
    # 4539 1488 0343 6467 is Luhn-valid
    assert "CREDIT_CARD" in types("pay with 4539 1488 0343 6467 now")


def test_jwt_authentication():
    jwt = "eyJhbGciOiJIUzI1NiIsInR5cCI6IkpXVCJ9.eyJzdWIiOiIxMjM0NTY3ODkwIn0.abc"
    # no 'token'/'api' context word nearby: the API_KEY segment pattern
    # (context-gated) stays silent and the JWT pattern wins the span
    assert "AUTHENTICATION" in types(f"header carries {jwt} inline")


def test_deploy_token():
    # NB 'key'/'secret' context words nearby would let the PASSWORD /
    # API_KEY composite patterns win the overlap tie (earlier bank order)
    assert "DEPLOY_TOKEN" in types("found ghp_abcdEFGH1234ijkl5678 inline")


def test_api_key_context():
    assert "API_KEY" in types("api_key: AbCdEfGh123456789012")


# --- blocklist + Project suppression (detection_engine.py:619-626)

def test_blocklist_rejects_matched_text():
    # 'Number' is blocklisted; a context-gated pattern matching it must drop
    from redactify_spark.detect.kernel import _has_context
    assert _has_context("the Number here", 4, 10, ["anything"]) is False


def test_project_name_suppressed():
    from redactify_spark.detect.kernel import _has_context
    assert _has_context("Project X is live", 0, 9, ["ctx"]) is False


# --- D3 contextual org (detection_engine.py:494-545)

def test_contextual_org_hit():
    t = "I work at google as an engineer"
    got = kernel.detect_document(t)
    orgs = [m for m in got if m["entity_group"] == "ORGANIZATION"
            and m["entity_text"].lower() == "google"]
    assert orgs and orgs[0]["score"] >= 0.88


def test_contextual_org_miss():
    t = "i searched google yesterday evening ok then left quietly"
    got = kernel.detect_document(t)
    assert not any(m["entity_group"] == "ORGANIZATION" for m in got)


# --- D4/D5 fallback + title names (detection_engine.py:547-608)

def test_title_name():
    got = kernel.detect_document("Meet Dr. Brown tomorrow ok")
    ms = [m for m in got if m["detector"] == "title_name_detector"]
    assert ms and ms[0]["entity_text"] == "Brown" and ms[0]["score"] == 0.92


def test_fallback_gated_when_person_exists():
    # gazetteer NER finds 'John Smith' -> fallback must not add more PERSONs
    got = kernel.detect_document("John Smith met Xavier yesterday ok")
    fb = [m for m in got if m["detector"] == "fallback_name_detector"]
    assert fb == []


def test_fallback_sentence_start_demonstrative_skipped():
    got = kernel.detect_document("This looks fine. Bob agreed ok")
    names = {m["entity_text"] for m in got
             if m["detector"] == "fallback_name_detector"}
    assert "This" not in names


# --- P3/P4/P5 filters (detection_engine.py:653-676,746-812)

def test_short_span_filtered():
    got = kernel.detect_document("Al went home quietly today ok")
    assert all(m["end"] - m["start"] >= 2 for m in got)


def test_org_false_positive_stoplist():
    # 'Agreement' capitalized would be a fallback PERSON candidate but is
    # in COMMON_DOCUMENT_WORDS -> filtered by P4
    got = kernel.detect_document("Agreement follows below shortly ok")
    assert not any(m["entity_text"].lower() == "agreement" for m in got)


# --- P6 dedup (detection_engine.py:691-719)

def test_dedup_same_surface_and_type():
    t = "email a@b.co and again email a@b.co here"
    got = [m for m in kernel.detect_document(t)
           if m["entity_group"] == "EMAIL_ADDRESS"]
    assert len(got) == 1  # one mention per (surface, type) per document


# --- P7 overlap (detection_engine.py:724-744,814-832)

def test_overlap_higher_score_wins():
    ents = [
        {"entity_group": "X_GEN", "start": 0, "end": 10, "score": 0.5},
        {"entity_group": "Y_GEN", "start": 5, "end": 12, "score": 0.9},
    ]
    merged = kernel.post_process(
        [{**e, "detector": "t"} for e in ents], "abcdefghijklmnop")
    assert len(merged) == 1 and merged[0]["entity_group"] == "Y_GEN"


def test_overlap_specific_type_beats_generic():
    ents = [
        {"entity_group": "X_GEN", "start": 0, "end": 10, "score": 0.9},
        {"entity_group": "PERSON", "start": 5, "end": 12, "score": 0.5},
    ]
    merged = kernel.post_process(
        [{**e, "detector": "t"} for e in ents], "abcdefghijklmnop")
    assert len(merged) == 1 and merged[0]["entity_group"] == "PERSON"


# --- P8 normalization + MISC drop (server.py:160-178)

def test_normalize_per_org_loc_and_misc_drop():
    ents = [
        {"entity_group": "PER", "start": 0, "end": 4, "score": 0.9},
        {"entity_group": "ORG", "start": 5, "end": 9, "score": 0.9},
        {"entity_group": "LOC", "start": 10, "end": 14, "score": 0.9},
        {"entity_group": "MISC", "start": 15, "end": 19, "score": 0.9},
    ]
    out = kernel.normalize_server(ents)
    assert [e["entity_group"] for e in out] == [
        "PERSON", "ORGANIZATION", "LOCATION"]


# --- P9 options projection (server.py:181-189)

def test_options_filter():
    t = "reach user1@mail.example.com or 555-123-4567 now"
    only_email = kernel.detect_document(t, options={"PHONE_NUMBER": False})
    assert "PHONE_NUMBER" not in {m["entity_group"] for m in only_email}
    assert "EMAIL_ADDRESS" in {m["entity_group"] for m in only_email}
    # missing key defaults to True (server.py:186)
    deflt = kernel.detect_document(t, options={"SSN": False})
    assert "EMAIL_ADDRESS" in {m["entity_group"] for m in deflt}


# --- D13 domain classification (detection_engine.py:289-313)

def test_domain_classification():
    assert kernel.classify_domains("hello world") == ["general"]
    assert kernel.classify_domains("the patient was admitted") == [
        "general", "medical"]


# --- Luhn (financial_ner.py:280-301)

def test_luhn():
    assert kernel.luhn_valid("4539148803436467")
    assert not kernel.luhn_valid("4539148803436468")


# --- determinism

def test_detection_deterministic():
    t = ("Dr. Garcia of Acme Corp in Berlin: email x.y@corp.example.com, "
         "phone 555-867-5309, ssn social 111-22-3333, https://a.example/b")
    a = kernel.detect_document(t)
    b = kernel.detect_document(t)
    assert a == b


# --- per-document fault isolation (detection_engine.py:202-207)

def test_detect_batch_degrades_a_failing_document(monkeypatch, caplog):
    """A document whose detection raises gets no mentions, with one
    warning naming its batch index; its neighbours keep their spans.
    Both Spark detection stages run detect_batch, so this is their
    rule too."""
    texts = ["email x.y@corp.example.com now", "POISON marker",
             "call 555-867-5309 today"]
    expected = [kernel.detect_document(t) for t in texts]
    real = kernel.detect_document

    def flaky(text, *args, **kw):
        if "POISON" in text:
            raise RuntimeError("kernel bug")
        return real(text, *args, **kw)

    monkeypatch.setattr(kernel, "detect_document", flaky)
    with caplog.at_level("WARNING", logger=kernel.__name__):
        got = kernel.detect_batch(texts)
    assert got == [expected[0], [], expected[2]]
    assert expected[0] and expected[2]
    warned = [r.getMessage() for r in caplog.records
              if r.levelname == "WARNING"]
    assert len(warned) == 1
    assert "document 1" in warned[0] and "kernel bug" in warned[0]


# --- prefilter optimization must not change semantics ----------------------

def test_prefilter_equivalence():
    """A/B the prefiltered and unfiltered regex paths (prefilters, anchored
    scans, shared scans) over a diverse corpus: fixture-style texts,
    synthetic pages, adversarial literals and fuzz strings."""
    import duckdb

    from redactify_spark.sources.pages import synth_text

    corpus = [synth_text(i) for i in range(0, 200, 3)]
    con = duckdb.connect()
    corpus += [r[0] for r in con.sql(
        "select text from read_parquet("
        "'/root/testdata/sf0.001/documents.parquet') limit 60").fetchall()]
    corpus += [
        # contextual-company + presidio prefilter hit/miss shapes
        "google announced earnings for the company and its ceo",
        "no ambiguous names and no contacts in this line",
        "shell Corp office and apple inc corporation hq",
        "mail me: a@b.co via HTTP://X.example today",
        "password: hunter2! CVV: 123 routing 123456789 ip 1.2.3.4",
        "MAC 00:1B:44:11:3A:B7 at 2024-01-01T10:00:00 exp 11/26",
        "api_key: AbCdEf123456 ghp_aaaabbbbccccdddd11 session key xyz",
        "MRN: 12345 Provider ID: P-9 Employee ID: E42 Serial Number: SN1234",
        "username: jdoe login: admin user: root ending in 1234 card",
        "HTTP://UPPER.example.org and Www.Mixed.Example.com/path",
        "Order Number: ORD-1 Customer ID: C-2 student roll no: AB123",
        "credit card: **** 1111 2222 3333 4444 CVC: 99",
    ]
    # anchored scans: Unicode digits, IGNORECASE folds, runs, newlines
    from tests.test_kernel_anchors import (PII_DENSE, chunk_strings,
                                           fuzz_strings)
    corpus += [PII_DENSE] + fuzz_strings(1000) + chunk_strings(1000)
    for text in corpus:
        kernel.ENABLE_PREFILTERS = True
        with_pf = kernel.detect_document(text)
        kernel.ENABLE_PREFILTERS = False
        without_pf = kernel.detect_document(text)
        kernel.ENABLE_PREFILTERS = True
        assert with_pf == without_pf, text


def test_password_fast_path_equivalence():
    """Fuzz the fast composite-PASSWORD path against the raw regex."""
    import random
    import re as _re
    raw = _re.compile(r"(?=.*[A-Za-z])(?=.*\d)(?=.*[$#@!%^&*()_+])"
                      r"[A-Za-z\d$#@!%^&*()_+]{8,}", _re.IGNORECASE)
    rng = random.Random(42)
    # '\n' pins the per-line cutoff semantics: the raw pattern's '.*'
    # lookaheads stop at newlines, so the fast path must too.  The bank
    # compiles the rule with IGNORECASE, under which [A-Za-z] also takes
    # the long s and the Kelvin sign.
    alphabet = "ab1$ #@!xy2 _+Z9 .\nſK"
    for _ in range(500):
        s = "".join(rng.choice(alphabet)
                    for _ in range(rng.randrange(0, 120)))
        want = [m.span() for m in raw.finditer(s)]
        got = list(kernel._password_composite_spans(s))
        assert got == want, s


def test_nearby_indicator_rewrite_equivalence():
    """The precompiled-tail nearby-indicator check must equal the
    reference's dynamically-built regex (detection_engine.py:639-643)."""
    import random
    import re as _re

    from redactify_spark.detect.kernel import _NEARBY_INDICATOR, _NEARBY_TAIL

    def original(nearby, matched):
        return bool(_re.search(_NEARBY_INDICATOR + r"\s*" +
                               _re.escape(matched), nearby, _re.IGNORECASE))

    def rewritten(nearby, matched):
        ml, nl = matched.lower(), nearby.lower()
        pos = nl.find(ml)
        while pos != -1:
            if _NEARBY_TAIL.search(nearby, 0, pos):
                return True
            pos = nl.find(ml, pos + 1)
        return False

    rng = random.Random(11)
    alphabet = ": = is  was reset to ABtok \n xyz"
    for _ in range(800):
        nearby = "".join(rng.choice(alphabet)
                         for _ in range(rng.randrange(0, 60)))
        matched = rng.choice(["tok", "AB", "x", "is", ":"])
        assert original(nearby, matched) == rewritten(nearby, matched), \
            (nearby, matched)


# --- D7 medical stage: label remap + boost ---------------------------------

def test_medical_label_remap():
    assert kernel.map_medical_label("PATIENT") == "PERSON"
    assert kernel.map_medical_label("HOSPITAL") == "ORGANIZATION"
    assert kernel.map_medical_label("ID") == "MEDICAL_RECORD_NUMBER"
    assert kernel.map_medical_label("DIAGNOSIS") == "MEDICAL_CONDITION"
    assert kernel.map_medical_label("weird") == "weird"


def test_medical_stage_with_plugged_backend():
    """A real i2b2 backend plugs in; its labels are remapped and the
    medical-context boost applies."""
    def fake_backend(text):
        i = text.find("Rivera")
        return [{"entity_group": "DOCTOR", "start": i, "end": i + 6,
                 "score": 0.8, "word": "Rivera"}]

    kernel.set_medical_backend(fake_backend)
    try:
        t = "the patient saw Rivera at the hospital yesterday morning"
        ms = kernel.detect_document(t)
        med = [m for m in ms if m["detector"] == "mcp_medical"]
        assert med and med[0]["entity_group"] == "PERSON"
        assert med[0]["score"] == pytest.approx(0.88)  # 0.8 * 1.1 boost
    finally:
        kernel.set_medical_backend(None)

