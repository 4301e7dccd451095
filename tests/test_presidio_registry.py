"""Hit/miss fixtures for the vendored Presidio-style recognizer registry
(D2), one pair per recognizer added in round 2 (VERDICT item 6).

Two levels:
- recognizer level (detect_presidio): exact type + score semantics,
  including checksum validation drops and context boosts;
- document level (detect_document): the checksum-validated types
  (score 1.0) must survive the full P1-P8 pipeline; weak context-boosted
  shapes are pinned at recognizer level because stronger detectors
  (e.g. the D9 9-digit SSN pattern) legitimately win the overlap at
  document level -- the same resolution the reference applies.

Pattern shapes follow the public Presidio predefined recognizers, which
the reference's AnalyzerEngine runs by default
(server/detection_engine.py:433-456).
"""

from redactify_spark.detect import kernel


def presidio_spans(text):
    return kernel.detect_presidio(text, kernel._AnchorIndex(text))


def presidio_types(text):
    return {(m["entity_group"], round(m["score"], 2))
            for m in presidio_spans(text)}


def doc_types(text):
    return {m["entity_group"] for m in kernel.detect_document(text)}


# --- checksum-validated recognizers (valid -> 1.0, invalid -> dropped) ----

def test_iban_valid():
    t = presidio_types("wire to GB82WEST12345698765432 today")
    assert ("IBAN_CODE", 1.0) in t
    assert "IBAN_CODE" in doc_types("wire to GB82WEST12345698765432 today")


def test_iban_invalid_checksum_dropped():
    t = presidio_types("wire to GB82WEST12345698765431 today")
    assert not any(e == "IBAN_CODE" for e, _ in t)


def test_crypto_valid_base58check():
    addr = "1BvBMSEYstWetqTFn5Au4m4GFg7xJaNVN2"
    t = presidio_types(f"send btc to {addr} now")
    assert ("CRYPTO", 1.0) in t
    assert "CRYPTO" in doc_types(f"send btc to {addr} now")


def test_crypto_invalid_checksum_dropped():
    addr = "1BvBMSEYstWetqTFn5Au4m4GFg7xJaNVN3"
    assert not any(e == "CRYPTO" for e, _ in presidio_types(f"pay {addr}"))


def test_nhs_valid_check_digit():
    t = presidio_types("nhs record 401-023-2137 retrieved")
    assert ("UK_NHS", 1.0) in t
    # 1.0 beats the phone-shaped claims in P7 overlap resolution
    assert "UK_NHS" in doc_types("nhs record 401-023-2137 retrieved")


def test_nhs_invalid_check_digit_dropped():
    assert not any(e == "UK_NHS" for e, _ in
                   presidio_types("nhs record 401-023-2138 retrieved"))


def test_medical_license_dea_checksum():
    t = presidio_types("prescriber DEA AB1234563 on file")
    assert ("MEDICAL_LICENSE", 1.0) in t
    assert not any(e == "MEDICAL_LICENSE" for e, _ in
                   presidio_types("prescriber DEA AB1234560 on file"))


# --- strong pattern recognizers -------------------------------------------

def test_itin():
    t = presidio_types("itin 912-75-1234 filed")
    assert ("US_ITIN", 0.85) in t
    # middle group 00-49 and 66-69/93 are not ITIN ranges
    assert not any(e == "US_ITIN" for e, _ in
                   presidio_types("itin 912-45-1234 filed"))


# --- weak shapes: context boost semantics ----------------------------------

def test_passport_context_boost():
    with_ctx = presidio_types("passport number 912803456 renewed")
    assert ("US_PASSPORT", 0.4) in with_ctx
    without = presidio_types("ref 912803456 logged")
    assert ("US_PASSPORT", 0.05) in without  # emitted weak...
    # ...but below the 0.3 pipeline threshold without context
    assert not any(m["entity_group"] == "US_PASSPORT" and m["score"] >= 0.3
                   for m in presidio_spans("ref 912803456 logged"))


def test_driver_license_context_boost():
    with_ctx = presidio_types("driver license D1234567 presented")
    assert ("US_DRIVER_LICENSE", 0.65) in with_ctx
    without = presidio_types("unit D1234567 shipped")
    assert ("US_DRIVER_LICENSE", 0.3) in without


def test_bank_number_context_boost():
    with_ctx = presidio_types("bank account 123456789012 debited")
    assert ("US_BANK_NUMBER", 0.4) in with_ctx
    without = presidio_types("value 123456789012 observed")
    assert not any(e == "US_BANK_NUMBER" and s >= 0.3 for e, s in without)


def test_au_recognizers_checksums():
    """AU ABN/ACN/TFN/Medicare: published real-world-valid examples hit
    at 1.0; a flipped digit kills the checksum (dropped, not rescored)."""
    def hits(text, etype):
        return [e for e in presidio_spans(text)
                if e["entity_group"] == etype]

    # ATO's published example ABN
    assert hits("business ABN 51 824 753 556 registered", "AU_ABN")
    assert not hits("business ABN 51 824 753 557 registered", "AU_ABN")
    # ASIC's published example ACN
    assert hits("company ACN 000 000 019 on file", "AU_ACN")
    assert not hits("company ACN 000 000 018 on file", "AU_ACN")
    # the classic valid test TFN
    assert hits("tax file number 123 456 782", "AU_TFN")
    assert not hits("tax file number 123 456 783", "AU_TFN")
    assert hits("medicare card 2123 45670 1", "AU_MEDICARE")
    assert not hits("medicare card 2123 45671 1", "AU_MEDICARE")


def test_sg_nric_and_in_recognizers():
    def hits(text, etype):
        return [e for e in presidio_spans(text)
                if e["entity_group"] == etype]

    # series-correct checksum letters (S/T tables differ by +4 offset)
    assert hits("NRIC S1234567D holder", "SG_NRIC_FIN")
    assert hits("FIN T0000001E holder", "SG_NRIC_FIN")
    assert hits("FIN F2345678T holder", "SG_NRIC_FIN")
    assert not hits("NRIC S1234567E holder", "SG_NRIC_FIN")
    # PAN: 4th char restricted to holder-type letters
    assert hits("pan card ABCPX1234K", "IN_PAN")
    assert not hits("pan card ABCDX1234K", "IN_PAN")   # 'D' not a type
    # Aadhaar: Verhoeff-validated
    assert hits("aadhaar 2345 6789 0124", "IN_AADHAAR")
    assert not hits("aadhaar 2345 6789 0123", "IN_AADHAAR")
