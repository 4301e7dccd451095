"""Behavioral configuration data for the detection/anonymization kernel.

This module pins, as plain Python data, every configuration table the
reference loads from JSON at startup, so the kernel (and therefore the
Spark UDFs wrapping it) behaves identically without any file I/O on
executors.  Sources (reference file:line, read-only snapshot at
/root/reference):

- regex pattern bank      -> server/regex_patterns.json:2-60
- blocklist               -> server/blocklist.json:2-12
- common name words       -> server/common_name_words.json:2-4
- pseudonymize types      -> server/pseudonymize_types.json:2-4
- entity type mapping     -> server/entity_type_mapping.json:1-38
- default PII options     -> server/default_pii_options.json:1-7
- static config           -> server/config_static.json:1-4
- runtime config defaults -> server/detection_engine.py:63-79
- per-model thresholds    -> server/detection_engine.py:411-421
- generic labels          -> server/detection_engine.py:423-431
- false-positive lists    -> server/detection_engine.py:746-812
- specific-type set (P7)  -> server/detection_engine.py:814-832

On Spark these are broadcast implicitly via closure capture: the module
is imported once per Python worker and the tables are tiny (< 20 KB).
"""

from __future__ import annotations

# --- Regex pattern bank (D1).  server/regex_patterns.json:2-60 ------------
# Each entry: (entity type, pattern, context-word gate list).  Patterns are
# compiled with re.IGNORECASE (server/detection_engine.py:141).
REGEX_BANK: list[dict] = [
    {"type": "SSN", "pattern": r"\b\d{3}-\d{2}-\d{4}\b", "context": ["ssn", "social security", "social"]},
    {"type": "IP_ADDRESS", "pattern": r"\b(?:\d{1,3}\.){3}\d{1,3}\b", "context": ["ip", "address", "server", "host"]},
    {"type": "MAC_ADDRESS", "pattern": r"\b([0-9A-Fa-f]{2}[:-]){5}[0-9A-Fa-f]{2}\b", "context": []},
    {"type": "MAC_ADDRESS", "pattern": r"\b([0-9A-Fa-f]{2}[.]){5}[0-9A-Fa-f]{2}\b", "context": ["mac", "address", "ethernet"]},
    {"type": "URL", "pattern": r"\bhttps?://[^\s]+\b", "context": []},
    {"type": "URL", "pattern": r"\b(?:www\.)[a-z0-9-]+(?:\.[a-z]{2,})+(?:/[^\s]*)?", "context": []},
    {"type": "URL", "pattern": r"\b[a-z0-9-]+\.[a-z0-9-]+\.[a-z]{2,}(?:/[^\s]*)?", "context": ["http", "https", "web", "site", "portal", "access"]},
    {"type": "DATE_TIME", "pattern": r"\b\d{1,2}[/-]\d{1,2}[/-]\d{2,4}\b", "context": []},
    {"type": "DATE_TIME", "pattern": r"\b(?:Jan|Feb|Mar|Apr|May|Jun|Jul|Aug|Sep|Oct|Nov|Dec)[a-z]* \d{1,2},? \d{4}\b", "context": []},
    {"type": "DATE_TIME", "pattern": r"\b\d{1,2}/\d{2}\b", "context": ["exp", "expiration", "valid", "until"]},
    {"type": "DATE_TIME", "pattern": r"\b\d{4}-\d{2}-\d{2}\b", "context": []},
    {"type": "DATE_TIME", "pattern": r"\b\d{4}-\d{2}-\d{2}[ T]\d{2}:\d{2}:\d{2}\b", "context": []},
    {"type": "DATE_TIME", "pattern": r"\b\d{2}/\d{2}/\d{4}\b", "context": []},
    {"type": "PHONE_NUMBER", "pattern": r"\b\d{10}\b", "context": ["phone", "mobile", "cell", "tel", "telephone", "contact"]},
    {"type": "PHONE_NUMBER", "pattern": r"\b\d{3}[-.\s]?\d{3}[-.\s]?\d{4}\b", "context": []},
    {"type": "PHONE_NUMBER", "pattern": r"\(\d{3}\)\s*\d{3}[-.\s]?\d{4}\b", "context": []},
    {"type": "PHONE_NUMBER", "pattern": r"\+\d{1,3}[-.\s]?\d{3}[-.\s]?\d{3,4}[-.\s]?\d{3,4}", "context": []},
    {"type": "PASSWORD", "pattern": r"(?i)(?:password|passwd|pwd)(?::|=|\s+is\s+)\s*(\S+)", "context": []},
    {"type": "PASSWORD", "pattern": r"(?i)password(?:\s+was|\s+has\s+been)?\s+(?:reset|changed)(?:\s+to)?\s+(\S+)", "context": []},
    {"type": "PASSWORD", "pattern": r"(?=.*[A-Za-z])(?=.*\d)(?=.*[$#@!%^&*()_+])[A-Za-z\d$#@!%^&*()_+]{8,}", "context": ["password", "pass", "pwd", "credential", "login", "auth", "secret", "temporary", "temp"]},
    {"type": "CREDIT_CARD", "pattern": r"\b(?:\d{4}[- ]?){3}\d{4}\b", "context": []},
    {"type": "CREDIT_CARD", "pattern": r"\b\d{4}\s?\d{4}\s?\d{4}\s?\d{4}\b", "context": []},
    {"type": "CREDIT_CARD", "pattern": r"credit card:?\s*\**\d{4}", "context": []},
    {"type": "FINANCIAL", "pattern": r"\bCVV:?\s*(\d{3,4})\b", "context": []},
    {"type": "FINANCIAL", "pattern": r"\bCVC:?\s*(\d{3,4})\b", "context": []},
    {"type": "FINANCIAL", "pattern": r"\bsecurity\s+code:?\s*(\d{3,4})\b", "context": []},
    {"type": "API_KEY", "pattern": r"(?i)api[_-]?key(?::|=|\s+is\s+)\s*([A-Za-z0-9\-_\.]{8,})\b", "context": []},
    {"type": "API_KEY", "pattern": r"(?i)(?:api|app|access)[_-]?(?:key|token|secret|id)(?::|=|\s+is\s+)\s*\S+", "context": []},
    {"type": "API_KEY", "pattern": r"\b[A-Za-z0-9_\-]{20,40}\b", "context": ["api", "key", "secret", "token", "auth", "access", "credentials"]},
    {"type": "AUTHENTICATION", "pattern": r"ey[A-Za-z0-9_-]{10,}\.[A-Za-z0-9_-]{10,}\.[A-Za-z0-9_-]*", "context": []},
    {"type": "DEPLOY_TOKEN", "pattern": r"gh[pousr]_[A-Za-z0-9_]{16,}\b", "context": []},
    {"type": "DEPLOY_TOKEN", "pattern": r"(?i)(?:deploy|access|auth|oauth)[_-]?token(?::|=|\s+is\s+)\s*\S+", "context": []},
    {"type": "AUTHENTICATION", "pattern": r"(?i)(?:bearer|basic|digest|oauth)[_-]?token(?::|=|\s+is\s+)\s*\S+", "context": []},
    {"type": "AUTHENTICATION", "pattern": r"(?i)auth(?:entication)?(?::|=|\s+is\s+)\s*\S+", "context": []},
    {"type": "AUTHENTICATION", "pattern": r"(?i)credential(?:s)?(?::|=|\s+is\s+)\s*\S+", "context": []},
    {"type": "AUTHENTICATION", "pattern": r"session\s+key:?\s*\S+", "context": []},
    {"type": "FINANCIAL", "pattern": r"\brouting[:\s]+(\d{9})\b", "context": []},
    {"type": "FINANCIAL", "pattern": r"\baccount\s+(?:number|#)?[:\s]+(\d+)\b", "context": []},
    {"type": "FINANCIAL", "pattern": r"\b(?:account|acct)(?:.+?)ending in (\d{4})\b", "context": []},
    {"type": "FINANCIAL", "pattern": r"ending in \d{4}", "context": ["card", "account"]},
    {"type": "FINANCIAL", "pattern": r"card \(ending in \d{4}", "context": []},
    {"type": "FINANCIAL", "pattern": r"(?:bank|checking|savings)\s+account:?\s*(\d{8,})", "context": []},
    {"type": "FINANCIAL", "pattern": r"routing\s+number:?\s*(\d{8,})", "context": []},
    {"type": "ROLL_NUMBER", "pattern": r"\b\d{2}[A-Za-z]{3}\d{3}\b", "context": ["student", "roll", "enrollment"]},
    {"type": "ROLL_NUMBER", "pattern": r"\b(?:roll|enrollment|student)(?:.+?)(?:number|no|#)?[:\s]+([A-Za-z0-9\-]{5,10})\b", "context": []},
    {"type": "CREDENTIAL", "pattern": r"\busername[:\s]+(\S+)\b", "context": []},
    {"type": "CREDENTIAL", "pattern": r"\blogin[:\s]+(\S+)\b", "context": []},
    {"type": "CREDENTIAL", "pattern": r"\buser(?:name)?[:\s]+(\S+)\b", "context": []},
    {"type": "DEVICE", "pattern": r"(?:iPhone|iPad|MacBook|Android|Windows|Device)\s+(?:\w+\s+)?\w+", "context": ["device", "model", "using", "on"]},
    {"type": "DEVICE", "pattern": r"Serial\s+Number:?\s+([A-Z0-9]{5,})", "context": []},
    {"type": "ID_NUMBER", "pattern": r"(?:Order|Invoice)(?:\s+(?:Number|#|ID|No\.?)):\s*([A-Za-z0-9\-]+)", "context": []},
    {"type": "ID_NUMBER", "pattern": r"(?:Customer|Account)(?:\s+(?:ID|#|No\.?)):\s*([A-Za-z0-9\-]+)", "context": ["customer", "account", "id", "number"]},
    {"type": "MEDICAL", "pattern": r"\b(?:patient|medical|health|record)\s+(?:id|number|#):\s*([A-Za-z0-9\-]+)", "context": []},
    {"type": "MEDICAL", "pattern": r"\b(?:MRN|PHN)(?::|#|\s+number)?\s*:?\s*([A-Za-z0-9\-]+)", "context": []},
    {"type": "MEDICAL", "pattern": r"Medical Insurance ID:?\s*([A-Za-z0-9\-]+)", "context": []},
    {"type": "MEDICAL", "pattern": r"Provider ID:?\s*([A-Za-z0-9\-]+)", "context": []},
    {"type": "ID_NUMBER", "pattern": r"\b(?:passport|driver|license|id)\s+(?:number|#):\s*([A-Za-z0-9\-]+)", "context": []},
    {"type": "ID_NUMBER", "pattern": r"\b[A-Z]{1,2}[0-9]{6,9}\b", "context": ["passport", "government", "license", "identification"]},
    {"type": "ID_NUMBER", "pattern": r"Employee\s+ID:?\s*([A-Za-z0-9\-]+)", "context": []},
]


# Necessary-literal prefilters: pattern -> lowercase substrings of
# which at least one MUST occur in lower(text) for the pattern to
# match at all.  Pure pruning -- semantics-equivalence is asserted by
# tests/test_kernel_spans.py::test_prefilter_equivalence.
REGEX_PREFILTERS: dict[str, list[str]] = {
 "\\b\\d{3}-\\d{2}-\\d{4}\\b": [
  "-"
 ],
 "\\b(?:\\d{1,3}\\.){3}\\d{1,3}\\b": [
  "."
 ],
 "\\b([0-9A-Fa-f]{2}[:-]){5}[0-9A-Fa-f]{2}\\b": [
  ":",
  "-"
 ],
 "\\b([0-9A-Fa-f]{2}[.]){5}[0-9A-Fa-f]{2}\\b": [
  "."
 ],
 "\\bhttps?://[^\\s]+\\b": [
  "http"
 ],
 "\\b(?:www\\.)[a-z0-9-]+(?:\\.[a-z]{2,})+(?:/[^\\s]*)?": [
  "www."
 ],
 "\\b[a-z0-9-]+\\.[a-z0-9-]+\\.[a-z]{2,}(?:/[^\\s]*)?": [
  "."
 ],
 "\\b\\d{1,2}[/-]\\d{1,2}[/-]\\d{2,4}\\b": [
  "/",
  "-"
 ],
 "\\b(?:Jan|Feb|Mar|Apr|May|Jun|Jul|Aug|Sep|Oct|Nov|Dec)[a-z]* \\d{1,2},? \\d{4}\\b": [
  "jan",
  "feb",
  "mar",
  "apr",
  "may",
  "jun",
  "jul",
  "aug",
  "sep",
  "oct",
  "nov",
  "dec"
 ],
 "\\b\\d{1,2}/\\d{2}\\b": [
  "/"
 ],
 "\\b\\d{4}-\\d{2}-\\d{2}\\b": [
  "-"
 ],
 "\\b\\d{4}-\\d{2}-\\d{2}[ T]\\d{2}:\\d{2}:\\d{2}\\b": [
  ":"
 ],
 "\\b\\d{2}/\\d{2}/\\d{4}\\b": [
  "/"
 ],
 "(?i)(?:password|passwd|pwd)(?::|=|\\s+is\\s+)\\s*(\\S+)": [
  "password",
  "passwd",
  "pwd"
 ],
 "(?i)password(?:\\s+was|\\s+has\\s+been)?\\s+(?:reset|changed)(?:\\s+to)?\\s+(\\S+)": [
  "password"
 ],
 "(?=.*[A-Za-z])(?=.*\\d)(?=.*[$#@!%^&*()_+])[A-Za-z\\d$#@!%^&*()_+]{8,}": [
  "$",
  "#",
  "@",
  "!",
  "%",
  "^",
  "&",
  "*",
  "(",
  ")",
  "_",
  "+"
 ],
 "credit card:?\\s*\\**\\d{4}": [
  "credit card"
 ],
 "\\bCVV:?\\s*(\\d{3,4})\\b": [
  "cvv"
 ],
 "\\bCVC:?\\s*(\\d{3,4})\\b": [
  "cvc"
 ],
 "\\bsecurity\\s+code:?\\s*(\\d{3,4})\\b": [
  "security"
 ],
 "(?i)api[_-]?key(?::|=|\\s+is\\s+)\\s*([A-Za-z0-9\\-_\\.]{8,})\\b": [
  "api"
 ],
 "(?i)(?:api|app|access)[_-]?(?:key|token|secret|id)(?::|=|\\s+is\\s+)\\s*\\S+": [
  "api",
  "app",
  "access"
 ],
 "ey[A-Za-z0-9_-]{10,}\\.[A-Za-z0-9_-]{10,}\\.[A-Za-z0-9_-]*": [
  "ey"
 ],
 "gh[pousr]_[A-Za-z0-9_]{16,}\\b": [
  "gh"
 ],
 "(?i)(?:deploy|access|auth|oauth)[_-]?token(?::|=|\\s+is\\s+)\\s*\\S+": [
  "token"
 ],
 "(?i)(?:bearer|basic|digest|oauth)[_-]?token(?::|=|\\s+is\\s+)\\s*\\S+": [
  "token"
 ],
 "(?i)auth(?:entication)?(?::|=|\\s+is\\s+)\\s*\\S+": [
  "auth"
 ],
 "(?i)credential(?:s)?(?::|=|\\s+is\\s+)\\s*\\S+": [
  "credential"
 ],
 "session\\s+key:?\\s*\\S+": [
  "session"
 ],
 "\\brouting[:\\s]+(\\d{9})\\b": [
  "routing"
 ],
 "\\baccount\\s+(?:number|#)?[:\\s]+(\\d+)\\b": [
  "account"
 ],
 "\\b(?:account|acct)(?:.+?)ending in (\\d{4})\\b": [
  "account",
  "acct"
 ],
 "ending in \\d{4}": [
  "ending in"
 ],
 "card \\(ending in \\d{4}": [
  "card (ending"
 ],
 "(?:bank|checking|savings)\\s+account:?\\s*(\\d{8,})": [
  "bank",
  "checking",
  "savings"
 ],
 "routing\\s+number:?\\s*(\\d{8,})": [
  "routing"
 ],
 "\\b(?:roll|enrollment|student)(?:.+?)(?:number|no|#)?[:\\s]+([A-Za-z0-9\\-]{5,10})\\b": [
  "roll",
  "enrollment",
  "student"
 ],
 "\\busername[:\\s]+(\\S+)\\b": [
  "username"
 ],
 "\\blogin[:\\s]+(\\S+)\\b": [
  "login"
 ],
 "\\buser(?:name)?[:\\s]+(\\S+)\\b": [
  "user"
 ],
 "(?:iPhone|iPad|MacBook|Android|Windows|Device)\\s+(?:\\w+\\s+)?\\w+": [
  "iphone",
  "ipad",
  "macbook",
  "android",
  "windows",
  "device"
 ],
 "Serial\\s+Number:?\\s+([A-Z0-9]{5,})": [
  "serial"
 ],
 "(?:Order|Invoice)(?:\\s+(?:Number|#|ID|No\\.?)):\\s*([A-Za-z0-9\\-]+)": [
  "order",
  "invoice"
 ],
 "(?:Customer|Account)(?:\\s+(?:ID|#|No\\.?)):\\s*([A-Za-z0-9\\-]+)": [
  "customer",
  "account"
 ],
 "\\b(?:patient|medical|health|record)\\s+(?:id|number|#):\\s*([A-Za-z0-9\\-]+)": [
  "patient",
  "medical",
  "health",
  "record"
 ],
 "\\b(?:MRN|PHN)(?::|#|\\s+number)?\\s*:?\\s*([A-Za-z0-9\\-]+)": [
  "mrn",
  "phn"
 ],
 "Medical Insurance ID:?\\s*([A-Za-z0-9\\-]+)": [
  "medical insurance"
 ],
 "Provider ID:?\\s*([A-Za-z0-9\\-]+)": [
  "provider"
 ],
 "\\b(?:passport|driver|license|id)\\s+(?:number|#):\\s*([A-Za-z0-9\\-]+)": [
  "passport",
  "driver",
  "license",
  "id"
 ],
 "Employee\\s+ID:?\\s*([A-Za-z0-9\\-]+)": [
  "employee"
 ]
}

# --- Blocklist (context-gate rejection).  server/blocklist.json:2-12.
#     The engine unions common_name_words into it at load
#     (detection_engine.py:92 `self.blocklist.update(self.common_name_words)`)
#     -- BLOCKLIST below is that union; the raw file contents are
#     _BLOCKLIST_FILE.
_BLOCKLIST_FILE: frozenset[str] = frozenset({
    "Submitted", "Customer", "Issue Description", "Order Number", "Account",
    "Confirmation", "Attempts", "Reference", "Description", "Screenshots",
    "Communication", "Number", "Information", "Details", "Subject", "Team",
    "Project", "Request", "Update", "From", "Hi", "Hello", "Dear", "Regards",
    "Best", "Thanks", "Thank you", "Report", "Board", "Contract", "Company",
    "Office", "Employee", "Manager", "Director", "VP", "CEO", "CTO", "CFO",
    "Approved by", "Case Priority", "High", "Medium", "Low", "Internal",
    "External", "Technical", "Model", "Device", "CONFIDENTIAL", "Support",
    "Ticket", "Date", "Phone", "Email", "Contact", "BILLING", "INFORMATION",
    "Expiration", "Security", "Code", "CVV", "DEVICE", "DETAILS", "NOTES",
    "Alternate", "HISTORY", "STATUS", "EMPLOYEE", "Priority",
})

# --- Common name words (fallback-name suppression).
#     server/common_name_words.json:2-4
COMMON_NAME_WORDS: frozenset[str] = frozenset({
    "Best", "Approved", "Location", "Contact", "Technical", "Internal",
    "University", "City", "State", "Country", "Street", "Avenue",
    "Customer", "Support", "Service", "Sales", "Marketing", "Priority",
    "Status",
})
# Lower-cased view: the fallback detector compares name.lower() against this
# set (server/detection_engine.py:579) even though the file stores
# capitalized words -- the comparison therefore NEVER matches in the
# reference.  We reproduce the as-implemented behavior (lowercase compare
# against capitalized entries) rather than the apparent intent.
COMMON_NAME_WORDS_LOWER_COMPARE: frozenset[str] = COMMON_NAME_WORDS

# The D8 context gate checks against the UNION (detection_engine.py:92).
BLOCKLIST: frozenset[str] = _BLOCKLIST_FILE | COMMON_NAME_WORDS

# --- Pseudonymize-on-full-mask types.  server/pseudonymize_types.json:2-4 -
PSEUDONYMIZE_TYPES: frozenset[str] = frozenset({
    "PERSON", "ORGANIZATION", "LOCATION", "EMAIL_ADDRESS",
    "API_KEY", "DEPLOY_TOKEN", "AUTHENTICATION", "MEDICAL",
})

# --- Default per-type PII options.  server/default_pii_options.json -------
DEFAULT_PII_OPTIONS: dict[str, bool] = {
    "PERSON": True, "ORGANIZATION": True, "LOCATION": True, "EMAIL_ADDRESS": True,
    "PHONE_NUMBER": True, "CREDIT_CARD": True, "SSN": True, "IP_ADDRESS": True,
    "URL": True, "DATE_TIME": True, "PASSWORD": True, "API_KEY": True,
    "DEPLOY_TOKEN": True, "AUTHENTICATION": True, "FINANCIAL": True,
    "CREDENTIAL": True, "ROLL_NUMBER": True, "DEVICE": True, "MEDICAL": True,
    "ID_NUMBER": True, "MAC_ADDRESS": True,
}

# --- Engine runtime defaults.  server/detection_engine.py:63-79 -----------
ENGINE_CONFIG: dict = {
    "confidence_threshold": 0.5,
    "context_window": 40,            # in WORDS for the regex gate (as implemented)
    "entity_confidence_threshold": 0.3,
    "enable_context_detection": True,
    "enable_fallback_name_detector": True,
    "enable_medical_pii": True,
    "enable_pii_specialized": True,
    # technical/legal/financial MCP servers are commented out in the live
    # server (server/server.py:83-86) so those model stages never run:
    "enable_technical_ner": False,
    "enable_legal_ner": False,
    "enable_financial_ner": False,
    "legal_model_threshold": 0.8,
    "financial_model_threshold": 0.7,
}

# Per-model confidence floors (P1).  server/detection_engine.py:411-421
MODEL_THRESHOLDS: dict[str, float] = {
    "legal": 0.8,
    "financial": 0.7,
    "general": 0.5,
    "medical": 0.6,
    "technical": 0.6,
    "pii_specialized": 0.5,
}
MODEL_THRESHOLD_DEFAULT = 0.3

# Generic labels dropped for legal/financial models (P2).
# server/detection_engine.py:423-431
GENERIC_LABELS: frozenset[str] = frozenset({
    "LABEL_0", "LABEL_1", "LABEL_2", "LABEL_3", "LABEL_4",
    "LABEL_5", "LABEL_6", "LABEL_7", "LABEL_8", "LABEL_9",
    "B-MISC", "I-MISC", "O", "MISC", "UNKNOWN", "OTHER",
    "NEGATIVE", "POSITIVE", "NEUTRAL",
})

# --- False-positive stoplists (P4).  server/detection_engine.py:746-812 ---
COMMON_FALSE_POSITIVES: frozenset[str] = frozenset({
    "the", "and", "or", "but", "in", "on", "at", "to", "for", "of", "with",
    "by", "from", "up", "about", "into", "through", "during", "before",
    "after", "above", "below", "between", "among", "is", "are", "was",
    "were", "be", "been", "being", "have", "has", "had", "do", "does",
    "did", "will", "would", "could", "should", "may", "might", "must",
    "can", "shall", "a", "an", "this", "that", "these", "those",
    ".", ",", ":", ";", "(", ")", "[", "]", "{", "}", "-", "_",
})
ORG_FALSE_POSITIVES: frozenset[str] = frozenset({
    "this", "that", "these", "those", "agreement", "contract", "document",
    "between", "among", "within", "under", "over", "above", "below",
    "made", "signed", "executed", "entered", "dated", "effective",
    "party", "parties", "section", "clause", "paragraph", "article",
    "whereas", "therefore", "hereby", "herein", "hereof", "hereunder",
    "including", "excluding", "subject", "pursuant", "accordance",
    "respect", "regard", "connection", "relation", "reference",
})
PERSON_FALSE_POSITIVES: frozenset[str] = frozenset({
    "mr", "mrs", "ms", "dr", "prof", "sir", "madam", "miss",
})
LOCATION_FALSE_POSITIVES: frozenset[str] = frozenset({
    "here", "there", "where", "everywhere", "somewhere", "nowhere",
    "above", "below", "under", "over", "inside", "outside",
})
COMMON_DOCUMENT_WORDS: frozenset[str] = frozenset({
    "agreement", "contract", "document", "letter", "email", "message",
    "text", "content", "information", "data", "details", "description",
    "summary", "report", "analysis", "review", "study", "research",
})

# Specific types preferred during overlap resolution (P7).
# server/detection_engine.py:817-820
SPECIFIC_TYPES: frozenset[str] = frozenset({
    "PERSON", "ORGANIZATION", "LOCATION", "EMAIL_ADDRESS", "PHONE_NUMBER",
    "SSN", "CREDIT_CARD", "IP_ADDRESS", "URL", "DATE_TIME",
})

# Fallback name detector stopwords.  server/detection_engine.py:562-568
FALLBACK_NON_NAMES: frozenset[str] = frozenset({
    "the", "a", "an", "this", "that", "these", "those", "is", "are",
    "my", "your", "his", "her", "our", "their", "its", "if", "in",
    "on", "at", "to", "for", "with", "by", "as", "of", "from",
    "about", "ssn", "id", "cc", "cv", "cvv", "pin", "no", "yes",
    "ok", "new", "old", "first", "last",
})
SENTENCE_START_DEMONSTRATIVES: frozenset[str] = frozenset({
    "The", "This", "That", "These", "Those", "My", "Your", "Our", "Their", "It",
})

# Contextual org detector gazetteer + indicators (D3).
# server/detection_engine.py:499-517
AMBIGUOUS_COMPANIES: dict[str, str] = {
    "apple": "ORGANIZATION", "amazon": "ORGANIZATION", "google": "ORGANIZATION",
    "meta": "ORGANIZATION", "microsoft": "ORGANIZATION", "oracle": "ORGANIZATION",
    "shell": "ORGANIZATION", "twitter": "ORGANIZATION", "uber": "ORGANIZATION",
}
ORG_CONTEXT_INDICATORS: list[str] = [
    r"\b(work|working|job|career|company|corporation|inc|firm)\b",
    r"\b(tech|technology|product|products|device|phone|computer)\b",
    r"\b(stock|share|market|investor|investment)\b",
    r"\b(ceo|founder|employee|staff|team)\b",
]

# Domain classifier keywords (D13).  server/detection_engine.py:299
MEDICAL_DOMAIN_KEYWORDS: tuple[str, ...] = (
    "medical", "patient", "doctor", "hospital", "diagnosis",
)

# --- PII-specialized pattern sub-bank (D9).
#     server/models/pii_specialized_ner.py:42-86 ---------------------------
# (name, pattern, flags-are-baked-into-pattern, entity type, base confidence)
PII_PATTERNS: list[dict] = [
    {"name": "ssn", "pattern": r"\b\d{3}-?\d{2}-?\d{4}\b", "type": "SSN", "conf": 0.95},
    {"name": "passport", "pattern": r"\b[A-Z]{1,2}\d{6,9}\b", "type": "PASSPORT_NUMBER", "conf": 0.90},
    {"name": "license", "pattern": r"\b[A-Z]{1,2}\d{6,8}\b", "type": "DRIVER_LICENSE", "conf": 0.85},
    {"name": "credit_card", "pattern": r"\b(?:\d{4}[-\s]?){3}\d{4}\b", "type": "CREDIT_CARD", "conf": 0.90},
    {"name": "bank_account", "pattern": r"\b\d{8,17}\b", "type": "BANK_ACCOUNT", "conf": 0.80},
    {"name": "routing_number", "pattern": r"\b\d{9}\b", "type": "ROUTING_NUMBER", "conf": 0.85},
    {"name": "email", "pattern": r"\b[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Z|a-z]{2,}\b", "type": "EMAIL_ADDRESS", "conf": 0.95},
    {"name": "phone", "pattern": r"\b(?:\+?1[-.\s]?)?\(?[0-9]{3}\)?[-.\s]?[0-9]{3}[-.\s]?[0-9]{4}\b", "type": "PHONE_NUMBER", "conf": 0.90},
    {"name": "zip_code", "pattern": r"\b\d{5}(?:-\d{4})?\b", "type": "ZIP_CODE", "conf": 0.85},
    {"name": "username", "pattern": r"@[A-Za-z0-9_]{3,15}\b", "type": "USERNAME", "conf": 0.80},
    {"name": "ip_address", "pattern": r"\b(?:[0-9]{1,3}\.){3}[0-9]{1,3}\b", "type": "IP_ADDRESS", "conf": 0.90},
    {"name": "url", "pattern": r"https?://[^\s<>\"{}|\\^`\[\]]+", "type": "URL", "conf": 0.95},
    {"name": "date", "pattern": r"\b(?:\d{1,2}[/-]\d{1,2}[/-]\d{2,4}|\d{4}[/-]\d{1,2}[/-]\d{1,2})\b", "type": "DATE_TIME", "conf": 0.75},
    {"name": "age", "pattern": r"\b(?:age\s+)?(\d{1,3})\s*(?:years?\s*old|y\.?o\.?)\b", "iflags": True, "type": "AGE", "conf": 0.80},
    {"name": "employee_id", "pattern": r"\b(?:emp|employee|staff)[-\s]?(?:id|number)[-\s:]*([A-Z0-9]{4,12})\b", "iflags": True, "type": "EMPLOYEE_ID", "conf": 0.85},
    {"name": "student_id", "pattern": r"\b(?:student|roll)[-\s]?(?:id|number|no)[-\s:]*([A-Z0-9]{4,12})\b", "iflags": True, "type": "STUDENT_ID", "conf": 0.85},
    {"name": "case_number", "pattern": r"\b(?:case|ticket|ref)[-\s]?(?:number|no|#)[-\s:]*([A-Z0-9]{4,12})\b", "iflags": True, "type": "CASE_NUMBER", "conf": 0.80},
    {"name": "medical_record", "pattern": r"\b(?:mrn|medical[-\s]record)[-\s:]*([A-Z0-9]{4,12})\b", "iflags": True, "type": "MEDICAL_RECORD_NUMBER", "conf": 0.90},
    {"name": "insurance_id", "pattern": r"\b(?:insurance|policy)[-\s]?(?:id|number)[-\s:]*([A-Z0-9]{4,15})\b", "iflags": True, "type": "INSURANCE_ID", "conf": 0.85},
    {"name": "license_plate", "pattern": r"\b[A-Z0-9]{2,3}[-\s]?[A-Z0-9]{3,4}\b", "type": "LICENSE_PLATE", "conf": 0.85},
    {"name": "vin", "pattern": r"\b[A-HJ-NPR-Z0-9]{17}\b", "type": "VIN", "conf": 0.95},
    {"name": "fingerprint", "pattern": r"\b(?:fingerprint|biometric)[-\s]?(?:id|data)\b", "iflags": True, "type": "BIOMETRIC_IDENTIFIER", "conf": 0.90},
    {"name": "dna", "pattern": r"\b(?:dna|genetic)[-\s]?(?:profile|data|sequence)\b", "iflags": True, "type": "BIOMETRIC_IDENTIFIER", "conf": 0.90},
]


PII_PREFILTERS: dict[str, list[str]] = {
 "email": [
  "@"
 ],
 "username": [
  "@"
 ],
 "url": [
  "http"
 ],
 "ip_address": [
  "."
 ],
 "date": [
  "/",
  "-"
 ],
 "age": [
  "year",
  "yo",
  "y.o",
  "y o"
 ],
 "employee_id": [
  "emp",
  "staff"
 ],
 "student_id": [
  "student",
  "roll"
 ],
 "case_number": [
  "case",
  "ticket",
  "ref"
 ],
 "medical_record": [
  "mrn",
  "medical"
 ],
 "insurance_id": [
  "insurance",
  "policy"
 ],
 "fingerprint": [
  "fingerprint",
  "biometric"
 ],
 "dna": [
  "dna",
  "genetic"
 ]
}

# PII context indicators for the x1.1 model boost and the +/- pattern
# adjustments.  server/models/pii_specialized_ner.py:339-357 (indicators),
# :276-329 (adjustments).
PII_CONTEXT_INDICATORS: tuple[str, ...] = (
    "personal", "private", "confidential", "sensitive", "protected",
    "identity", "identification", "id", "number", "account", "record",
    "contact", "address", "phone", "email", "social", "security",
    "credit", "card", "bank", "financial", "medical", "health",
    "insurance", "policy", "license", "passport", "driver",
    "employee", "student", "patient", "customer", "client",
    "name", "birth", "age", "date", "ssn", "dob", "gender",
)

# Anonymization config.  server/anonymization_engine.py:49-55,
# server/config_static.json
ANON_CONFIG: dict = {
    "partial_mask_char": "*",
    "preserve_format": True,
    "default_strategy": "pseudonymize",
    "hash_algorithm": "md5",
    "hash_length": 6,
}

URL_PATH_WHITELIST: frozenset[str] = frozenset({
    "api", "v1", "v2", "v3", "dashboard", "login", "public", "static",
})
