"""Reference-semantics PII mention detection kernel (pure Python).

This module reproduces, as deterministic pure functions, the detection
semantics of the reference engine (rushilpatel21/Redactify,
server/detection_engine.py + server/server.py): the seven-way detector
union, the post-processing chain (thresholds, false-positive filters,
dedup, overlap merge) and the server-side normalization.  It is the
SINGLE source of truth: the pytest span fixtures assert against it, and
the Spark detection stage (`redactify_spark.operators.detection`) calls
it per Arrow batch inside ``mapInPandas`` -- parity by construction.

Mention record: a dict with keys
  entity_group:str, start:int, end:int, score:float, detector:str
  (+ word/entity_text/pattern_type where the reference adds them)
Character offsets are half-open [start, end) into the original text
(server/detection_engine.py:443-449 et al.).

Determinism note: the reference unions detector outputs in thread /
coroutine completion order, which is nondeterministic for ties; we pin a
fixed detector order (presidio, regex, contextual, models, fallback).
The ensuing stable sort by ``start`` (server/detection_engine.py:683)
then yields a deterministic total order, and the P6 dedup "highest
score, first inserted wins" tiebreak becomes reproducible.

Cost: every pure optimization of the regex scans sits behind the
``ENABLE_PREFILTERS`` switch and gives the plain path's spans exactly.
Besides literal prefilters, each rule led by ``\\b`` or an optional group
is tried only at the candidate starts of a per-document index
(``_AnchorIndex``) instead of at every position, the D8 context gate
cuts long window pieces, and P10 overlap removal is a sweep.  A
document's cost then grows linearly with its length, also on long runs
of the email and URL classes (tests/test_kernel_anchors.py).
"""

from __future__ import annotations

import bisect
import logging
import re
from re import _parser as _sre
from typing import Iterable, Optional

from redactify_spark import config as C

_log = logging.getLogger(__name__)

# ---------------------------------------------------------------------------
# Pattern compilation (once per process / Spark python worker)
# ---------------------------------------------------------------------------

# The A/B switch for every pure optimization of the regex scans; off, each
# rule is one plain `finditer`.  On, it covers:
# - prefilters (C.REGEX_PREFILTERS / C.PII_PREFILTERS): skip a rule whose
#   necessary literal is absent from lower(text);
# - anchored scans (_AnchorIndex): `re` skips ahead at C speed only when a
#   pattern starts with a bare literal or class, so a rule led by `\b` or
#   an optional group runs its full matcher at every position.  Such a
#   rule runs as `match(text, s)` at each candidate start s at or after
#   the previous match's end instead.  That yields exactly finditer's
#   leftmost non-overlapping matches: every position where a match can
#   start is a candidate, and `match` still checks `\b` and lookbehind
#   against the text before s.
# Equivalence: tests/test_kernel_spans.py::test_prefilter_equivalence and
# tests/test_kernel_anchors.py.
ENABLE_PREFILTERS = True


# ---------------------------------------------------------------------------
# Anchored scans.  A rule's anchor is derived once from its parsed pattern:
# - "digit": `\b` then a digit: starts of digit runs with a boundary;
# - "upper": `\b` then ASCII [A-Z0-9], case-sensitive;
# - "sign": any [+(\d] character (a rule led by optional groups);
# - (x, run): `\b R+ x ...` where the class R excludes the literal x.  A
#   start inside the maximal R-run before an x consumes the whole run, so
#   every boundary in one run matches, or fails, alike: the run's first
#   boundary at or after the previous match's end is its one candidate.
#   This makes the email and URL-domain rules linear on long runs of R.
# Anything else (the first atom unrecognised, or an IGNORECASE letter
# class, which `ſ` and the Kelvin sign also match) keeps plain finditer.
# ---------------------------------------------------------------------------

_START_FINDERS = {
    # a leading class gives `re` its fast prefix scan; the lookbehind then
    # keeps the characters with a word boundary before them
    "digit": re.compile(r"\d(?<!\w\d)"),
    "upper": re.compile(r"[A-Z0-9](?<!\w[A-Z0-9])"),
    "sign": re.compile(r"[+(\d]"),
}
_BOUNDARY = re.compile(r"\b")


def _atom_anchors(op, av, ignorecase: bool) -> set[str]:
    """The start classes that contain every character one atom matches."""
    if op is _sre.CATEGORY:
        return {"digit", "sign"} if av is _sre.CATEGORY_DIGIT else set()
    if op is _sre.LITERAL:
        lo = hi = av
    elif op is _sre.RANGE:
        lo, hi = av
    else:
        return set()
    if 48 <= lo and hi <= 57:                      # ASCII digits
        return {"digit", "upper", "sign"}
    if 65 <= lo and hi <= 90 and not ignorecase:   # ASCII A-Z
        return {"upper"}
    if lo == hi and chr(lo) in "+(":
        return {"sign"}
    return set()


def _first_atoms(seq) -> Optional[tuple[list, bool]]:
    """(atoms any match's first character passes, whether `seq` can match
    empty), or None when an element is not recognised."""
    atoms: list = []
    for op, av in seq:
        if op is _sre.LITERAL:
            return atoms + [(op, av)], False
        if op is _sre.IN:
            return atoms + list(av), False
        if op in (_sre.MAX_REPEAT, _sre.MIN_REPEAT):
            found = _first_atoms(av[2])
            nullable = av[0] == 0
        elif op is _sre.SUBPATTERN and not (av[1] or av[2]):
            found = _first_atoms(av[3])
            nullable = False
        elif op is _sre.BRANCH:
            alts = [_first_atoms(alt) for alt in av[1]]
            if None in alts:
                return None
            found = ([a for sub, _ in alts for a in sub],
                     any(n for _, n in alts))
            nullable = False
        else:
            return None
        if found is None:
            return None
        atoms += found[0]
        if not (nullable or found[1]):
            return atoms, False
    return atoms, True


def _run_anchor(seq, flags: int):
    """(x, compiled R+) for a pattern `\\b R+ x ...` whose class R
    excludes the literal x, else None."""
    if len(seq) < 2 or seq[0][0] is not _sre.MAX_REPEAT \
            or seq[1][0] is not _sre.LITERAL:
        return None
    lo, hi, body = seq[0][1]
    x = chr(seq[1][1])
    if lo < 1 or hi is not _sre.MAXREPEAT or len(body) != 1 \
            or body[0][0] is not _sre.IN:
        return None
    if flags & re.IGNORECASE and not x.lower() == x == x.upper():
        return None
    parts = []
    for op, av in body[0][1]:
        if op is _sre.LITERAL:
            parts.append(re.escape(chr(av)))
        elif op is _sre.RANGE:
            parts.append(f"{re.escape(chr(av[0]))}-{re.escape(chr(av[1]))}")
        else:
            return None
    run = re.compile(f"[{''.join(parts)}]+", flags)
    return None if run.match(x) else (x, run)


def _anchor_of(pat: re.Pattern):
    """A rule's anchor (see above), or None for plain finditer."""
    if pat.flags & (re.ASCII | re.LOCALE):
        return None
    parsed = _sre.parse(pat.pattern, pat.flags)
    if parsed.getwidth()[0] == 0:
        return None
    seq = list(parsed)
    boundary = seq[0] == (_sre.AT, _sre.AT_BOUNDARY)
    if boundary:
        seq = seq[1:]
        run = _run_anchor(seq, pat.flags)
        if run is not None:
            return run
    elif seq[0][0] in (_sre.LITERAL, _sre.IN):
        return None  # `re` already skips ahead to this literal or class
    found = _first_atoms(seq)
    if found is None or found[1]:
        return None
    common = {"digit", "upper", "sign"}
    for op, av in found[0]:
        common &= _atom_anchors(op, av, bool(pat.flags & re.IGNORECASE))
    for kind in ("digit", "upper") if boundary else ():
        if kind in common:
            return kind
    return "sign" if "sign" in common else None


class _AnchorIndex:
    """One document's candidate starts, built lazily and shared by every
    rule that reads them, and, for the D8 gate, where each context word
    occurs in the lowered text."""
    __slots__ = ("text", "_starts", "_reversed", "_lower", "_occurrences")

    def __init__(self, text: str):
        self.text = text
        self._starts: dict[str, list[int]] = {}
        self._reversed: Optional[str] = None
        self._lower: Optional[str] = None
        self._occurrences: dict[str, list[int]] = {}

    def lower_keeps_offsets(self) -> bool:
        """Whether text.lower() maps each character to one, so an offset
        into the text is one into its lowered form."""
        if self._lower is None:
            self._lower = self.text.lower()
        return len(self._lower) == len(self.text)

    def occurs(self, word: str, start: int, end: int) -> bool:
        """Whether lower(text[start:end]) holds the ASCII `word`; needs
        lower_keeps_offsets()."""
        found = self._occurrences.get(word)
        if found is None:
            found = self._occurrences[word] = []
            at = self._lower.find(word)
            while at != -1:
                found.append(at)
                at = self._lower.find(word, at + 1)
        i = bisect.bisect_left(found, start)
        return i < len(found) and found[i] + len(word) <= end

    def matches(self, pat: re.Pattern, anchor) -> Iterable[re.Match]:
        """Exactly `pat.finditer(text)`."""
        text = self.text
        if anchor is None or not ENABLE_PREFILTERS:
            return pat.finditer(text)
        if isinstance(anchor, str):
            starts = self._starts.get(anchor)
            if starts is None:
                starts = self._starts[anchor] = [
                    m.start() for m in _START_FINDERS[anchor].finditer(text)]
            return _match_at(pat, starts, text)
        if self._reversed is None:
            self._reversed = text[::-1]
        return _match_at_runs(pat, anchor, text, self._reversed)


def _match_at(pat: re.Pattern, starts: list[int], text: str
              ) -> list[re.Match]:
    """finditer's matches, tried only at the sorted candidate `starts`."""
    out = []
    match = pat.match
    pos = 0
    for s in starts:
        if s >= pos:
            m = match(text, s)
            if m is not None:
                out.append(m)
                pos = m.end()
    return out


def _match_at_runs(pat: re.Pattern, anchor, text: str, reversed_text: str
                   ) -> list[re.Match]:
    """finditer's matches of a `\\b R+ x ...` rule: one candidate per
    R-run that ends at an x."""
    x, run = anchor
    n = len(text)
    out = []
    pos = 0
    a = text.find(x)
    while a != -1:
        # the R-run that ends at this x, read right to left
        r = run.match(reversed_text, n - a)
        if r is not None:
            lo = max(a - (r.end() - (n - a)), pos)
            b = _BOUNDARY.search(text, lo, a)
            if b is not None and b.start() < a:
                m = pat.match(text, b.start())
                if m is not None:
                    out.append(m)
                    pos = m.end()
        a = text.find(x, max(a + 1, pos))
    return out


_COMPILED_BANK: list[dict] = []
for _p in C.REGEX_BANK:
    _d = dict(_p)
    _d["compiled"] = re.compile(_p["pattern"], re.IGNORECASE)
    _d["prefilter"] = C.REGEX_PREFILTERS.get(_p["pattern"])
    _COMPILED_BANK.append(_d)

_COMPILED_PII: list[dict] = []
for _p in C.PII_PATTERNS:
    _d = dict(_p)
    _d["compiled"] = re.compile(_p["pattern"], re.IGNORECASE if _p.get("iflags") else 0)
    _d["prefilter"] = C.PII_PREFILTERS.get(_p["name"])
    _COMPILED_PII.append(_d)


_AMBIGUOUS_COMPANY_RES: list[tuple[re.Pattern, str, str]] = [
    (re.compile(rf"\b{re.escape(name)}\b", re.IGNORECASE), name, etype)
    for name, etype in C.AMBIGUOUS_COMPANIES.items()
]
_ORG_INDICATOR_RES = [re.compile(p, re.IGNORECASE) for p in C.ORG_CONTEXT_INDICATORS]

_FALLBACK_NAME_RE = re.compile(r"\b([A-Z][a-z]{2,})\b")
_TITLE_NAME_RE = re.compile(r"(?:Mr\.|Ms\.|Mrs\.|Dr\.|Prof\.) ([A-Z][a-zA-Z\-]{2,})")
_NEARBY_INDICATOR = r"(?::|=|is\s+|was\s+reset\s+to\s+)"


# ---------------------------------------------------------------------------
# D13: domain classification (server/detection_engine.py:289-313)
# ---------------------------------------------------------------------------

def classify_domains(text: str) -> list[str]:
    domains = ["general"]
    tl = text.lower()
    if any(w in tl for w in C.MEDICAL_DOMAIN_KEYWORDS):
        domains.append("medical")
    return domains


# ---------------------------------------------------------------------------
# D8: regex context gate (server/detection_engine.py:613-645)
# ---------------------------------------------------------------------------

# ``indicator + \s* + matched`` searched in `nearby` is equivalent to:
# at every (case-insensitive) occurrence of `matched` in `nearby`, the
# prefix ends with indicator+optional-ws.  Precompiling the tail pattern
# avoids building (and re-compiling) a fresh regex per candidate match.
_NEARBY_TAIL = re.compile(_NEARBY_INDICATOR + r"\s*$", re.IGNORECASE)
_TOKEN_RE = re.compile(r"\S+")


# A window piece longer than 2 * _CTX_KEEP + 1 characters (part of one
# huge token) is cut to its first and last _CTX_KEEP characters around a
# "\0" that no context word holds.  A word found across pieces uses at
# most len(word) - 1 characters of each, so the cut window still shows
# it; a word inside one piece is looked up in the document's occurrence
# index (_AnchorIndex.occurs).  A gate then costs O(window words), not
# O(token length), and a page with no whitespace stays linear.
_CTX_KEEP = max(len(w) for r in C.REGEX_BANK for w in r["context"])


def _word_window(text: str, span_start: int, span_end: int,
                 tokens: list[tuple[int, int]] | None, ctx: int,
                 cut: list[tuple[int, int]] | None = None) -> str:
    """The reference's word-window (detection_engine.py:628-632):
    ``text[:start].split()[-ctx:] + text[end:].split()[:ctx]`` -- computed
    from a per-document token-offset index instead of re-splitting the
    whole prefix/suffix per candidate.  A token straddling a boundary
    contributes its truncated piece, exactly as the slice-then-split does.
    With a `cut` list, long pieces are cut (see _CTX_KEEP) and their
    ranges appended to it.
    """
    if tokens is None:
        before = text[:span_start].split()[-ctx:] if span_start > 0 else []
        after = text[span_end:].split()[:ctx] if span_end < len(text) else []
        return " ".join(before + after).lower()
    before: list[tuple[int, int]] = []
    after: list[tuple[int, int]] = []
    if span_start > 0:
        idx = bisect.bisect_left(tokens, (span_start, span_start))
        if idx > 0 and tokens[idx - 1][1] > span_start:
            # token straddling span_start -> truncated head piece
            partial_i = idx - 1
            before = tokens[max(0, partial_i - ctx + 1):partial_i]
            before.append((tokens[partial_i][0], span_start))
        else:
            before = tokens[max(0, idx - ctx):idx]
    if span_end < len(text):
        idx = bisect.bisect_left(tokens, (span_end, -1))
        if idx > 0 and tokens[idx - 1][1] > span_end:
            # token straddling span_end -> truncated tail piece first
            after = [(span_end, tokens[idx - 1][1])] + tokens[idx:idx + ctx - 1]
        else:
            after = tokens[idx:idx + ctx]
    ranges = before + after
    longest = 2 * _CTX_KEEP + 1
    if cut is None or all(e - s <= longest for s, e in ranges):
        return " ".join([text[s:e] for s, e in ranges]).lower()
    pieces = []
    for s, e in ranges:
        if e - s > longest:
            cut.append((s, e))
            pieces.append(text[s:s + _CTX_KEEP] + "\0"
                          + text[e - _CTX_KEEP:e])
        else:
            pieces.append(text[s:e])
    return " ".join(pieces).lower()


def _has_context(text: str, span_start: int, span_end: int,
                 context_words: list[str],
                 tokens: list[tuple[int, int]] | None = None,
                 index: Optional[_AnchorIndex] = None) -> bool:
    if not context_words:
        return True
    matched_text = text[span_start:span_end]
    if matched_text in C.BLOCKLIST:
        return False
    # "Project X"-style names are a known false positive
    if matched_text.startswith("Project") and len(matched_text.split()) <= 2:
        return False
    # NB: window is applied to the WORD list (as implemented in the
    # reference, despite its comment saying characters)
    ctx = C.ENGINE_CONFIG["context_window"]
    cut: list[tuple[int, int]] | None = (
        [] if index is not None and index.lower_keeps_offsets() else None)
    context_text = _word_window(text, span_start, span_end, tokens, ctx, cut)
    for word in context_words:
        word = word.lower()
        if word in context_text:
            return True
        for s, e in cut or ():
            if index.occurs(word, s, e):
                return True
    nearby = text[max(0, span_start - 20):min(len(text), span_end + 10)]
    ml = matched_text.lower()
    nl = nearby.lower()
    pos = nl.find(ml)
    while pos != -1:
        if _NEARBY_TAIL.search(nearby, 0, pos):
            return True
        pos = nl.find(ml, pos + 1)
    return False


# ---------------------------------------------------------------------------
# D1: regex pattern bank (server/detection_engine.py:458-492)
# ---------------------------------------------------------------------------

# Fast path for the O(n^2) PASSWORD composite pattern
# '(?=.*[A-Za-z])(?=.*\d)(?=.*[$#@!%^&*()_+])[A-Za-z\d$#@!%^&*()_+]{8,}':
# its three lookaheads test the SUFFIX from the match start, and
# suffix-contains conditions are monotone (once false they stay false),
# so a candidate run matches iff run_start <= min(last letter, last
# digit, last special).  The bank compiles the rule with IGNORECASE, so
# its letter class also takes `ſ`, the Kelvin sign, `ı` and `İ`; the run
# and last-letter patterns do too.  Equivalence fuzz-tested in
# tests/test_kernel_spans.py::test_password_fast_path_equivalence.
_PASSWORD_COMPOSITE_SRC = (r"(?=.*[A-Za-z])(?=.*\d)(?=.*[$#@!%^&*()_+])"
                           r"[A-Za-z\d$#@!%^&*()_+]{8,}")
_PASSWORD_RUN = re.compile(r"[A-Za-z\d$#@!%^&*()_+]{8,}", re.IGNORECASE)
_LAST_ALPHA = re.compile(r"[A-Za-z](?=[^A-Za-z]*$)", re.IGNORECASE)
_LAST_DIGIT = re.compile(r"\d(?=\D*$)")
_LAST_SPECIAL = re.compile(r"[$#@!%^&*()_+](?=[^$#@!%^&*()_+]*$)")


def _password_composite_spans(text: str):
    # The reference pattern is compiled without DOTALL, so its '.*'
    # lookaheads stop at '\n': the required letter/digit/special must
    # occur at-or-after the run start ON THE SAME LINE.  Compute the
    # cutoff per '\n'-separated segment (the run charclass excludes
    # '\n', so no candidate run straddles segments) and offset spans.
    pos = 0
    for line in text.split("\n"):
        la = _LAST_ALPHA.search(line)
        ld = _LAST_DIGIT.search(line)
        ls = _LAST_SPECIAL.search(line)
        if la and ld and ls:
            cutoff = min(la.start(), ld.start(), ls.start())
            for m in _PASSWORD_RUN.finditer(line):
                if m.start() <= cutoff:
                    yield (pos + m.start(), pos + m.end())
        pos += len(line) + 1


# flat per-rule tuples (compiled, prefilter, context, type,
# is_password_composite): hoists the per-doc-per-rule dict lookups to
# load time.  Same bank, same order.
_BANK_T = [(d["compiled"], d.get("prefilter"), d.get("context"),
            d["type"], d["pattern"] == _PASSWORD_COMPOSITE_SRC,
            _anchor_of(d["compiled"]))
           for d in _COMPILED_BANK]


def detect_regex(text: str, index: _AnchorIndex) -> list[dict]:
    out = []
    text_lower = text.lower()
    tokens: list[tuple[int, int]] | None = None
    prefilters_on = ENABLE_PREFILTERS
    for compiled, pf, context, ptype, is_pw, anchor in _BANK_T:
        if prefilters_on and pf is not None:
            # any(lit in text_lower for lit in pf), without a genexpr frame
            for lit in pf:
                if lit in text_lower:
                    break
            else:
                continue
        if context and tokens is None and prefilters_on:
            tokens = [(m.start(), m.end())
                      for m in _TOKEN_RE.finditer(text)]
        ctx_list = context if context is not None else []
        if prefilters_on and is_pw:
            for start, end in _password_composite_spans(text):
                if _has_context(text, start, end, ctx_list, tokens, index):
                    out.append({
                        "entity_group": ptype,
                        "start": start, "end": end,
                        "score": 0.9,
                        "detector": "regex_internal",
                    })
            continue
        for m in index.matches(compiled, anchor):
            start, end = m.span()
            matched = text[start:end]
            if len(matched) < 3 and not context:
                continue
            if not matched.strip():
                continue
            if _has_context(text, start, end, ctx_list, tokens, index):
                out.append({
                    "entity_group": ptype,
                    "start": start, "end": end,
                    "score": 0.9,
                    "detector": "regex_internal",
                })
    return out


# ---------------------------------------------------------------------------
# D2: Presidio-style recognizer registry (deterministic subset)
#
# The reference calls presidio_analyzer.AnalyzerEngine().analyze(...)
# (server/detection_engine.py:433-456), a third-party library that is not
# available in this environment.  We vendor the handful of recognizers the
# pipeline actually relies on as deterministic pattern + checksum rules;
# their scores follow Presidio's published pattern scores so downstream
# thresholds behave equivalently.  This registry IS our pinned semantics
# (oracle and UDF share it).
# ---------------------------------------------------------------------------

def luhn_valid(digits: str) -> bool:
    """Luhn checksum (reference: server/models/financial_ner.py:280-301)."""
    ds = [int(c) for c in digits if c.isdigit()]
    if len(ds) < 12:
        return False
    total, alt = 0, False
    for d in reversed(ds):
        if alt:
            d *= 2
            if d > 9:
                d -= 9
        total += d
        alt = not alt
    return total % 10 == 0


def _valid_ip(s: str) -> bool:
    return all(0 <= int(p) <= 255 for p in s.split("."))


def _iban_valid(s: str) -> bool:
    """ISO 13616 mod-97 check (Presidio IbanRecognizer semantics)."""
    s = s.replace(" ", "")
    if not (15 <= len(s) <= 34):
        return False
    rearranged = s[4:] + s[:4]
    digits = ""
    for ch in rearranged:
        if ch.isdigit():
            digits += ch
        elif ch.isalpha():
            digits += str(ord(ch.upper()) - ord("A") + 10)
        else:
            return False
    return int(digits) % 97 == 1


_B58_ALPHABET = "123456789ABCDEFGHJKLMNPQRSTUVWXYZabcdefghijkmnopqrstuvwxyz"


def _btc_valid(addr: str) -> bool:
    """Base58Check validation (Presidio CryptoRecognizer semantics):
    decode to 25 bytes, double-sha256 checksum over the first 21."""
    import hashlib as _h
    n = 0
    for c in addr:
        i = _B58_ALPHABET.find(c)
        if i < 0:
            return False
        n = n * 58 + i
    try:
        raw = n.to_bytes(25, "big")
    except OverflowError:
        return False
    return _h.sha256(_h.sha256(raw[:-4]).digest()).digest()[:4] == raw[-4:]


def _nhs_valid(s: str) -> bool:
    """UK NHS number check digit (mod-11, Presidio UkNhsRecognizer)."""
    ds = [int(c) for c in s if c.isdigit()]
    if len(ds) != 10:
        return False
    check = 11 - sum(d * (10 - i) for i, d in enumerate(ds[:9])) % 11
    if check == 11:
        check = 0
    return check != 10 and check == ds[9]


def _dea_valid(s: str) -> bool:
    """DEA registration checksum (Presidio MedicalLicenseRecognizer):
    2 letters + 7 digits; (d1+d3+d5) + 2*(d2+d4+d6) ends in d7."""
    ds = [int(c) for c in s if c.isdigit()]
    if len(ds) != 7:
        return False
    total = (ds[0] + ds[2] + ds[4]) + 2 * (ds[1] + ds[3] + ds[5])
    return total % 10 == ds[6]


def _au_abn_valid(s: str) -> bool:
    """Australian Business Number (Presidio AuAbnRecognizer): 11 digits,
    subtract 1 from the first, weighted sum mod 89 == 0."""
    ds = [int(c) for c in s if c.isdigit()]
    if len(ds) != 11:
        return False
    ds[0] -= 1
    w = (10, 1, 3, 5, 7, 9, 11, 13, 15, 17, 19)
    return sum(d * x for d, x in zip(ds, w)) % 89 == 0


def _au_acn_valid(s: str) -> bool:
    """Australian Company Number (AuAcnRecognizer): 9 digits, weighted
    complement mod 10 equals the check digit."""
    ds = [int(c) for c in s if c.isdigit()]
    if len(ds) != 9:
        return False
    w = (8, 7, 6, 5, 4, 3, 2, 1)
    return (10 - sum(d * x for d, x in zip(ds, w)) % 10) % 10 == ds[8]


def _au_tfn_valid(s: str) -> bool:
    """Australian Tax File Number (AuTfnRecognizer): 9 digits, weighted
    sum mod 11 == 0."""
    ds = [int(c) for c in s if c.isdigit()]
    if len(ds) != 9:
        return False
    w = (1, 4, 3, 7, 5, 8, 6, 9, 10)
    return sum(d * x for d, x in zip(ds, w)) % 11 == 0


def _au_medicare_valid(s: str) -> bool:
    """Australian Medicare number (AuMedicareRecognizer): 10 digits,
    first 2-6, weighted sum of the first 8 mod 10 equals digit 9."""
    ds = [int(c) for c in s if c.isdigit()]
    if len(ds) != 10 or not 2 <= ds[0] <= 6:
        return False
    w = (1, 3, 7, 9, 1, 3, 7, 9)
    return sum(d * x for d, x in zip(ds[:8], w)) % 10 == ds[8]


def _sg_nric_valid(s: str) -> bool:
    """Singapore NRIC/FIN (SgFinRecognizer semantics): [STFG] + 7 digits
    + checksum letter (weights 2,7,6,5,4,3,2; +4 offset for T/G series;
    series-specific letter tables)."""
    s = s.upper()
    if len(s) != 9 or s[0] not in "STFG" or not s[1:8].isdigit():
        return False
    w = (2, 7, 6, 5, 4, 3, 2)
    total = sum(int(d) * x for d, x in zip(s[1:8], w))
    if s[0] in "TG":
        total += 4
    table = "JZIHGFEDCBA" if s[0] in "ST" else "XWUTRQPNMLK"
    return table[total % 11] == s[8]


# Verhoeff checksum tables (dihedral group D5) for IN_AADHAAR
_VH_D = (
    (0, 1, 2, 3, 4, 5, 6, 7, 8, 9), (1, 2, 3, 4, 0, 6, 7, 8, 9, 5),
    (2, 3, 4, 0, 1, 7, 8, 9, 5, 6), (3, 4, 0, 1, 2, 8, 9, 5, 6, 7),
    (4, 0, 1, 2, 3, 9, 5, 6, 7, 8), (5, 9, 8, 7, 6, 0, 4, 3, 2, 1),
    (6, 5, 9, 8, 7, 1, 0, 4, 3, 2), (7, 6, 5, 9, 8, 2, 1, 0, 4, 3),
    (8, 7, 6, 5, 9, 3, 2, 1, 0, 4), (9, 8, 7, 6, 5, 4, 3, 2, 1, 0))
_VH_P = (
    (0, 1, 2, 3, 4, 5, 6, 7, 8, 9), (1, 5, 7, 6, 2, 8, 3, 0, 9, 4),
    (5, 8, 0, 3, 7, 9, 6, 1, 4, 2), (8, 9, 1, 6, 0, 4, 3, 5, 2, 7),
    (9, 4, 5, 3, 1, 2, 6, 8, 7, 0), (4, 2, 8, 6, 5, 7, 3, 9, 0, 1),
    (2, 7, 9, 3, 8, 0, 6, 4, 1, 5), (7, 0, 4, 6, 9, 1, 3, 2, 5, 8))


def _aadhaar_valid(s: str) -> bool:
    """Indian Aadhaar (InAadhaarRecognizer): 12 digits, first in 2-9,
    Verhoeff checksum."""
    ds = [int(c) for c in s if c.isdigit()]
    if len(ds) != 12 or ds[0] < 2:
        return False
    c = 0
    for i, d in enumerate(reversed(ds)):
        c = _VH_D[c][_VH_P[i % 8][d]]
    return c == 0


# Recognizer registry: (type, pattern, base_score, validator,
# context_terms).  Pattern shapes and score tiers follow the public
# Presidio predefined recognizers (presidio_analyzer/predefined_
# recognizers/) that the reference's AnalyzerEngine ships by default
# (detection_engine.py:433-456 runs the full default registry):
# checksum-validated types score 1.0 on a passing check and are dropped
# on a failing one; weak shapes (9-digit passport, 8-17 digit bank
# account) start below the 0.3 pipeline threshold and only surface when
# a context term appears nearby (+0.35, Presidio's context enhancer).
_PRESIDIO_RULES: list[dict] = [
    dict(type="EMAIL_ADDRESS", score=1.0,
         pat=re.compile(r"\b[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}\b"),
         prefilter=("@",)),
    dict(type="URL", score=0.85,
         pat=re.compile(r"\bhttps?://[A-Za-z0-9.\-]+(?:/[^\s]*)?"),
         prefilter=("http",)),
    dict(type="IP_ADDRESS", score=0.95,
         pat=re.compile(r"\b(?:\d{1,3}\.){3}\d{1,3}\b"),
         validator=_valid_ip),
    dict(type="US_SSN", score=0.85,
         pat=re.compile(r"\b\d{3}-\d{2}-\d{4}\b")),
    dict(type="PHONE_NUMBER", score=0.75,
         pat=re.compile(r"(?:\+?\d{1,2}[-.\s]?)?\(?\d{3}\)?[-.\s]\d{3}[-.\s]\d{4}\b")),
    dict(type="CREDIT_CARD", score=1.0,
         pat=re.compile(r"\b(?:\d{4}[- ]?){3}\d{4}\b"),
         validator=luhn_valid),
    dict(type="DATE_TIME", score=0.6,
         pat=re.compile(r"\b\d{4}-\d{2}-\d{2}\b")),
    dict(type="IBAN_CODE", score=1.0,
         pat=re.compile(r"\b[A-Z]{2}[0-9]{2}[A-Z0-9]{11,30}\b"),
         validator=_iban_valid),
    dict(type="US_ITIN", score=0.85,
         pat=re.compile(r"\b9\d{2}-(?:5\d|6[0-5]|7\d|8[0-8]|9[0-2]|"
                        r"9[4-9])-\d{4}\b")),
    dict(type="CRYPTO", score=1.0,
         pat=re.compile(r"\b[13][a-km-zA-HJ-NP-Z1-9]{25,34}\b"),
         validator=_btc_valid),
    dict(type="UK_NHS", score=1.0,
         pat=re.compile(r"\b\d{3}[- ]\d{3}[- ]\d{4}\b"),
         validator=_nhs_valid),
    dict(type="MEDICAL_LICENSE", score=1.0,
         pat=re.compile(r"\b[A-Za-z]{2}\d{7}\b"),
         validator=_dea_valid),
    dict(type="US_PASSPORT", score=0.05,
         pat=re.compile(r"\b[0-9]{9}\b"),
         context=("passport",)),
    dict(type="US_DRIVER_LICENSE", score=0.30,
         # Presidio's "Driver License - Alphanumeric (weak)" union
         # (uppercase prefix + digits), case-sensitive
         pat=re.compile(r"\b(?:[A-Z][0-9]{3,6}|[A-Z][0-9]{5,9}|"
                        r"[A-Z]{2}[0-9]{2,5}|[A-Z]{2}[0-9]{5,9})\b"),
         context=("driver", "license", "permit", "lic#", "dl#")),
    dict(type="US_BANK_NUMBER", score=0.05,
         pat=re.compile(r"\b[0-9]{8,17}\b"),
         context=("bank", "account", "routing", "checking", "saving")),
    # Country recognizers the en-language default registry also loads
    # (AU/SG/IN ship supported_language="en"); checksum-validated -> 1.0
    dict(type="AU_ABN", score=1.0,
         pat=re.compile(r"\b\d{2}\s?\d{3}\s?\d{3}\s?\d{3}\b"),
         validator=_au_abn_valid),
    dict(type="AU_ACN", score=1.0,
         pat=re.compile(r"\b\d{3}\s?\d{3}\s?\d{3}\b"),
         validator=_au_acn_valid),
    dict(type="AU_TFN", score=1.0,
         pat=re.compile(r"\b\d{3}\s?\d{3}\s?\d{3}\b"),
         validator=_au_tfn_valid),
    dict(type="AU_MEDICARE", score=1.0,
         pat=re.compile(r"\b[2-6]\d{3}\s?\d{5}\s?\d\b"),
         validator=_au_medicare_valid),
    dict(type="SG_NRIC_FIN", score=1.0,
         pat=re.compile(r"\b[STFGstfg]\d{7}[A-Za-z]\b"),
         validator=_sg_nric_valid),
    dict(type="IN_PAN", score=0.85,
         # 4th char is the holder-type letter (InPanRecognizer's
         # high-confidence pattern), case-insensitive like Presidio's
         pat=re.compile(r"\b[A-Za-z]{3}[AaBbCcFfGgHhJjLlPpTt][A-Za-z]"
                        r"\d{4}[A-Za-z]\b")),
    dict(type="IN_AADHAAR", score=1.0,
         pat=re.compile(r"\b[2-9]\d{3}\s?\d{4}\s?\d{4}\b"),
         validator=_aadhaar_valid),
]

_PRESIDIO_CONTEXT_WINDOW = 40   # chars each side (lemma-window stand-in)
_PRESIDIO_CONTEXT_BOOST = 0.35  # Presidio context-enhancer default


# flat per-rule tuples: the per-document loop below runs per rule per
# doc, so the dict .get() lookups (4 per rule per doc) are hoisted to
# load time.  Same rules, same order.
_PRESIDIO_T = [(r["pat"], r.get("prefilter"), r.get("validator"),
                r.get("context"), r["type"], r["score"],
                _anchor_of(r["pat"]))
               for r in _PRESIDIO_RULES]


def detect_presidio(text: str, index: _AnchorIndex) -> list[dict]:
    out = []
    tl = text.lower()
    for pat, pf, validator, ctx_terms, rtype, rscore, anchor in _PRESIDIO_T:
        if ENABLE_PREFILTERS and pf and not any(l in tl for l in pf):
            continue  # necessary literal absent -> the regex cannot hit
        for m in index.matches(pat, anchor):
            s, e = m.span()
            surface = text[s:e]
            if validator is not None and not validator(surface):
                continue
            score = rscore
            if ctx_terms:
                nearby = tl[max(0, s - _PRESIDIO_CONTEXT_WINDOW):
                            min(len(text), e + _PRESIDIO_CONTEXT_WINDOW)]
                if any(t in nearby for t in ctx_terms):
                    score = min(1.0, score + _PRESIDIO_CONTEXT_BOOST)
            out.append({
                "entity_group": rtype,
                "start": s, "end": e,
                "score": score,
                "detector": "presidio_internal",
            })
    return out


# ---------------------------------------------------------------------------
# D3: contextual org detector (server/detection_engine.py:494-545)
# ---------------------------------------------------------------------------

def detect_contextual(text: str) -> list[dict]:
    out = []
    window = C.ENGINE_CONFIG["context_window"]
    text_lower = text.lower() if ENABLE_PREFILTERS else ""
    for pat, _name, etype in _AMBIGUOUS_COMPANY_RES:
        # substring prefilter: the company-name regex is \b<literal>\b
        # (IGNORECASE), so a miss on the lowercase substring is a miss
        # on the regex -- skips 9 regex scans on the common no-hit path
        if ENABLE_PREFILTERS and _name.lower() not in text_lower:
            continue
        for m in pat.finditer(text):
            start, end = m.span()
            ctx = text[max(0, start - window):min(len(text), end + window)].lower()
            if any(ind.search(ctx) for ind in _ORG_INDICATOR_RES):
                out.append({
                    "entity_group": etype,
                    "start": start, "end": end,
                    "score": 0.88,
                    "detector": "context_entity_detector",
                })
    return out


# ---------------------------------------------------------------------------
# D4/D5: fallback + title name detectors
# (server/detection_engine.py:547-608)
# ---------------------------------------------------------------------------

def detect_fallback_names(text: str, existing: list[dict]) -> list[dict]:
    if any(e.get("entity_group", "").upper() == "PERSON" for e in existing):
        return []
    out = []
    for m in _FALLBACK_NAME_RE.finditer(text):
        name = m.group(1)
        if name.lower() in C.FALLBACK_NON_NAMES:
            continue
        if name.lower() in C.COMMON_NAME_WORDS_LOWER_COMPARE:
            continue
        pre = text[max(0, m.start(1) - 20):m.start(1)].strip()
        if pre == "" or pre.endswith((".", "!", "?", "\n", "\r")):
            if name in C.SENTENCE_START_DEMONSTRATIVES:
                continue
        out.append({
            "entity_group": "PERSON",
            "start": m.start(1), "end": m.end(1),
            "score": 0.65, "word": name,
            "detector": "fallback_name_detector",
        })
    for m in _TITLE_NAME_RE.finditer(text):
        name = m.group(1)
        if name.lower() not in C.COMMON_NAME_WORDS_LOWER_COMPARE:
            out.append({
                "entity_group": "PERSON",
                "start": m.start(1), "end": m.end(1),
                "score": 0.92,
                "detector": "title_name_detector",
            })
    return out


# ---------------------------------------------------------------------------
# D6/D7: NER model stages.
#
# The reference serves HF token-classification pipelines over MCP
# (server/models/general_ner.py:41-125, medical_ner.py).  transformers is
# not installed here, so the default engine is a deterministic gazetteer
# NER with the same output contract (entity_group/start/end/score/word).
# A real model can be plugged in via `set_ner_batch_backend` -- the Spark
# stage loads it once per executor python worker (mirrors
# server/model_manager.py's per-process lazy singleton).
# ---------------------------------------------------------------------------

_PERSON_FIRST = (
    "John|Jane|Alice|Robert|Michael|Sarah|David|Emily|James|Maria|Rushil|"
    "Wei|Ahmed|Olga|Priya|Carlos|Anna|Peter|Linda|Tom"
)
_PERSON_LAST = (
    "Smith|Doe|Johnson|Brown|Davis|Miller|Wilson|Patel|Garcia|Kim|Chen|"
    "Kumar|Ivanova|Nguyen|Lopez|Muller|Rossi|Tanaka|Okafor|Haddad"
)
_GAZ_PERSON_RE = re.compile(rf"\b(?:{_PERSON_FIRST}) (?:{_PERSON_LAST})\b")
_GAZ_ORG_RE = re.compile(
    r"\b[A-Z][A-Za-z0-9&\-]*(?: [A-Z][A-Za-z0-9&\-]*)? "
    r"(?:Inc|Corp|Corporation|LLC|Ltd|GmbH|Labs|Systems|Technologies)\b\.?"
)
_GAZ_LOC = (
    "New York|London|Paris|Berlin|Tokyo|Mumbai|Seattle|Austin|Toronto|"
    "Sydney|Dublin|Zurich|Singapore|California|Texas|Nairobi|Boston"
)
_GAZ_LOC_RE = re.compile(rf"\b(?:{_GAZ_LOC})\b")


def _gazetteer_ner(text: str) -> list[dict]:
    """Deterministic stand-in for the conll03 BERT stage (D6)."""
    out = []
    for pat, label, score in ((_GAZ_PERSON_RE, "PER", 0.99),
                              (_GAZ_ORG_RE, "ORG", 0.93),
                              (_GAZ_LOC_RE, "LOC", 0.97)):
        for m in pat.finditer(text):
            s, e = m.span()
            out.append({
                "entity_group": label,
                "start": s, "end": e,
                "score": score,
                "word": text[s:e],
            })
    return out


_NER_BATCH_BACKEND = None  # optional: Callable[[list[str]], list[list[dict]]]


def set_ner_batch_backend(fn) -> None:
    """Register a BATCHED general-NER backend (one call per Arrow batch
    of texts -- the shape transformer inference wants: the HF pipeline
    amortizes tokenization + forward passes across the whole list).
    Both Spark detection stages run `detect_batch`, which calls
    `general_raw_batch` once per pandas batch and threads the per-text
    results through detect_document, so model inference is
    batch-vectorized while the regex/post-processing kernel stays
    per-document.  A lone detect_document call reaches the backend as a
    batch of one."""
    global _NER_BATCH_BACKEND
    _NER_BATCH_BACKEND = fn


def general_raw_batch(texts: list[str]) -> Optional[list[list[dict]]]:
    """Batched general-NER results (validated spans) for a list of
    texts, or None when no batch backend is registered (the per-doc
    path then runs inside detect_document as usual)."""
    if _NER_BATCH_BACKEND is None:
        return None
    return [_validate_general(t, raw)
            for t, raw in zip(texts, _NER_BATCH_BACKEND(texts))]


def try_load_hf_backend(model_name: str =
                        "dbmdz/bert-large-cased-finetuned-conll03-english"
                        ) -> bool:
    """Wire a HuggingFace token-classification pipeline as the NER backend
    when `transformers` is installed (the reference's D6 model,
    server/models/general_ner.py:41-60 / a2a_ner_general agent).

    Executor pattern: call this inside the mapInPandas iterator prologue --
    the pipeline loads once per python worker and is reused across batches
    (mirrors server/model_manager.py's lazy per-process singleton).
    Returns False (and leaves the deterministic gazetteer active) when
    transformers is unavailable -- this sandbox has no transformers, so
    only the gate is exercised here."""
    try:
        from transformers import pipeline  # noqa: gated optional dep
    except ImportError:
        return False
    nlp = pipeline("ner", model=model_name, aggregation_strategy="simple",
                   device=-1)

    def batch_backend(texts: list[str]) -> list[list[dict]]:
        # HF pipelines accept a list: tokenization + forward passes are
        # batched across the whole Arrow batch (the north-star shape)
        return [_conv_hf(items) for items in nlp(list(texts), batch_size=32)]

    set_ner_batch_backend(batch_backend)
    return True


def _conv_hf(items) -> list[dict]:
    """HF pipeline output -> the kernel's span-dict shape (shared by all
    three model loaders)."""
    return [{
        "entity_group": str(it.get("entity_group", "UNKNOWN")),
        "start": int(it.get("start", 0)),
        "end": int(it.get("end", 0)),
        "score": float(it.get("score", 0.0)),
        "word": it.get("word", ""),
    } for it in items]


def _validate_general(text: str, raw: list[dict]) -> list[dict]:
    out = []
    for e in raw:
        s, en = int(e.get("start", 0)), int(e.get("end", 0))
        if not (0 <= s < en <= len(text)):  # span validation, general_ner.py:96-99
            continue
        out.append({**e, "start": s, "end": en,
                    "score": float(e.get("score", 0.0))})
    return out


def _run_general_model(text: str) -> list[dict]:
    if _NER_BATCH_BACKEND is None:
        return _validate_general(text, _gazetteer_ner(text))
    return general_raw_batch([text])[0]


_MEDICAL_TERM_RE = re.compile(
    r"\b(?:Dr\.\s+[A-Z][a-z]+|[A-Z][a-z]+ (?:Hospital|Clinic|Medical Center))\b"
)

# i2b2-style label remap (server/models/medical_ner.py:189-237): applied
# to whatever the medical backend emits, so a real deid RoBERTa plugs in
# with correct downstream types.
MEDICAL_LABEL_MAP: dict[str, str] = {
    "PATIENT": "PERSON", "NAME": "PERSON", "PERSON": "PERSON",
    "ID": "MEDICAL_RECORD_NUMBER", "MEDICALRECORD": "MEDICAL_RECORD_NUMBER",
    "MRN": "MEDICAL_RECORD_NUMBER", "PATIENTID": "MEDICAL_RECORD_NUMBER",
    "DOCTOR": "PERSON", "PHYSICIAN": "PERSON", "NURSE": "PERSON",
    "PROVIDER": "PERSON",
    "HOSPITAL": "ORGANIZATION", "CLINIC": "ORGANIZATION",
    "ORGANIZATION": "ORGANIZATION", "ORG": "ORGANIZATION",
    "LOCATION": "LOCATION", "LOC": "LOCATION", "CITY": "LOCATION",
    "STATE": "LOCATION",
    "DATE": "DATE_TIME", "TIME": "DATE_TIME", "AGE": "AGE",
    "PHONE": "PHONE_NUMBER", "EMAIL": "EMAIL_ADDRESS",
    "CONDITION": "MEDICAL_CONDITION", "DIAGNOSIS": "MEDICAL_CONDITION",
    "MEDICATION": "MEDICATION", "TREATMENT": "TREATMENT",
    "MISC": "MISCELLANEOUS", "MISCELLANEOUS": "MISCELLANEOUS",
}

_MEDICAL_BACKEND = None  # optional plug-in (i2b2 token classifier)


def set_medical_backend(fn) -> None:
    global _MEDICAL_BACKEND
    _MEDICAL_BACKEND = fn


def try_load_medical_hf_backend(model_name: str = "obi/deid_roberta_i2b2"
                                ) -> bool:
    """Wire the reference's D7 medical model as the medical backend when
    `transformers` is installed (server/models/medical_ner.py:53-73:
    pipeline('ner', aggregation_strategy='simple', device=-1) over the
    i2b2 deid RoBERTa).  Raw labels flow through MEDICAL_LABEL_MAP and
    the context boost in _run_medical_model, exactly as gazetteer spans
    do.  Same per-worker lazy-load pattern as try_load_hf_backend."""
    try:
        from transformers import pipeline  # noqa: gated optional dep
    except ImportError:
        return False
    nlp = pipeline("ner", model=model_name, aggregation_strategy="simple",
                   device=-1)
    set_medical_backend(lambda text: _conv_hf(nlp(text)))
    return True


def map_medical_label(original: str) -> str:
    return MEDICAL_LABEL_MAP.get(original.upper().strip(),
                                 original or "MISCELLANEOUS")


def _medical_gazetteer(text: str) -> list[dict]:
    """Deterministic stand-in for the i2b2 RoBERTa stage (D7)."""
    out = []
    for m in _MEDICAL_TERM_RE.finditer(text):
        s, e = m.span()
        surface = text[s:e]
        label = "DOCTOR" if surface.startswith("Dr.") else "HOSPITAL"
        out.append({"entity_group": label, "start": s, "end": e,
                    "score": 0.9, "word": surface})
    return out


def _run_medical_model(text: str) -> list[dict]:
    """D7: backend labels remapped via MEDICAL_LABEL_MAP
    (medical_ner.py:189-237); x1.1 score boost when the +/-50-char
    context has medical keywords (:156-158,:260-288)."""
    raw = (_MEDICAL_BACKEND or _medical_gazetteer)(text)
    out = []
    for e in raw:
        s, en = int(e.get("start", 0)), int(e.get("end", 0))
        if not (0 <= s < en <= len(text)):
            continue
        score = float(e.get("score", 0.0))
        ctx = text[max(0, s - 50):min(len(text), en + 50)].lower()
        if any(w in ctx for w in C.MEDICAL_DOMAIN_KEYWORDS):
            score = min(1.0, score * 1.1)
        out.append({**e, "start": s, "end": en, "score": score,
                    "entity_group": map_medical_label(
                        e.get("entity_group", ""))})
    return out


# ---------------------------------------------------------------------------
# D9 pattern sub-bank (server/models/pii_specialized_ner.py:198-398)
# ---------------------------------------------------------------------------

_PII_MODEL_BACKEND = None  # optional plug-in: the D9 model half


def set_pii_model_backend(fn) -> None:
    """Register a dedicated model for the PII-specialized stage's model
    half.  The reference runs its OWN pipeline instance here
    (pii_specialized_ner.py:97-103, same default weights as general);
    when unset, _run_pii_specialized reuses the general model's spans --
    identical results for identical weights, one forward pass saved."""
    global _PII_MODEL_BACKEND
    _PII_MODEL_BACKEND = fn


def try_load_pii_hf_backend(model_name: str =
                            "dbmdz/bert-large-cased-finetuned-conll03-english"
                            ) -> bool:
    """Wire the reference's D9 model as the PII-specialized backend when
    `transformers` is installed (pii_specialized_ner.py:89-113).  Same
    pipeline args and per-worker lazy-load pattern as
    try_load_hf_backend."""
    try:
        from transformers import pipeline  # noqa: gated optional dep
    except ImportError:
        return False
    nlp = pipeline("ner", model=model_name, aggregation_strategy="simple",
                   device=-1)
    set_pii_model_backend(lambda text: _conv_hf(nlp(text)))
    return True


def _pii_pattern_confidence(name: str, surface: str, text: str,
                            start: int, base: float) -> float:
    conf = base
    ctx = text[max(0, start - 30):min(len(text), start + len(surface) + 30)].lower()
    if name == "ssn" and any(w in ctx for w in ("social", "security", "ssn")):
        conf += 0.05
    elif name == "credit_card" and any(w in ctx for w in ("card", "credit", "payment")):
        conf += 0.05
    elif name == "phone" and any(w in ctx for w in ("phone", "call", "contact", "mobile")):
        conf += 0.05
    elif name == "email" and any(w in ctx for w in ("email", "contact", "send", "@")):
        conf += 0.05
    if name == "date" and any(w in ctx for w in ("version", "build", "release")):
        conf -= 0.15
    elif name == "phone" and any(w in ctx for w in ("port", "extension", "ext")):
        conf -= 0.10
    return min(1.0, max(0.1, conf))


_PII_T = [(p["compiled"], p.get("prefilter"), p["name"], p["type"],
           p["conf"], p["name"] not in ("age", "zip_code"),
           _anchor_of(p["compiled"]))
          for p in _COMPILED_PII]


def detect_pii_patterns(text: str, index: _AnchorIndex) -> list[dict]:
    out = []
    text_lower = text.lower()
    prefilters_on = ENABLE_PREFILTERS
    for compiled, pf, name, ptype, conf, len_gated, anchor in _PII_T:
        if prefilters_on and pf is not None:
            for lit in pf:
                if lit in text_lower:
                    break
            else:
                continue
        for m in index.matches(compiled, anchor):
            s, e = m.span()
            surface = m.group()
            if m.groups() and m.group(1):
                # narrow to the capture group (pii_specialized_ner.py:211-219)
                s, e = m.start(1), m.end(1)
                surface = m.group(1)
            if len_gated and len(surface) < 3:
                continue
            out.append({
                "entity_group": ptype,
                "start": s, "end": e,
                "score": _pii_pattern_confidence(name, surface, text,
                                                 s, conf),
                "word": surface,
                "detector": "pii_pattern_detector",
                "pattern_type": name,
            })
    return out


def _is_pii_context(text: str, start: int, end: int) -> bool:
    ctx = text[max(0, start - 40):min(len(text), end + 40)].lower()
    return any(ind in ctx for ind in C.PII_CONTEXT_INDICATORS)


def remove_overlaps_by_score(entities: list[dict]) -> list[dict]:
    """P10 per-model overlap removal: any positional overlap resolved by max
    score, replace-in-place (pii_specialized_ner.py:373-398).

    The reference rescans every kept entry per entity (O(m^2)).  Entities
    arrive by start, and every kept entry started at or before the current
    one, so a non-empty entity overlaps a kept entry exactly when that
    entry ends after its start.  An entry ending at or before the current
    start is never hit again, so a pointer past those finds the first
    overlapping kept entry in amortised O(1)."""
    kept: list[dict] = []
    live = 0  # kept[:live] all end at or before the current start
    for ent in sorted(entities, key=lambda x: x["start"]):
        start, end = ent["start"], ent["end"]
        while live < len(kept) and kept[live]["end"] <= start:
            live += 1
        if end > start:
            hit = live if live < len(kept) else None
        else:  # an empty span: the reference's test, entry by entry
            hit = next((i for i in range(live, len(kept))
                        if start < kept[i]["end"] and end > kept[i]["start"]),
                       None)
        if hit is None:
            kept.append(ent)
        elif ent["score"] > kept[hit]["score"]:
            kept[hit] = ent
    return sorted(kept, key=lambda x: x["start"])


def _run_pii_specialized(text: str, index: _AnchorIndex,
                         general_raw: list[dict]) -> list[dict]:
    """D9: model pass (mapped via _map_pii_entity_type) + pattern bank,
    then per-model overlap removal.  A dedicated PII model backend
    (set_pii_model_backend) takes precedence over the shared general
    spans, mirroring the reference's separate pipeline instance."""
    if _PII_MODEL_BACKEND is not None:
        model_spans = _validate_general(text, _PII_MODEL_BACKEND(text))
    else:
        model_spans = general_raw
    results = []
    for e in model_spans:
        label = e["entity_group"].upper().strip()
        mapped = {"PERSON": "PERSON", "PER": "PERSON",
                  "ORGANIZATION": "ORGANIZATION", "ORG": "ORGANIZATION",
                  "LOCATION": "LOCATION", "LOC": "LOCATION",
                  "MISCELLANEOUS": "PII_IDENTIFIER", "MISC": "PII_IDENTIFIER",
                  }.get(label, e["entity_group"] or "PII_IDENTIFIER")
        ent = {**e, "entity_group": mapped,
               "detector": "pii_specialized_ner_model",
               "original_label": e["entity_group"]}
        if _is_pii_context(text, ent["start"], ent["end"]):
            ent["score"] = min(1.0, ent["score"] * 1.1)
        results.append(ent)
    results.extend(detect_pii_patterns(text, index))
    return remove_overlaps_by_score(results)


# ---------------------------------------------------------------------------
# Model-stage orchestration: thresholds (P1) + generic-label filter (P2)
# (server/detection_engine.py:366-431)
# ---------------------------------------------------------------------------

def _model_entities(text: str, model_name: str,
                    general_raw: Optional[list[dict]] = None,
                    index: Optional[_AnchorIndex] = None) -> list[dict]:
    if model_name == "general":
        raw = [{**e, "detector": None} for e in general_raw]
    elif model_name == "medical":
        raw = [{**e, "detector": None} for e in _run_medical_model(text)]
    elif model_name == "pii_specialized":
        raw = _run_pii_specialized(text, index, general_raw)
    elif model_name in ("technical", "legal", "financial"):
        from redactify_spark.detect import specialists
        raw = {"technical": specialists.detect_technical,
               "legal": specialists.detect_legal,
               "financial": specialists.detect_financial}[model_name](text)
    else:
        raw = []
    floor = C.MODEL_THRESHOLDS.get(model_name, C.MODEL_THRESHOLD_DEFAULT)
    out = []
    for e in raw:
        if e.get("score", 0) < floor:
            continue
        etype = e.get("entity_group", "").upper()
        if model_name in ("legal", "financial") and etype in C.GENERIC_LABELS:
            continue
        out.append({**e, "detector": f"mcp_{model_name}"})
    return out


# ---------------------------------------------------------------------------
# P3-P7 post-processing (server/detection_engine.py:647-832)
# ---------------------------------------------------------------------------

def _is_false_positive(surface: str, etype: str) -> bool:
    surface = surface.strip().lower()
    etype = etype.upper()
    if surface in C.COMMON_FALSE_POSITIVES:
        return True
    if etype in ("ORGANIZATION", "ORG") and surface in C.ORG_FALSE_POSITIVES:
        return True
    if etype in ("PERSON", "PER") and surface in C.PERSON_FALSE_POSITIVES:
        return True
    if etype in ("LOCATION", "LOC", "GPE") and surface in C.LOCATION_FALSE_POSITIVES:
        return True
    if len(surface) <= 2 and surface.isalpha():
        return True
    if surface in C.COMMON_DOCUMENT_WORDS:
        return True
    return False


def _is_better_entity_type(t1: str, t2: str) -> bool:
    s1, s2 = t1.upper() in C.SPECIFIC_TYPES, t2.upper() in C.SPECIFIC_TYPES
    return s1 and not s2


def post_process(entities: list[dict], text: str) -> list[dict]:
    if not entities:
        return []
    threshold = C.ENGINE_CONFIG["entity_confidence_threshold"]
    filtered = []
    for e in entities:
        if e.get("score", 0) < threshold:
            continue
        s, en = e.get("start", 0), e.get("end", 0)
        surface = text[s:en] if s < len(text) and en <= len(text) else ""
        if _is_false_positive(surface, e.get("entity_group", "").upper()):
            continue
        if en - s < 2:
            continue
        if len(surface.strip()) <= 1:
            continue
        filtered.append({**e, "entity_text": surface})
    filtered.sort(key=lambda x: x.get("start", 0))

    # P6: one mention per (lower(surface), TYPE); highest score wins, first
    # inserted breaks ties (dict order + stable sort, as in the reference)
    groups: dict[tuple, list[dict]] = {}
    for e in filtered:
        key = (e.get("entity_text", "").lower(),
               e.get("entity_group", "").upper())
        groups.setdefault(key, []).append(e)
    unique = []
    for group in groups.values():
        group.sort(key=lambda x: x.get("score", 0), reverse=True)
        unique.append(group[0])
    unique.sort(key=lambda x: x.get("start", 0))

    # P7: greedy left-to-right overlap resolution
    merged: list[dict] = []
    for ent in unique:
        if not merged:
            merged.append(ent)
            continue
        last = merged[-1]
        if ent["start"] < last["end"] and ent["end"] > last["start"]:
            if (ent.get("score", 0) > last.get("score", 0)
                    or _is_better_entity_type(ent.get("entity_group", ""),
                                              last.get("entity_group", ""))):
                merged[-1] = ent
        else:
            merged.append(ent)
    return merged


# ---------------------------------------------------------------------------
# Server-side normalization + options projection
# (server/server.py:160-189)
# ---------------------------------------------------------------------------

def normalize_server(entities: list[dict]) -> list[dict]:
    out = []
    for e in entities:
        etype = e.get("entity_group", "").upper()
        if etype in ("PER", "PERSON"):
            e = {**e, "entity_group": "PERSON"}
        elif etype in ("ORG", "ORGANIZATION"):
            e = {**e, "entity_group": "ORGANIZATION"}
        elif etype in ("LOC", "LOCATION"):
            e = {**e, "entity_group": "LOCATION"}
        elif etype == "MISC":
            continue
        out.append(e)
    return out


def apply_options(entities: list[dict],
                  options: Optional[dict[str, bool]]) -> list[dict]:
    if not options:
        return entities
    return [e for e in entities
            if options.get(e.get("entity_group", "").upper(), True)]


# ---------------------------------------------------------------------------
# Full per-document detection (the /detect semantics)
# ---------------------------------------------------------------------------

def detect_document(text: str,
                    options: Optional[dict[str, bool]] = None,
                    domains: Optional[list[str]] = None,
                    general_raw: Optional[list[dict]] = None,
                    normalized: bool = True) -> list[dict]:
    """Reproduce `_detect_entities_single` + server normalization for one
    document.  Detector order pinned (see module docstring).

    `general_raw`: pre-computed (validated) general-NER spans for this
    text, supplied by `detect_batch` when a BATCHED backend is
    registered (set_ner_batch_backend) -- model inference then runs once
    per Arrow batch instead of once per document.

    `normalized=False` stops after P6/P7 (`post_process`), i.e. BEFORE
    server-side label normalization (P8) and options projection --
    mirroring the engine/server split in the reference, where P6 dedup
    (detection_engine.py:691-719) keys on PRE-normalization labels and
    server.py:160-178 maps PER->PERSON afterwards.  At that stage the
    (lower(surface), type) key is unique by construction; AFTER
    normalization, sibling labels (PER vs PERSON, ORG vs ORGANIZATION,
    LOC vs LOCATION) may merge into duplicate keys -- a reference quirk
    pinned by tests/test_kernel_properties.py."""
    if not text:
        return []
    if domains is None:
        domains = classify_domains(text)
    if general_raw is None:
        # the general NER pass feeds BOTH the "general" stage and the
        # pii_specialized stage; run it once per document instead of
        # once per consumer (identical spans either way)
        general_raw = _run_general_model(text)
    index = _AnchorIndex(text)
    all_entities: list[dict] = []
    all_entities.extend(detect_presidio(text, index))
    all_entities.extend(detect_regex(text, index))
    if C.ENGINE_CONFIG["enable_context_detection"]:
        all_entities.extend(detect_contextual(text))
    all_entities.extend(_model_entities(text, "general", general_raw))
    if "medical" in domains and C.ENGINE_CONFIG["enable_medical_pii"]:
        all_entities.extend(_model_entities(text, "medical"))
    # D10-D12: disabled by default like the reference's live config
    # (server/server.py:83-86); enabled via flags + explicit domains
    if "technical" in domains and C.ENGINE_CONFIG["enable_technical_ner"]:
        all_entities.extend(_model_entities(text, "technical"))
    if "legal" in domains and C.ENGINE_CONFIG["enable_legal_ner"]:
        all_entities.extend(_model_entities(text, "legal"))
    if "financial" in domains and C.ENGINE_CONFIG["enable_financial_ner"]:
        all_entities.extend(_model_entities(text, "financial"))
    if C.ENGINE_CONFIG["enable_pii_specialized"]:
        all_entities.extend(_model_entities(text, "pii_specialized",
                                            general_raw, index))
    if C.ENGINE_CONFIG["enable_fallback_name_detector"]:
        all_entities.extend(detect_fallback_names(text, all_entities))
    processed = post_process(all_entities, text)
    if not normalized:
        return processed
    processed = normalize_server(processed)
    return apply_options(processed, options)


def detect_batch(texts: Iterable[str]) -> list[list[dict]]:
    """Batch variant, the per-batch driver of both Spark detection
    stages; a per-text failure degrades to an empty mention list with a
    logged warning (mirrors server/detection_engine.py:202-207).  Uses
    the batched NER backend for the whole list when one is registered."""
    texts = [t or "" for t in texts]
    batch_raw = general_raw_batch(texts)
    out = []
    for i, t in enumerate(texts):
        try:
            out.append(detect_document(
                t, general_raw=batch_raw[i] if batch_raw else None))
        except Exception as exc:
            _log.warning("detect_batch: document %d of the batch degraded "
                         "to no mentions: %r", i, exc)
            out.append([])
    return out
