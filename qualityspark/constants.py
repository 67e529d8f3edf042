"""Shared constants: the single source of truth for every threshold, regex,
severity and deduction used by BOTH the Spark pipeline and the pure-Python
oracle (``qualityspark.oracle``).  Keeping them in one module is what makes
the keep/drop F1 and byte-identical-scrub guarantees testable.

Semantics are derived from the reference repo (cited per block):
  - NULL_LIKE set            -> reference checks/universal_checks.py:7-11
  - null-rate severity ladder-> reference checks/universal_checks.py:13
  - duplicate ladder         -> reference checks/universal_checks.py:14
  - PII patterns/severities  -> reference checks/pii_checks.py:14-55
  - scoring deductions/grades-> reference core/scoring_system.py:7-22
  - keep/drop mapping        -> reference data_quality_auditor.py:308-314
Web-text heuristic thresholds (doc length, symbol ratio, stopword rules,
repetition) follow the published Gopher/C4 filtering rules (public papers).
"""

from __future__ import annotations

import re

# ASCII whitespace, the ONE token-boundary class of every signal: Java regex
# ``\s`` is ASCII-only, so this spelling (a regex character-class body)
# means the same set under Python ``re``, Java regex and DuckDB's RE2.  The
# tokenizer, strips and the SQL oracles all derive their classes from it.
ASCII_WS = r" \t\n\r\f\x0b"

# ---------------------------------------------------------------------------
# Null-like tokens (reference checks/universal_checks.py:7-11)
# ---------------------------------------------------------------------------
NULL_LIKE = frozenset({
    "", "null", "none", "nan", "na", "n/a", "n.a.", "-", "--", "---",
    "missing", "unknown", "undefined", "?", "nil", "#n/a", "not available",
    "not applicable", "sin dato", "sin información", "desconocido",
})

# Severity ladders (reference checks/universal_checks.py:13-14)
THRESHOLDS_NULL = {"CRITICAL": 0.50, "HIGH": 0.20, "MEDIUM": 0.05, "LOW": 0.01}
THRESHOLDS_DUPLICATE = {"CRITICAL": 0.10, "HIGH": 0.05, "MEDIUM": 0.01}

SEVERITIES = ("CRITICAL", "HIGH", "MEDIUM", "LOW", "INFO", "PASS")

# ---------------------------------------------------------------------------
# Scoring (reference core/scoring_system.py:7-22) and keep/drop mapping
# (reference data_quality_auditor.py:308-314: CRITICAL -> exit 2 == drop)
# ---------------------------------------------------------------------------
SEVERITY_DEDUCTIONS = {
    "CRITICAL": 25,
    "HIGH": 10,
    "MEDIUM": 5,
    "LOW": 2,
    "INFO": 0,
    "PASS": 0,
}

GRADE_SCALE = [(90, "A"), (75, "B"), (60, "C"), (40, "D"), (0, "F")]

# A document is kept iff no CRITICAL rule fired AND score >= KEEP_SCORE_CUTOFF.
KEEP_SCORE_CUTOFF = 60.0  # grade C floor

# Deterministic "now" for timestamp sanity rules (DATE_FUTURE analog).  A real
# deployment passes run time; tests/bench need reproducibility.
AS_OF_TS = "2026-08-16 00:00:00"
ANCIENT_TS = "1900-01-01 00:00:00"

# ---------------------------------------------------------------------------
# PII patterns (reference checks/pii_checks.py:14-55).  ``pattern`` strings are
# written to compile identically under Python ``re`` and Java regex
# (spark regexp_replace) -- no inline flags, no lookbehind.  Order matters for
# the scrub chain: longer/stricter money-shaped patterns first so e.g. a
# credit-card number is not half-eaten by the phone pattern.
# ---------------------------------------------------------------------------
PII_PATTERNS = [
    # (pii_type, regex, severity)
    ("CREDIT_CARD", r"\b(?:4\d{3}|5[1-5]\d{2}|3[47]\d{2}|6(?:011|5\d{2}))[- ]?\d{4}[- ]?\d{4}[- ]?\d{1,4}\b", "CRITICAL"),
    ("SSN_US", r"\b\d{3}-\d{2}-\d{4}\b", "CRITICAL"),
    ("CURP_MX", r"\b[A-Za-z]{4}\d{6}[HMhm][A-Za-z]{5}[A-Za-z0-9]\d\b", "CRITICAL"),
    ("RFC_MX", r"\b[A-ZÑ&]{3,4}\d{6}[A-Z0-9]{3}\b", "HIGH"),
    ("EMAIL", r"\b[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}\b", "HIGH"),
    ("PHONE_INTL", r"\b\+?\d{1,3}[-.\s]?\(?\d{2,4}\)?[-.\s]?\d{3,4}[-.\s]?\d{3,4}\b", "MEDIUM"),
    ("IP_ADDRESS", r"\b(?:25[0-5]|2[0-4]\d|[01]?\d{1,2})(?:\.(?:25[0-5]|2[0-4]\d|[01]?\d{1,2})){3}\b", "MEDIUM"),
    ("IBAN", r"\b[A-Z]{2}\d{2}[A-Z0-9]{4,30}\b", "HIGH"),
]

PII_MASK_FMT = "<PII:{}>"

# ---------------------------------------------------------------------------
# Toxicity scrub + rule (north_rule: "regex-based PII/toxicity scrubbing").
# Representative public profanity list (every public badword list — e.g. the
# one C4 filters with — contains these); matched as whole whitespace-
# delimited tokens of the lowercased text, like the stopword rules.  The
# scrub MASKS matches with same-length asterisk runs (offsets preserved);
# the rule fires on density, so quoted incidental profanity in long text
# does not drop the document (reference philosophy: PII scrubs, it doesn't
# drop — toxicity above density does drop, C4/Gopher-style).
# ---------------------------------------------------------------------------
TOXICITY_WORDS = (
    "arsehole", "asshole", "bastard", "bitch", "bullshit", "cunt",
    "dickhead", "dumbass", "fuck", "fucked", "fucker", "fucking",
    "motherfucker", "piss", "pissed", "shit", "shitty", "slut",
    "wanker", "whore",
)
# oracle.scrub_and_hits trusts the token-level tox_hint as exact only
# because every entry is plain lowercase ASCII letters (sre IGNORECASE on
# ASCII == str.lower equality)
assert all(w.isascii() and w.isalpha() and w.islower()
           for w in TOXICITY_WORDS), "TOXICITY_WORDS must be lowercase ASCII"
TOXICITY_SET = frozenset(TOXICITY_WORDS)
MAX_TOXICITY_DENSITY = 0.02       # toxic tokens / tokens
_TOX_WS = "[" + ASCII_WS + "]"
# python-re mask pattern over the RAW text (case-insensitive): token-
# delimited so it masks exactly the tokens the density rule counts
TOXICITY_MASK_RE = re.compile(
    "(?:(?<=" + _TOX_WS + ")|^)(?:" + "|".join(TOXICITY_WORDS)
    + ")(?=" + _TOX_WS + r"|\Z)", re.IGNORECASE)

# Pre-compiled Python versions (oracle + pandas-UDF scrub path).
PII_COMPILED = [(name, re.compile(rx), sev) for name, rx, sev in PII_PATTERNS]

# Column-level PII reporting threshold (reference checks/pii_checks.py:58).
PII_MIN_MATCH_PCT = 0.05

# ---------------------------------------------------------------------------
# Encoding anomaly (reference checks/categorical_checks.py:89-90)
# ---------------------------------------------------------------------------
CONTROL_CHARS_RE = r"[\x00-\x08\x0b\x0c\x0e-\x1f\x7f-\x9f�]"

# ---------------------------------------------------------------------------
# Web-text quality heuristics (Gopher/C4-style, public thresholds)
# ---------------------------------------------------------------------------
MIN_WORDS = 50
MAX_WORDS = 100_000
MIN_MEAN_WORD_LEN = 3.0
MAX_MEAN_WORD_LEN = 10.0
MAX_SYMBOL_WORD_RATIO = 0.10      # '#' and ellipsis occurrences per word
MAX_BULLET_LINE_RATIO = 0.90
MAX_ELLIPSIS_LINE_RATIO = 0.30
MIN_ALPHA_WORD_RATIO = 0.80       # words containing >=1 [A-Za-z]
MIN_REQUIRED_STOPWORDS = 2        # distinct required stopwords present
MAX_REPETITION_3GRAM = 0.50       # 1 - distinct/total word-3-grams
MAX_CAPS_RATIO = 0.30             # uppercase letters / letters
MIN_STOPWORD_DENSITY = 0.02       # stopword tokens / tokens
MAX_PERPLEXITY = 5000.0           # char-trigram LM; gibberish cut
MIN_LANG_PROB = 0.30              # langid confidence floor for LANG_MISMATCH
MAX_NUL_FRACTION = 0.10           # NUL bytes in first 8 KiB of html
                                  # (reference core/data_loader.py:82-89)
HTML_SCAN_BYTES = 8192

ALLOWED_LANGS = ("en", "es", "fr", "de", "pt", "it")

# Gopher-style required stopwords per language (tiny public function-word
# lists; used for the "contains >=2 required stopwords" rule).
REQUIRED_STOPWORDS = {
    "en": ("the", "be", "to", "of", "and", "that", "have", "with"),
    "es": ("el", "la", "de", "que", "y", "en", "un", "con"),
    "fr": ("le", "la", "de", "et", "que", "les", "des", "un"),
    "de": ("der", "die", "und", "das", "von", "mit", "ein", "zu"),
    "pt": ("o", "a", "de", "que", "e", "do", "da", "em"),
    "it": ("il", "la", "di", "che", "e", "un", "per", "con"),
}

# Broader stopword lists for density + heuristic langid scoring.
STOPWORDS = {
    "en": ("the", "be", "to", "of", "and", "a", "in", "that", "have", "it",
           "for", "not", "on", "with", "he", "as", "you", "do", "at", "this",
           "but", "his", "by", "from", "they", "we", "say", "her", "she",
           "or", "an", "will", "my", "one", "all", "would", "there", "is",
           "was", "are"),
    "es": ("el", "la", "de", "que", "y", "a", "en", "un", "ser", "se", "no",
           "haber", "por", "con", "su", "para", "como", "estar", "tener",
           "le", "lo", "todo", "pero", "más", "hacer", "o", "poder",
           "decir", "este", "ir", "otro", "ese", "si", "me", "ya", "ver",
           "porque", "dar", "cuando", "los"),
    "fr": ("le", "de", "un", "être", "et", "à", "il", "avoir",
           "ne", "je", "son", "que", "se", "qui", "ce", "dans", "en", "du",
           "elle", "au", "pour", "pas", "vous", "par", "sur", "faire",
           "plus", "dire", "me", "on", "mon", "lui", "nous", "comme",
           "mais", "avec", "tout", "y", "aller", "les"),
    "de": ("der", "die", "und", "in", "den", "von", "zu", "das", "mit",
           "sich", "des", "auf", "für", "ist", "im", "dem", "nicht",
           "ein", "eine", "als", "auch", "es", "an", "werden", "aus", "er",
           "hat", "dass", "sie", "nach", "wird", "bei", "einer", "um", "am",
           "sind", "noch", "wie", "einem", "über"),
    "pt": ("o", "a", "de", "que", "e", "do", "da", "em", "um", "para",
           "com", "não", "uma", "os", "no", "se", "na", "por", "mais",
           "as", "dos", "como", "mas", "ao", "ele", "das", "seu", "sua",
           "ou", "quando", "muito", "nos", "já", "eu", "também",
           "só", "pelo", "pela", "até", "isso"),
    "it": ("il", "di", "che", "e", "la", "per", "un", "in", "una", "mi",
           "sono", "ho", "ma", "lo", "ha", "le", "si", "ti", "i", "con",
           "cosa", "se", "io", "come", "da", "no", "ci", "questo", "bene",
           "qui", "tu", "del", "hai", "al", "me", "fatto", "su", "era",
           "gli", "anche"),
}

# URL shape rule (reference core/schema_validator.py:182-199 analog).
URL_RE = r"^https?://[A-Za-z0-9.-]+(?::\d+)?(?:/[^\s]*)?$"

# ---------------------------------------------------------------------------
# Declarative per-document rule table: (rule_id, severity).
# The expression/oracle implementations are keyed by rule_id in
# rules/heuristics.py and oracle.py; this table drives scoring and lineage
# (mirrors the reference's check registry, core/check_registry.py:15-40).
# ---------------------------------------------------------------------------
DOC_RULES = [
    ("TEXT_NULL_LIKE", "CRITICAL"),        # NULL_RATE / ID_NULL analog
    ("URL_NULL", "CRITICAL"),
    ("URL_MALFORMED", "HIGH"),
    ("TEXT_EXACT_DUPLICATE", "CRITICAL"),  # DUPLICATE_ROWS analog (keep-first)
    ("URL_DUPLICATE", "HIGH"),             # ID_DUPLICATES analog (keep-first)
    ("ENCODING_ANOMALY", "HIGH"),
    ("HTML_BINARY_JUNK", "MEDIUM"),
    ("TS_FUTURE", "HIGH"),                 # DATE_FUTURE analog
    ("TS_ANCIENT", "HIGH"),                # DATE_ANCIENT analog
    ("TS_NULL", "MEDIUM"),
    ("WORDS_TOO_FEW", "HIGH"),             # LENGTH_OUTLIERS analog (Gopher)
    ("WORDS_TOO_MANY", "MEDIUM"),
    ("MEAN_WORD_LEN_OOB", "MEDIUM"),
    ("SYMBOL_WORD_RATIO_HIGH", "MEDIUM"),
    ("BULLET_LINES_HIGH", "MEDIUM"),
    ("ELLIPSIS_LINES_HIGH", "MEDIUM"),
    ("ALPHA_RATIO_LOW", "HIGH"),
    ("REQUIRED_STOPWORDS_MISSING", "HIGH"),
    ("STOPWORD_DENSITY_LOW", "MEDIUM"),
    ("REPETITION_HIGH", "HIGH"),
    ("CAPS_RATIO_HIGH", "LOW"),
    ("WHITESPACE_UNSTRIPPED", "LOW"),      # WHITESPACE_ISSUES analog
    ("TRUNCATION_SIGNS", "LOW"),           # TRUNCATION_SIGNS analog
    ("LANG_NOT_ALLOWED", "MEDIUM"),        # SCHEMA_ALLOWED_VALUES analog
    ("LANG_MISMATCH", "MEDIUM"),           # langid vs declared
    ("PERPLEXITY_HIGH", "MEDIUM"),
    ("TOXICITY_HIGH", "HIGH"),             # badword token density (C4-style)
    # PII rules are INFO: they scrub, they don't drop (reference reports,
    # never deletes rows: checks/pii_checks.py:61-112).
    ("PII_CREDIT_CARD", "INFO"),
    ("PII_SSN_US", "INFO"),
    ("PII_CURP_MX", "INFO"),
    ("PII_RFC_MX", "INFO"),
    ("PII_EMAIL", "INFO"),
    ("PII_PHONE_INTL", "INFO"),
    ("PII_IP_ADDRESS", "INFO"),
    ("PII_IBAN", "INFO"),
]

RULE_SEVERITY = dict(DOC_RULES)
RULE_IDS = [r for r, _ in DOC_RULES]


def grade_from_score(score: float) -> str:
    """Grade ladder (reference core/scoring_system.py:16-29)."""
    for threshold, grade in GRADE_SCALE:
        if score >= threshold:
            return grade
    return "F"


def severity_from_thresholds(value: float, thresholds: dict) -> str:
    """First threshold <= value wins (reference checks/universal_checks.py:17-21)."""
    for sev in ("CRITICAL", "HIGH", "MEDIUM", "LOW"):
        if sev in thresholds and value >= thresholds[sev]:
            return sev
    return "PASS"


def mask_value(value: str) -> str:
    """Mask PII sample (reference checks/pii_checks.py:115-120)."""
    if len(value) <= 4:
        return "****"
    show = max(2, len(value) // 4)
    return value[:show] + "*" * (len(value) - show * 2) + value[-show:]
