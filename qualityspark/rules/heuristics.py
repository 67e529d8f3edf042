"""Whole-string document signals as native Spark Column expressions.

Each function mirrors one pure-Python definition in
``qualityspark.textstats`` (the oracle); ``tests/test_parity.py`` asserts
the pipeline equals the oracle over the synthetic corpus.  These
expressions stay inside Tungsten whole-stage codegen — no Python in this
module's runtime path.

The token/line-derived signals (word counts and ratios, stopwords,
toxicity, caps, repetition) have ONE implementation,
``textstats.signal_stats``, evaluated in the Arrow model pass
(rules/udfs.py).  The token helpers kept here (``tokens_expr``,
``word_ngrams``, ``repetition_3gram``) serve the registry queries, neardup
and the Python-free ``streaming.stream_metrics``.

Everything is null-safe: signals are typed booleans/doubles, never throw
(the reference wraps each check in try/except —
reference core/check_engine.py:145-169; expressions can't throw per-row).
"""

from __future__ import annotations

import re as _re

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from qualityspark import constants as C

WS_CLASS = "[" + C.ASCII_WS + "]"
NON_WS_CLASS = "[^" + C.ASCII_WS + "]"


def _empty():
    # F.lit requires an active session; keep it lazy
    return F.lit("")


# -------------------------------------------------------------------------
# Hot-path expression design (profiled on 300k docs, 4/16 cores):
# higher-order functions (filter/transform/aggregate/zip_with) are NEVER
# whole-stage-codegen'd — each lambda call is an interpreted eval with a
# per-element allocation, and per-token `rlike` inside a lambda builds a
# Matcher per token.  Thread dumps showed ~35% of executor CPU in exactly
# those frames.  Every signal below is therefore expressed as ONE pass
# over the document string (regexp_count / rlike with anchors), which is
# codegen'd, allocation-free, and fails fast.  Exact-parity with the
# pure-python oracle (textstats.py) is held by tests/test_parity.py.
# -------------------------------------------------------------------------

def _java_escape(w: str) -> str:
    """Literal -> Java-regex-safe (re.escape output is Java-compatible for
    the plain-text tokens used here)."""
    return _re.escape(w)


# whole-string null-like test: ^WS* (any NULL_LIKE literal)? WS*\z
# (the optional group covers "" and whitespace-only, which strip to "").
# (?iu) = case-insensitive with Unicode case, matching str.lower() on the
# accented Spanish entries.  Anchored: long documents fail at offset 0.
_NULL_LIKE_RE = ("^" + WS_CLASS + "*(?iu:"
                 + "|".join(_java_escape(w)
                            for w in sorted(C.NULL_LIKE) if w)
                 + ")?" + WS_CLASS + r"*\z")


def strip_ws(col: Column) -> Column:
    return F.regexp_replace(
        F.regexp_replace(col, "^" + WS_CLASS + "+", ""),
        WS_CLASS + r"+$", "")


def is_null_like(col: Column) -> Column:
    """NULL_RATE mask (reference checks/universal_checks.py:24-32).

    Single anchored rlike == lower(strip(col)) in NULL_LIKE: the two
    regexp_replace passes + lower the old form paid per reference are
    replaced by a match that rejects a normal document at its first
    non-whitespace character."""
    return col.isNull() | col.rlike(_NULL_LIKE_RE)


def tokens_expr(text: Column) -> Column:
    """ASCII-whitespace tokens, empties dropped (== textstats.tokenize)."""
    return F.filter(F.split(F.coalesce(text, _empty()), WS_CLASS + "+"),
                    lambda t: t != _empty())


def word_ngrams(toks: Column, k: int) -> Column:
    """Word k-grams via slice + zip_with.

    Deliberately avoids element_at-in-transform: each element_at call
    re-evaluates the whole array subtree (no CSE inside interpreted HOFs),
    turning an O(n) gram build into O(n^2) regex tokenizations.  The slice
    form evaluates the token array a constant number of times.  Also
    ANSI-safe: a k-element dummy replaces short arrays so no index is ever
    out of bounds (codegen may evaluate both CASE branches).

    Returns an empty array when size(toks) < k."""
    safe = F.when(F.size(toks) >= k, toks).otherwise(
        F.array(*[_empty() for _ in range(k)]))
    g = F.size(safe) - (k - 1)
    parts = [F.slice(safe, j + 1, g) for j in range(k)]
    grams = parts[0]
    for p in parts[1:]:
        grams = F.zip_with(grams, p,
                           lambda a, b: F.concat(a, F.lit(" "), b))
    return F.when(F.size(toks) >= k, grams) \
            .otherwise(F.array().cast("array<string>"))


def _word_ngram_hashes(toks: Column, k: int) -> Column:
    """word_ngrams variant producing chained xxhash64 fingerprints instead
    of joined strings: distinct-count equal up to a 2^-64-per-pair hash
    collision (~90 grams/doc -> <1e-15 per document; the oracle computes
    the exact string distinct and tests/test_streaming.py pins equality
    over the corpus).  Benchmarked on 300k docs at 4 cores: string-concat
    grams 10.6 s, array<struct> grams 16.2 s (array_distinct over structs
    is a QUADRATIC pairwise scan — only atomic element types get the open
    hash set), chained-hash grams 9.0 s."""
    safe = F.when(F.size(toks) >= k, toks).otherwise(
        F.array(*[_empty() for _ in range(k)]))
    g = F.size(safe) - (k - 1)
    parts = [F.slice(safe, j + 1, g) for j in range(k)]
    grams = F.zip_with(parts[0], parts[1], lambda a, b: F.xxhash64(a, b))
    for p in parts[2:]:
        grams = F.zip_with(grams, p, lambda h, z: F.xxhash64(h, z))
    return grams


def repetition_3gram(toks: Column, n: Column) -> Column:
    grams = _word_ngram_hashes(toks, 3)
    ratio = F.lit(1.0) - (F.size(F.array_distinct(grams)).cast("double")
                          / F.size(grams))
    return F.when(n >= 3, ratio).otherwise(F.lit(0.0))


def has_control_chars(text: Column) -> Column:
    """ENCODING_ANOMALY (reference checks/categorical_checks.py:84-112)."""
    return F.coalesce(text.rlike(C.CONTROL_CHARS_RE), F.lit(False))


def has_unstripped_whitespace(text: Column) -> Column:
    """WHITESPACE_ISSUES (reference checks/universal_checks.py:87-105).
    (text != strip(text)) & (strip(text) != '') without materializing the
    stripped copy: leading-or-trailing-WS  AND  any non-WS char."""
    return F.coalesce(
        text.rlike("^" + WS_CLASS + "|" + WS_CLASS + r"\z")
        & text.rlike(NON_WS_CLASS), F.lit(False))


def has_truncation_signs(text: Column) -> Column:
    """TRUNCATION_SIGNS (reference checks/text_checks.py:171-207)."""
    return F.coalesce(text.rlike(r"(\.\.\.|…)" + WS_CLASS + r"*\z"),
                      F.lit(False))


def url_is_malformed(url: Column) -> Column:
    return (~is_null_like(url)) & F.coalesce(~url.rlike(C.URL_RE),
                                             F.lit(True))


def signal_columns(df: DataFrame, as_of: str = C.AS_OF_TS,
                   model_signals: bool = True) -> DataFrame:
    """One projection adding every whole-string rule signal as
    ``sig_<RULE>``: null-like, url, control chars, timestamps, whitespace,
    truncation and lang-allowed.

    The token/line-derived signals and every model-bound signal
    (LANG_MISMATCH, PERPLEXITY_HIGH, HTML_BINARY_JUNK, PII_*) are added by
    the Arrow pass (rules/udfs.with_model_columns), which also supplies
    ``_n_words``.

    None of these signals takes a tunable threshold, so no RunConfig is
    needed: disabled rules are a SCORING decision (config.RunConfig.
    doc_rules), which lets one audited table be re-scored under several
    configs without recompute."""
    # model_signals accepts only True; kept for the frozen perfbench ladder
    if model_signals is not True:
        raise ValueError("signal_columns: model_signals must be True")
    text, url, ts, lang = (F.col("text"), F.col("url"), F.col("warc_ts"),
                           F.col("lang"))
    text_null = is_null_like(text)
    not_null = ~text_null
    as_of_ts = F.lit(as_of).cast("timestamp")
    ancient = F.lit(C.ANCIENT_TS).cast("timestamp")

    sig = {
        "TEXT_NULL_LIKE": text_null,
        "URL_NULL": is_null_like(url),
        "URL_MALFORMED": url_is_malformed(url),
        "ENCODING_ANOMALY": has_control_chars(text),
        "TS_FUTURE": F.coalesce(ts > as_of_ts, F.lit(False)),
        "TS_ANCIENT": F.coalesce(ts < ancient, F.lit(False)),
        "TS_NULL": ts.isNull(),
        "WHITESPACE_UNSTRIPPED": not_null & has_unstripped_whitespace(text),
        "TRUNCATION_SIGNS": not_null & has_truncation_signs(text),
        "LANG_NOT_ALLOWED":
            not_null & (~F.coalesce(lang.isin(*C.ALLOWED_LANGS),
                                    F.lit(False))),
    }
    return df.withColumns({f"sig_{rule}": expr for rule, expr in sig.items()})
