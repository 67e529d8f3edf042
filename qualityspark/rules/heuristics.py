"""Whole-string document signals, and the JVM token helpers.

Each signal mirrors one pure-Python definition in ``qualityspark.textstats``
(the oracle); ``tests/test_parity.py`` asserts the pipeline equals the
oracle over the synthetic corpus.  ``signal_columns`` builds them as SQL
text, one statement whose regex literals are quoted by ``scoring.sql_str``:
the same plan as the Column form it replaced, without a py4j round trip
per expression node.  The expressions stay inside
Tungsten whole-stage codegen — no Python in this module's runtime path.

The token/line-derived signals (word counts and ratios, stopwords,
toxicity, caps, repetition) have ONE implementation,
``textstats.signal_stats``, evaluated in the Arrow model pass
(rules/udfs.py).  The Column helpers kept here (``is_null_like``,
``strip_ws``, ``tokens_expr``, ``word_ngrams``) serve the dedup key, the
registry queries and neardup.

Everything is null-safe: signals are typed booleans/doubles, never throw
(the reference wraps each check in try/except —
reference core/check_engine.py:145-169; expressions can't throw per-row).
"""

from __future__ import annotations

import re as _re

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from qualityspark import constants as C
from qualityspark.scoring import sql_over, sql_str

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
# over the document string (an anchored rlike), which is
# codegen'd, allocation-free, and fails fast.  Exact-parity with the
# pure-python oracle (textstats.py) is held by tests/test_parity.py.
# -------------------------------------------------------------------------

# whole-string null-like test: ^WS* (any NULL_LIKE literal)? WS*\z
# (the optional group covers "" and whitespace-only, which strip to "").
# re.escape output is Java-regex-safe for these plain-text literals.
# (?iu) = case-insensitive with Unicode case, matching str.lower() on the
# accented Spanish entries.  Anchored: long documents fail at offset 0.
_NULL_LIKE_RE = ("^" + WS_CLASS + "*(?iu:"
                 + "|".join(_re.escape(w)
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


def null_like_sql(col: str) -> str:
    """``is_null_like`` as SQL text over the column named ``col``, for
    the SQL-text builders."""
    return f"(({col} IS NULL) OR ({col} RLIKE {sql_str(_NULL_LIKE_RE)}))"


def signal_columns(df: DataFrame, as_of: str = C.AS_OF_TS,
                   model_signals: bool = True) -> DataFrame:
    """One projection adding every whole-string rule signal as
    ``sig_<RULE>``: null-like, url, control chars, timestamps, whitespace,
    truncation and lang-allowed.

    The token/line-derived signals and every model-bound signal
    (LANG_MISMATCH, PERPLEXITY_HIGH, HTML_BINARY_JUNK, PII_*) are added by
    the Arrow pass (rules/udfs.with_model_columns), which also supplies
    ``_n_words``.

    The projection is ONE SQL statement (``scoring.sql_over``): as Column
    trees its ten signals cost a py4j call per ``F.col``, literal and
    operator.  The text is parenthesised as the Column operators nested,
    so the optimized plan is the one the Column form built.

    None of these signals takes a tunable threshold, so no RunConfig is
    needed: disabled rules are a SCORING decision (config.RunConfig.
    doc_rules), which lets one audited table be re-scored under several
    configs without recompute."""
    # model_signals accepts only True; kept for the frozen perfbench ladder
    if model_signals is not True:
        raise ValueError("signal_columns: model_signals must be True")
    text_null = null_like_sql("text")
    not_null = f"(NOT {text_null})"
    langs = ", ".join(sql_str(lang) for lang in C.ALLOWED_LANGS)
    ws_edge = sql_str("^" + WS_CLASS + "|" + WS_CLASS + r"\z")
    ellipsis_end = sql_str(r"(\.\.\.|…)" + WS_CLASS + r"*\z")
    sig = {
        "TEXT_NULL_LIKE": text_null,
        "URL_NULL": null_like_sql("url"),
        "URL_MALFORMED": f"((NOT {null_like_sql('url')}) AND coalesce("
                         f"(NOT (url RLIKE {sql_str(C.URL_RE)})), true))",
        "ENCODING_ANOMALY":
            f"coalesce((text RLIKE {sql_str(C.CONTROL_CHARS_RE)}), false)",
        "TS_FUTURE": f"coalesce((warc_ts > CAST({sql_str(as_of)} "
                     f"AS TIMESTAMP)), false)",
        "TS_ANCIENT": f"coalesce((warc_ts < CAST({sql_str(C.ANCIENT_TS)} "
                      f"AS TIMESTAMP)), false)",
        "TS_NULL": "(warc_ts IS NULL)",
        "WHITESPACE_UNSTRIPPED":
            f"({not_null} AND coalesce(((text RLIKE {ws_edge}) AND "
            f"(text RLIKE {sql_str(NON_WS_CLASS)})), false))",
        "TRUNCATION_SIGNS":
            f"({not_null} AND coalesce((text RLIKE {ellipsis_end}), false))",
        "LANG_NOT_ALLOWED":
            f"({not_null} AND (NOT coalesce((lang IN ({langs})), false)))",
    }
    cols = ", ".join(f"{e} AS sig_{rule}" for rule, e in sig.items())
    return sql_over(f"SELECT *, {cols} FROM {{df}}", df=df)
