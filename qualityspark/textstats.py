"""Pure-Python per-document signal functions.

These are the *definition* of every heuristic signal, shared by the
pure-Python oracle (``qualityspark.oracle``) and the pipeline:

* the token/line-derived signals reach the pipeline ONLY through
  ``signal_stats``, which the single Arrow pass calls per document
  (rules/udfs.py) — one implementation, so oracle parity is structural;
  ``tests/test_r7_fixes.py`` pins ``signal_stats`` equal to the individual
  functions below;
* the whole-string signals (null-like, control chars, whitespace,
  truncation, url) are re-expressed as JVM Column expressions in
  rules/heuristics.py; ``tests/test_parity.py`` asserts the pipeline equals
  the oracle for every synthetic document, so any Java-vs-Python semantic
  drift (regex dialect, split behaviour) is caught immediately.

Tokenization contract (must match Java regex semantics, where ``\\s`` is
ASCII-only): tokens are maximal runs of non-ASCII-whitespace characters;
ASCII whitespace = ``constants.ASCII_WS`` (space, \\t, \\n, \\r, \\f, \\x0b).
"""

from __future__ import annotations

import re

from qualityspark import constants as C

_WS = "[" + C.ASCII_WS + "]"
_WS_RE = re.compile(_WS + "+")
_LWS_RE = re.compile("^" + _WS + "+")
_RWS_RE = re.compile(_WS + "+$")
_ALPHA_RE = re.compile(r"[A-Za-z]")
_CONTROL_RE = re.compile(C.CONTROL_CHARS_RE)
_URL_FULL_RE = re.compile(C.URL_RE)


def strip_ws(text: str) -> str:
    """ASCII-whitespace strip (matches Java regex ``\\s`` semantics)."""
    return _RWS_RE.sub("", _LWS_RE.sub("", text))


def lstrip_ws(text: str) -> str:
    return _LWS_RE.sub("", text)


def rstrip_ws(text: str) -> str:
    return _RWS_RE.sub("", text)


# Splits on exactly the constants.ASCII_WS class: langmodel._norm and the
# Arrow pass in rules/udfs.py build the langid normalization from these
# tokens on that assumption (pinned by test_norm_from_shared_tokens).
def tokenize(text: str) -> list[str]:
    if text is None:
        return []
    return [t for t in _WS_RE.split(text) if t != ""]


def is_null_like(text: str | None) -> bool:
    if text is None:
        return True
    return strip_ws(text).lower() in C.NULL_LIKE


def word_count(text: str | None) -> int:
    return len(tokenize(text))


def mean_word_len(text: str | None) -> float:
    toks = tokenize(text)
    if not toks:
        return 0.0
    return sum(len(t) for t in toks) / len(toks)


def alpha_word_ratio(text: str | None) -> float:
    toks = tokenize(text)
    if not toks:
        return 0.0
    return sum(1 for t in toks if _ALPHA_RE.search(t)) / len(toks)


def symbol_word_ratio(text: str | None) -> float:
    """('#' count + ellipsis count) / word count (Gopher symbol-to-word)."""
    toks = tokenize(text)
    if not toks:
        return 0.0
    t = text or ""
    n_hash = t.count("#")
    n_ell = t.count("...") + t.count("…")
    return (n_hash + n_ell) / len(toks)


def lines(text: str | None) -> list[str]:
    if text is None or text == "":
        return []
    return text.split("\n")


def bullet_line_ratio(text: str | None) -> float:
    ls = lines(text)
    if not ls:
        return 0.0
    n = sum(1 for l in ls if lstrip_ws(l).startswith(("•", "-", "*")))
    return n / len(ls)


def ellipsis_line_ratio(text: str | None) -> float:
    ls = lines(text)
    if not ls:
        return 0.0
    n = sum(1 for l in ls if rstrip_ws(l).endswith(("...", "…")))
    return n / len(ls)


def stopword_density(text: str | None, lang: str | None) -> float:
    toks = [t.lower() for t in tokenize(text)]
    if not toks:
        return 0.0
    sw = set(C.STOPWORDS.get(lang or "en", C.STOPWORDS["en"]))
    return sum(1 for t in toks if t in sw) / len(toks)


def required_stopword_hits(text: str | None, lang: str | None) -> int:
    toks = {t.lower() for t in tokenize(text)}
    req = set(C.REQUIRED_STOPWORDS.get(lang or "en", C.REQUIRED_STOPWORDS["en"]))
    return len(toks & req)


def toxicity_density(text: str | None) -> float:
    """Toxic tokens / tokens (lowercased token membership in
    constants.TOXICITY_SET — same bounded-token semantics as
    stopword_density)."""
    toks = [t.lower() for t in tokenize(text)]
    if not toks:
        return 0.0
    return sum(1 for t in toks if t in C.TOXICITY_SET) / len(toks)


def repetition_3gram(text: str | None) -> float:
    """1 - distinct/total over word 3-grams; 0.0 when < 3 tokens."""
    toks = tokenize(text)
    if len(toks) < 3:
        return 0.0
    grams = [" ".join(toks[i:i + 3]) for i in range(len(toks) - 2)]
    return 1.0 - len(set(grams)) / len(grams)


def caps_ratio(text: str | None) -> float:
    if not text:
        return 0.0
    letters = _ALPHA_RE.findall(text)
    if not letters:
        return 0.0
    return sum(1 for ch in letters if ch.isupper()) / len(letters)


def has_control_chars(text: str | None) -> bool:
    if text is None:
        return False
    return bool(_CONTROL_RE.search(text))


def has_unstripped_whitespace(text: str | None) -> bool:
    if text is None:
        return False
    return text != strip_ws(text) and strip_ws(text) != ""


def has_truncation_signs(text: str | None) -> bool:
    if text is None:
        return False
    s = rstrip_ws(text)
    return s.endswith("...") or s.endswith("…")


def url_is_malformed(url: str | None) -> bool:
    if url is None or is_null_like(url):
        return False  # URL_NULL fires instead
    return _URL_FULL_RE.match(url) is None


def nul_fraction(html: bytes | None, scan: int = C.HTML_SCAN_BYTES) -> float:
    """NUL-byte fraction of first ``scan`` bytes
    (binary-file guard analog, reference core/data_loader.py:82-89)."""
    if not html:
        return 0.0
    head = html[:scan]
    return head.count(0) / len(head)


_SW_SETS = {lg: frozenset(ws) for lg, ws in C.STOPWORDS.items()}
_REQ_SETS = {lg: frozenset(ws) for lg, ws in C.REQUIRED_STOPWORDS.items()}
# exact C-speed equivalents used by signal_stats (values pinned equal to
# the reference forms above by tests/test_r7_fixes.py):
# - a maximal non-WS run contains a letter iff this pattern matches in it
#   exactly once: a match starts at the run's FIRST letter and greedily
#   consumes to the run's end (no WS in the tail class), so no second
#   match can start inside the same run and no match can start in a
#   letterless run.  Equal counts to the old bounded form
#   [^WS]*[A-Za-z][^WS]* without that pattern's quadratic prefix
#   backtracking on letterless prefixes.
_ALPHA_TOK_RE = re.compile("[A-Za-z][^" + C.ASCII_WS + "]*")
# - translate-with-deletion counts [A-Z] / [A-Za-z] codepoints in one
#   C pass: identical to len(_ALPHA_RE.findall(...)) / isupper() counting
#   because _ALPHA_RE is ASCII-only and ASCII uppercase == A-Z
_DEL_UPPER = {c: None for c in range(65, 91)}
_DEL_LETTERS = {**_DEL_UPPER, **{c: None for c in range(97, 123)}}
# ASCII fast path: bytes.translate deletion is a C table pass (~3x the
# dict-charmap str.translate); counts are identical because encoding is
# 1:1 and the deleted byte sets are the same A-Z / A-Za-z codepoints
_DEL_UPPER_B = bytes(range(65, 91))
_DEL_LETTERS_B = _DEL_UPPER_B + bytes(range(97, 123))
# - first non-WS char is a bullet iff lstrip_ws(l).startswith(bullets)
_BULLET_RE = re.compile("^" + _WS + r"*[•\-*]")
# - ends with .../… after trailing-WS strip iff this searches
_ELLIPSIS_RE = re.compile(r"(\.\.\.|…)" + _WS + "*$")


def signal_stats(text: str | None, lang: str | None,
                 toks: list[str] | None = None) -> tuple:
    """Every token/line-derived signal metric from ONE tokenization pass:
    (n_words, mean_word_len, alpha_word_ratio, symbol_word_ratio,
    bullet_line_ratio, ellipsis_line_ratio, stopword_density,
    required_stopword_hits, toxicity_density, caps_ratio,
    repetition_3gram).

    Value-identical to calling the individual functions above (pinned by
    tests): same divisions of the same integers, same set memberships,
    same regexes — the only difference is that ``tokenize``/``lower`` run
    once instead of once per metric.  This is the form the pipeline's
    Arrow pass calls per document (rules/udfs.py): interpreted Java regex
    alternations over the text measured ~8 s of the 300k-doc signal
    stage, while these set lookups cost ~60 us/doc in the pass that
    already holds the text.

    ``toks`` may pass in ``tokenize(text)`` precomputed (the Arrow pass
    shares one tokenization with the langid normalization)."""
    if toks is None:
        toks = tokenize(text)
    n = len(toks)
    t = text or ""
    if n:
        low = list(map(str.lower, toks))
        sw = _SW_SETS.get(lang or "en", _SW_SETS["en"])
        req = _REQ_SETS.get(lang or "en", _REQ_SETS["en"])
        mwl = sum(map(len, toks)) / n
        # len(findall) beats a finditer sum ~25% (no Match objects)
        alpha = len(_ALPHA_TOK_RE.findall(t)) / n
        symbol = (t.count("#") + t.count("...") + t.count("…")) / n
        stop_d = sum(map(sw.__contains__, low)) / n
        req_hits = len(req.intersection(low))
        tox_d = sum(map(C.TOXICITY_SET.__contains__, low)) / n
    else:
        mwl = alpha = symbol = stop_d = tox_d = 0.0
        req_hits = 0
    if n >= 3:
        grams = set(zip(toks, toks[1:], toks[2:]))
        rep = 1.0 - len(grams) / (n - 2)
    else:
        rep = 0.0
    ls = lines(text)
    if ls:
        bullet = sum(1 for l in ls if _BULLET_RE.match(l)) / len(ls)
        ellipsis = sum(1 for l in ls if _ELLIPSIS_RE.search(l)) / len(ls)
    else:
        bullet = ellipsis = 0.0
    if text:
        if t.isascii():
            b = t.encode("ascii")
            n_letters = len(b) - len(b.translate(None, _DEL_LETTERS_B))
            n_upper = len(b) - len(b.translate(None, _DEL_UPPER_B))
        else:
            n_letters = len(t) - len(t.translate(_DEL_LETTERS))
            n_upper = len(t) - len(t.translate(_DEL_UPPER))
        caps = n_upper / n_letters if n_letters else 0.0
    else:
        caps = 0.0
    return (n, mwl, alpha, symbol, bullet, ellipsis, stop_d, req_hits,
            tox_d, caps, rep)

