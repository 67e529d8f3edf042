"""The single Arrow-batched Python pass of the pipeline.

Everything that genuinely needs Python (model inference + the byte-identical
PII scrub, which must use Python ``re`` semantics — SURVEY.md §7.4 item 1)
runs in ONE pandas UDF so each row crosses the JVM↔Python boundary once.
Models are module-level: loaded once per executor python worker, not per
batch (the iterator form's usual benefit, achieved via import caching).

The same pass is the ONLY implementation of the token/line-derived
signals: it calls ``textstats.signal_stats`` (the oracle's own definition)
on one shared tokenization per document, so those signals ride a boundary
crossing the model pass pays anyway.  ``with_model_columns`` turns the
struct into ``sig_*`` columns with JVM-side threshold comparisons; the
whole-string signals come from ``heuristics.signal_columns``.

Outputs one struct column:
  lang_pred / lang_prob  — n-gram langid (fastText slot)
  perplexity             — char-trigram LM score (KenLM slot)
  scrub_diff / pii_hits  — PII-masked text (byte-identical to oracle; only
                           shipped when it differs) and pattern names found
  n_words .. rep_ratio   — the signal_stats metrics
The NUL fraction of the html head (HTML_BINARY_JUNK) is computed JVM-side
(``nul_fraction_expr``) so binary payloads never cross the Arrow pipe.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

from qualityspark import constants as C
from qualityspark import langmodel as L
from qualityspark import textstats as T
from qualityspark.oracle import scrub_and_hits

MODEL_STRUCT = ("struct<lang_pred:string, lang_prob:double, "
                "perplexity:double, rep_ratio:double, "
                "scrub_diff:string, pii_hits:array<string>, "
                "n_words:int, mean_word_len:double, alpha_ratio:double, "
                "symbol_ratio:double, bullet_ratio:double, "
                "ellipsis_ratio:double, stop_density:double, "
                "req_hits:int, tox_density:double, caps_ratio:double>")


def _model_pass_fn(text: pd.Series, lang: pd.Series) -> pd.DataFrame:
    n = len(text)
    texts = text.tolist()
    langs = lang.tolist()
    diffs = [None] * n
    hits_out = [[]] * n
    # EVERY token/line-derived signal metric lives in this pass (see
    # textstats.signal_stats): interpreted JVM regex alternation scans
    # measured ~8 s of the 300k-doc signal stage, while one shared
    # tokenization plus set lookups cost ~60 us/doc in the pass that
    # already holds the text.  Values are the textstats definitions
    # EXACTLY — the same module the oracle uses — so parity is structural.
    zeros = (0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0, 0.0, 0.0, 0.0)
    stats = [zeros] * n
    # ONE tokenization per doc feeds signal_stats AND the langid/ppl
    # normalization (" ".join(toks).lower() == the tokenize-after-lower
    # form — pinned by test_norm_from_shared_tokens)
    norms = [None] * n
    for i in range(n):
        t = texts[i]
        if t is not None:
            toks = T.tokenize(t)
            st = T.signal_stats(t, langs[i], toks)
            stats[i] = st
            norms[i] = " " + " ".join(toks).lower() + " "
            # st[8] (toxicity density) > 0 is the exact token-level
            # toxicity precheck for ASCII text — saves the 20-substring
            # scan on ~99% of docs (see scrub_and_hits)
            scrubbed, hits = scrub_and_hits(t, tox_hint=st[8] > 0)
            # ship the scrubbed text back over Arrow only when it differs
            # (~PII docs only); JVM side coalesces with the original
            if hits:
                diffs[i] = scrubbed
                hits_out[i] = hits
    # fused: langid AND perplexity from the shared normalization
    # (r7; see langmodel.langid_ppl_batch — identical arithmetic)
    preds, probs, ppls = L.langid_ppl_batch(texts, langs, norms)
    # inf not representable in Arrow->Spark double cleanly everywhere;
    # clamp to a sentinel far above MAX_PERPLEXITY
    ppls = [min(p, 1e12) for p in ppls]
    (n_words, mwl, alpha, symbol, bullet, ellipsis, stop_d, req_hits,
     tox_d, caps, reps) = zip(*stats) if stats else ((),) * 11
    return pd.DataFrame({"lang_pred": preds, "lang_prob": probs,
                         "perplexity": ppls, "rep_ratio": list(reps),
                         "scrub_diff": diffs, "pii_hits": hits_out,
                         "n_words": pd.Series(n_words, dtype="int32"),
                         "mean_word_len": list(mwl),
                         "alpha_ratio": list(alpha),
                         "symbol_ratio": list(symbol),
                         "bullet_ratio": list(bullet),
                         "ellipsis_ratio": list(ellipsis),
                         "stop_density": list(stop_d),
                         "req_hits": pd.Series(req_hits, dtype="int32"),
                         "tox_density": list(tox_d),
                         "caps_ratio": list(caps)})


_model_pass_udf = None


def model_pass():
    """pandas UDF, created lazily (DDL parsing needs an active session)."""
    global _model_pass_udf
    if _model_pass_udf is None:
        _model_pass_udf = pandas_udf(MODEL_STRUCT)(_model_pass_fn)
    return _model_pass_udf


TOKEN_COUNTS_STRUCT = "struct<wc:int, alpha:int, req:int, dtoks:int>"


def _token_counts_fn(text: pd.Series) -> pd.DataFrame:
    """Per-doc token counts for the SQL-decision queries: word count,
    letter-containing-token count, distinct required-'en'-stopword hits,
    distinct token count.  Each is the textstats definition (one shared
    tokenization), checked by the queries' DuckDB oracles — the JVM
    regexp forms the queries previously evaluated (interpreted
    alternation scans) measured ~2.9 s of the 3.7 s
    quality_filter_decisions query at 50k docs vs ~45 us/doc here."""
    from qualityspark import textstats as T
    req_set = T._REQ_SETS["en"]
    wcs, als, rqs, dts = [], [], [], []
    for t in text.tolist():
        toks = T.tokenize(t)
        n = len(toks)
        wcs.append(n)
        if n:
            als.append(len(T._ALPHA_TOK_RE.findall(t)))
            rqs.append(len(req_set.intersection(map(str.lower, toks))))
            dts.append(len(set(toks)))
        else:
            als.append(0)
            rqs.append(0)
            dts.append(0)
    return pd.DataFrame({"wc": pd.Series(wcs, dtype="int32"),
                         "alpha": pd.Series(als, dtype="int32"),
                         "req": pd.Series(rqs, dtype="int32"),
                         "dtoks": pd.Series(dts, dtype="int32")})


_token_counts_udf = None


def token_counts_pass():
    """pandas UDF for _token_counts_fn, created lazily."""
    global _token_counts_udf
    if _token_counts_udf is None:
        _token_counts_udf = pandas_udf(TOKEN_COUNTS_STRUCT)(_token_counts_fn)
    return _token_counts_udf


def nul_fraction_expr() -> F.Column:
    """NUL-byte fraction of the first 8 KiB of html, JVM-side: latin-1
    decode maps bytes 1:1 to chars, so counting chr(0) == counting byte 0
    (reference core/data_loader.py:82-89 analog) — avoids shipping binary
    payloads through the Arrow pipe."""
    head = F.expr(f"substring(html, 1, {C.HTML_SCAN_BYTES})")
    d = F.decode(head, "ISO-8859-1")
    nuls = F.length(d) - F.length(F.replace(d, F.lit("\x00"), F.lit("")))
    return F.when(F.length(d) > 0,
                  nuls.cast("double") / F.length(d)).otherwise(F.lit(0.0))


def with_model_columns(df: DataFrame, cfg=None,
                       signals_from_model: bool = True) -> DataFrame:
    """Adds the model struct fields, ``_n_words`` and every model-bound and
    token/line-derived rule signal; the caller has run
    ``heuristics.signal_columns`` (this reads its ``sig_TEXT_NULL_LIKE``).
    The raw metrics are the textstats definitions (see _model_pass_fn);
    threshold comparisons stay JVM-side against ``cfg``, which retunes
    every threshold here."""
    # signals_from_model accepts only True; kept for the frozen perfbench
    # ladder
    if signals_from_model is not True:
        raise ValueError("with_model_columns: signals_from_model must be True")
    from qualityspark.config import resolve
    cfg = resolve(cfg)
    df = df.withColumn("_m", model_pass()(F.col("text"), F.col("lang")))
    not_null = ~F.col("sig_TEXT_NULL_LIKE")
    n = F.col("_m.n_words")
    mwl = F.col("_m.mean_word_len")
    return df.withColumns({
        "lang_pred": F.col("_m.lang_pred"),
        "lang_prob": F.col("_m.lang_prob"),
        "perplexity": F.col("_m.perplexity"),
        "scrubbed_text": F.when(F.col("text").isNull(),
                                F.lit(None).cast("string"))
                          .otherwise(F.coalesce(F.col("_m.scrub_diff"),
                                                F.col("text"))),
        "pii_hits": F.col("_m.pii_hits"),
        "sig_HTML_BINARY_JUNK":
            nul_fraction_expr() > cfg.param("MAX_NUL_FRACTION"),
        "sig_LANG_MISMATCH":
            not_null
            & F.col("lang").isin(*C.ALLOWED_LANGS)
            & (F.col("_m.lang_pred") != "und")
            & (F.col("_m.lang_pred") != F.col("lang"))
            & (F.col("_m.lang_prob") >= cfg.param("MIN_LANG_PROB")),
        "sig_PERPLEXITY_HIGH":
            not_null
            & (F.col("_m.perplexity") > cfg.param("MAX_PERPLEXITY")),
        "sig_REPETITION_HIGH":
            not_null
            & (F.col("_m.rep_ratio") > cfg.param("MAX_REPETITION_3GRAM")),
        **{f"sig_PII_{name}": F.array_contains(F.col("_m.pii_hits"), name)
           for name, _rx, _sev in C.PII_PATTERNS},
        "_n_words": n,
        "sig_WORDS_TOO_FEW": not_null & (n < cfg.param("MIN_WORDS")),
        "sig_WORDS_TOO_MANY": not_null & (n > cfg.param("MAX_WORDS")),
        "sig_MEAN_WORD_LEN_OOB":
            not_null & ((mwl < cfg.param("MIN_MEAN_WORD_LEN"))
                        | (mwl > cfg.param("MAX_MEAN_WORD_LEN"))),
        "sig_SYMBOL_WORD_RATIO_HIGH":
            not_null & (F.col("_m.symbol_ratio")
                        > cfg.param("MAX_SYMBOL_WORD_RATIO")),
        "sig_BULLET_LINES_HIGH":
            not_null & (F.col("_m.bullet_ratio")
                        > cfg.param("MAX_BULLET_LINE_RATIO")),
        "sig_ELLIPSIS_LINES_HIGH":
            not_null & (F.col("_m.ellipsis_ratio")
                        > cfg.param("MAX_ELLIPSIS_LINE_RATIO")),
        "sig_ALPHA_RATIO_LOW":
            not_null & (F.col("_m.alpha_ratio")
                        < cfg.param("MIN_ALPHA_WORD_RATIO")),
        "sig_REQUIRED_STOPWORDS_MISSING":
            not_null & (F.col("_m.req_hits")
                        < cfg.param("MIN_REQUIRED_STOPWORDS")),
        "sig_STOPWORD_DENSITY_LOW":
            not_null & (F.col("_m.stop_density")
                        < cfg.param("MIN_STOPWORD_DENSITY")),
        "sig_TOXICITY_HIGH":
            not_null & (F.col("_m.tox_density")
                        > cfg.param("MAX_TOXICITY_DENSITY")),
        "sig_CAPS_RATIO_HIGH":
            not_null & (F.col("_m.caps_ratio")
                        > cfg.param("MAX_CAPS_RATIO")),
    }).drop("_m")
