"""Tiny deterministic language models, trained at import time from embedded
seed corpora (original sentences written for this repo; no external data).

Two artifacts, both pure Python dicts so they broadcast cheaply to executors
and are importable by the oracle:

* ``LANGID_MODEL``  — per-language char-trigram counts; a fastText-style
  linear scorer over hashed n-grams is overkill at this vocabulary size, so
  we score log-likelihood per language directly and normalize.  This is the
  public "n-gram langid" approach (Cavnar & Trenkle 1994 family).
* ``PPL_MODEL``     — per-language char-trigram counts for add-one-smoothed
  perplexity (KenLM-style n-gram scoring, reduced to order 3 / char level so
  it is dependency-free and deterministic).

Real deployments swap these for fastText ``lid.176.bin`` and a KenLM binary
inside the same pandas-UDF slots (rules/langid.py, rules/perplexity.py); the
UDF plumbing is identical.
"""

from __future__ import annotations

import math

from qualityspark import textstats as T

SEED_CORPORA = {
    "en": (
        "The river rises in the eastern hills and flows past the old mill "
        "before it reaches the sea. Most of the villagers have worked with "
        "the water in one way or another, and they say that the bridge was "
        "built long before anyone can remember. In the spring the meadows "
        "are full of flowers, and children walk to school along the bank. "
        "The library keeps a record of every flood, and the oldest entry "
        "describes a winter when the ice broke the wooden piers. People "
        "still gather at the square to talk about the weather, the harvest, "
        "and the slow business of living well in a small place."
    ),
    "es": (
        "El río nace en las colinas del este y pasa junto al viejo molino "
        "antes de llegar al mar. La mayoría de los vecinos ha trabajado con "
        "el agua de una forma u otra, y dicen que el puente fue construido "
        "mucho antes de lo que nadie puede recordar. En primavera los "
        "prados se llenan de flores y los niños caminan a la escuela por la "
        "orilla. La biblioteca guarda un registro de cada inundación, y la "
        "entrada más antigua describe un invierno en que el hielo rompió "
        "los pilares de madera. La gente todavía se reúne en la plaza para "
        "hablar del tiempo y de la cosecha."
    ),
    "fr": (
        "La rivière prend sa source dans les collines de l'est et passe "
        "devant le vieux moulin avant d'atteindre la mer. La plupart des "
        "habitants ont travaillé avec l'eau d'une manière ou d'une autre, "
        "et l'on dit que le pont fut construit bien avant que quiconque "
        "puisse s'en souvenir. Au printemps, les prés se couvrent de fleurs "
        "et les enfants vont à l'école le long de la rive. La bibliothèque "
        "garde une trace de chaque crue, et la plus ancienne entrée décrit "
        "un hiver où la glace brisa les piliers de bois. Les gens se "
        "réunissent encore sur la place pour parler du temps."
    ),
    "de": (
        "Der Fluss entspringt in den Hügeln im Osten und fließt an der "
        "alten Mühle vorbei, bevor er das Meer erreicht. Die meisten "
        "Dorfbewohner haben auf die eine oder andere Weise mit dem Wasser "
        "gearbeitet, und man sagt, die Brücke sei gebaut worden, lange "
        "bevor sich jemand erinnern kann. Im Frühling sind die Wiesen "
        "voller Blumen, und die Kinder gehen am Ufer entlang zur Schule. "
        "Die Bibliothek führt ein Verzeichnis jeder Flut, und der älteste "
        "Eintrag beschreibt einen Winter, in dem das Eis die hölzernen "
        "Pfeiler brach. Die Leute treffen sich noch immer auf dem Platz."
    ),
    "pt": (
        "O rio nasce nas colinas do leste e passa pelo velho moinho antes "
        "de chegar ao mar. A maioria dos moradores já trabalhou com a água "
        "de uma forma ou de outra, e dizem que a ponte foi construída muito "
        "antes do que alguém possa lembrar. Na primavera os campos se "
        "enchem de flores e as crianças caminham para a escola pela "
        "margem. A biblioteca guarda um registro de cada enchente, e o "
        "registro mais antigo descreve um inverno em que o gelo quebrou os "
        "pilares de madeira. As pessoas ainda se reúnem na praça para "
        "falar do tempo e da colheita."
    ),
    "it": (
        "Il fiume nasce tra le colline a est e scorre accanto al vecchio "
        "mulino prima di raggiungere il mare. La maggior parte degli "
        "abitanti ha lavorato con l'acqua in un modo o nell'altro, e si "
        "dice che il ponte sia stato costruito molto prima di quanto "
        "chiunque possa ricordare. In primavera i prati si riempiono di "
        "fiori e i bambini camminano verso la scuola lungo la riva. La "
        "biblioteca conserva un registro di ogni piena, e la voce più "
        "antica descrive un inverno in cui il ghiaccio spezzò i pilastri "
        "di legno. La gente si riunisce ancora in piazza per parlare."
    ),
}


def _train_trigrams(text: str) -> dict:
    """ctx(2 chars) -> {next_char: count, '': context_total}."""
    s = " " + " ".join(T.tokenize(text.lower())) + " "
    model: dict = {}
    for i in range(len(s) - 2):
        ctx, nxt = s[i:i + 2], s[i + 2]
        d = model.setdefault(ctx, {"": 0})
        d[nxt] = d.get(nxt, 0) + 1
        d[""] += 1
    return model


def _build():
    langid = {}
    ppl = {}
    chars = set()
    for lang, corpus in SEED_CORPORA.items():
        m = _train_trigrams(corpus)
        langid[lang] = m
        ppl[lang] = m
        chars.update(" " + corpus.lower())
    vocab = max(64, len(chars))
    return langid, ppl, vocab


LANGID_MODEL, PPL_MODEL, VOCAB = _build()

# ---------------------------------------------------------------------------
# Vectorized scoring.  The dict-walk version costs ~2-3 ms/doc in pure
# Python, which dominates the whole pipeline; the numpy sorted-key lookup is
# ~50x faster and is the SAME code on both the Spark (pandas UDF) and oracle
# sides, so parity is structural.
# Key packing: codepoints < 2^21, trigram key = c1<<42 | c2<<21 | c3.
# ---------------------------------------------------------------------------
import numpy as _np

_LANGID_CAP = 202   # chars scored for language id
_PPL_CAP = 1002     # chars scored for perplexity


def _np_tables(model: dict, vocab: int):
    tri_k, tri_v, ctx_k, ctx_v = [], [], [], []
    for ctx, counts in model.items():
        total = counts[""]
        ck = (ord(ctx[0]) << 21) | ord(ctx[1])
        ctx_k.append(ck)
        ctx_v.append(-math.log(total + vocab))  # log(1/(total+V))
        for nxt, cnt in counts.items():
            if nxt == "":
                continue
            tri_k.append((ck << 21) | ord(nxt))
            tri_v.append(math.log((cnt + 1.0) / (total + vocab)))
    tri_k = _np.asarray(tri_k, dtype=_np.int64)
    order = _np.argsort(tri_k)
    ctx_k = _np.asarray(ctx_k, dtype=_np.int64)
    corder = _np.argsort(ctx_k)
    return (tri_k[order], _np.asarray(tri_v)[order],
            ctx_k[corder], _np.asarray(ctx_v)[corder])


_LANGS_SORTED = sorted(LANGID_MODEL)
_TABLES = {lang: _np_tables(LANGID_MODEL[lang], VOCAB)
           for lang in _LANGS_SORTED}
_LOG_UNK = math.log(1.0 / VOCAB)


def _lookup(keys, tk, tv, default):
    idx = _np.searchsorted(tk, keys)
    # mode='clip' replaces a separate np.clip pass + its temporary; the
    # working set per call stays (keys, idx, hit, out) only
    found = _np.take(tk, idx, mode="clip")
    hit = found == keys
    out = _np.take(tv, idx, mode="clip")
    return _np.where(hit, out, default)


# Cap the number of trigram keys processed per vectorized pass: the
# 8-byte-per-key temporaries (idx, take, compare, where — ~6 arrays live)
# must stay cache-resident or every numpy pass re-streams them from DRAM
# (measured 124 us/doc at 5k-doc batches vs 1145 us/doc at 80k, single
# process).  The cap must ALSO hold when every core runs a worker: 16
# concurrent workers share L3, so per-worker chunks are sized for
# total-cores-way sharing (measured: 1.5M-key chunks scale 4->16 workers
# at ~0.26 efficiency; 150k chunks restore near-linear).  Chunking is
# result-invariant: every computation is per-document (segment sums never
# cross chunk bounds).
_CHUNK_KEYS = 150_000


def _norm(text: str) -> str:
    """The scoring normalization: single-space-joined lowered tokens with
    sentinel spaces.  Callers that already hold ``tokenize(text)`` may
    build this as ``" " + " ".join(toks).lower() + " "`` — identical
    output (pinned by test: lower() never creates, destroys or merges
    ASCII-whitespace token boundaries, and Final_Sigma context at token
    ends sees a non-cased char either way)."""
    return " " + " ".join(T.tokenize(text.lower())) + " "


def _norm_codepoints(s: str, cap: int) -> _np.ndarray | None:
    if len(s) < 3:
        return None
    s = s[:cap]
    return _np.frombuffer(s.encode("utf-32-le"),
                          dtype=_np.uint32).astype(_np.int64)


def _codepoints(text: str, cap: int) -> _np.ndarray | None:
    return _norm_codepoints(_norm(text), cap)


def _batch_keys(texts: list, cap: int):
    """Per-doc trigram/context key arrays concatenated for one-shot lookup.
    Returns (tri, ctx, counts per doc, valid mask)."""
    tris, ctxs, counts, valid = [], [], [], []
    for t in texts:
        cp = None if t is None else _codepoints(t, cap)
        if cp is None:
            counts.append(0)
            valid.append(False)
            continue
        tris.append((cp[:-2] << 42) | (cp[1:-1] << 21) | cp[2:])
        ctxs.append((cp[:-2] << 21) | cp[1:-1])
        counts.append(len(cp) - 2)
        valid.append(True)
    if tris:
        tri = _np.concatenate(tris)
        ctx = _np.concatenate(ctxs)
    else:
        tri = ctx = _np.empty(0, dtype=_np.int64)
    return tri, ctx, _np.asarray(counts), _np.asarray(valid)


def _lookup_batch(tri, ctx, lang):
    tk, tv, ck, cv = _TABLES[lang]
    ctx_miss = _lookup(ctx, ck, cv, _LOG_UNK)
    return _lookup(tri, tk, tv, ctx_miss)


def _np_merged_tables():
    """Union-key tables that score ALL languages from ONE searchsorted per
    key array: the langid scoring loop used to pay six independent
    binary-search lookups over the SAME tri/ctx keys (measured ~63 of the
    ~116 us/doc langid+ppl cost); the merged (keys x n_langs) value
    matrices cut that to one lookup + one 2-D gather.  Absent trigram
    cells hold NaN (real values are finite negatives) so the per-language
    context fallback stays exact."""
    tri_u = _np.unique(_np.concatenate([_TABLES[lg][0]
                                        for lg in _LANGS_SORTED]))
    ctx_u = _np.unique(_np.concatenate([_TABLES[lg][2]
                                        for lg in _LANGS_SORTED]))
    TV = _np.full((len(tri_u), len(_LANGS_SORTED)), _np.nan)
    CV = _np.full((len(ctx_u), len(_LANGS_SORTED)), _LOG_UNK)
    for j, lg in enumerate(_LANGS_SORTED):
        tk, tv, ck, cv = _TABLES[lg]
        TV[_np.searchsorted(tri_u, tk), j] = tv
        CV[_np.searchsorted(ctx_u, ck), j] = cv
    return tri_u, TV, ctx_u, CV


_MERGED = _np_merged_tables()


def _scores_all_langs(tri, ctx):
    """(n_keys, n_langs) log-probs, element-for-element equal to stacking
    ``_lookup_batch(tri, ctx, lang)`` over _LANGS_SORTED: each cell is the
    exact stored tri logp when the (key, lang) pair exists, else that
    lang's ctx value, else _LOG_UNK — the same floats the per-language
    chain selects, chosen by np.where instead of six binary searches."""
    tri_u, TV, ctx_u, CV = _MERGED
    ci = _np.searchsorted(ctx_u, ctx)
    cfound = _np.take(ctx_u, ci, mode="clip") == ctx
    ctx_res = _np.where(cfound[:, None],
                        _np.take(CV, ci, axis=0, mode="clip"), _LOG_UNK)
    ti = _np.searchsorted(tri_u, tri)
    tfound = _np.take(tri_u, ti, mode="clip") == tri
    tv_rows = _np.take(TV, ti, axis=0, mode="clip")
    use_tri = tfound[:, None] & ~_np.isnan(tv_rows)
    return _np.where(use_tri, tv_rows, ctx_res)


def _segment_sums(values, counts):
    """Sequential per-segment sums (np.add.reduceat)."""
    out = _np.zeros(len(counts))
    nz = counts > 0
    if values.size:
        offsets = _np.concatenate(([0], _np.cumsum(counts[nz])[:-1]))
        out[nz] = _np.add.reduceat(values, offsets)
    return out


def _segment_sums_2d(values, counts):
    """Per-segment sums of a (n_keys, k) matrix along axis 0 — reduceat is
    the same sequential accumulation per column as the 1-D form, so each
    column is bit-identical to ``_segment_sums(values[:, j], counts)``."""
    out = _np.zeros((len(counts), values.shape[1]))
    nz = counts > 0
    if values.size:
        offsets = _np.concatenate(([0], _np.cumsum(counts[nz])[:-1]))
        out[nz] = _np.add.reduceat(values, offsets, axis=0)
    return out


def predict_lang_batch(texts: list) -> tuple[list, list]:
    """Vectorized langid, chunked to keep lookup temporaries cache-sized
    (per-doc results are chunk-invariant — see _CHUNK_KEYS)."""
    step = max(256, _CHUNK_KEYS // _LANGID_CAP)
    if len(texts) <= step:
        return _predict_lang_chunk(texts)
    preds, probs = [], []
    for s in range(0, len(texts), step):
        p, q = _predict_lang_chunk(texts[s:s + step])
        preds.extend(p)
        probs.extend(q)
    return preds, probs


def _predict_lang_chunk(texts: list) -> tuple[list, list]:
    """One table lookup per language for all documents in the chunk (the
    per-call numpy overhead dominated the per-doc path)."""
    tri, ctx, counts, valid = _batch_keys(texts, _LANGID_CAP)
    n = len(texts)
    preds = ["und"] * n
    probs = [0.0] * n
    if not valid.any():
        return preds, probs
    scores = _segment_sums_2d(_scores_all_langs(tri, ctx),
                              counts[valid]).T  # (k, n_valid)
    best = _np.argmax(scores, axis=0)  # first max == alphabetical tiebreak
    mx = scores[best, _np.arange(scores.shape[1])]
    p = 1.0 / _np.exp(scores - mx).sum(axis=0)
    vi = 0
    for i in range(n):
        if valid[i]:
            preds[i] = _LANGS_SORTED[int(best[vi])]
            probs[i] = float(p[vi])
            vi += 1
    return preds, probs


def perplexity_batch(texts: list, langs: list) -> list:
    """Vectorized perplexity; per-doc model = declared lang, 'en' fallback.
    Chunked like predict_lang_batch (the 1002-char cap makes perplexity the
    heaviest key producer: ~1000 keys/doc)."""
    # floor 64 (not 256): at the default budget 150k keys / 1002 keys-doc
    # the honest step is ~149 docs; a 256 floor would overshoot the cache
    # budget ~1.7x and make _CHUNK_KEYS a no-op for the heaviest producer
    step = max(64, _CHUNK_KEYS // _PPL_CAP)
    if len(texts) <= step:
        return _perplexity_chunk(texts, langs)
    out = []
    for s in range(0, len(texts), step):
        out.extend(_perplexity_chunk(texts[s:s + step], langs[s:s + step]))
    return out


def _perplexity_chunk(texts: list, langs: list) -> list:
    n = len(texts)
    out = [float("inf")] * n
    by_lang: dict = {}
    for i, lg in enumerate(langs):
        by_lang.setdefault(lg if lg in _TABLES else "en", []).append(i)
    for lg, idxs in by_lang.items():
        tri, ctx, counts, valid = _batch_keys([texts[i] for i in idxs],
                                              _PPL_CAP)
        if not valid.any():
            continue
        lp = _segment_sums(_lookup_batch(tri, ctx, lg), counts[valid])
        ppl = _np.exp(-lp / counts[valid])
        vi = 0
        for j, i in enumerate(idxs):
            if valid[j]:
                out[i] = float(ppl[vi])
                vi += 1
    return out


def langid_ppl_batch(texts: list, langs: list, norms: list | None = None):
    """Fused langid + perplexity: ONE tokenize+lower+encode per document
    (predict_lang_batch and perplexity_batch each pay their own), sharing
    the trigram/context key arrays — the langid keys are exactly the
    first ``_LANGID_CAP - 2`` per-doc keys of the perplexity arrays, so
    both scores read prefix slices of one build.  Arithmetic is identical
    to the separate batch calls (same keys, same lookups, same
    reduceat/softmax order — per-doc results are chunk-invariant), which
    tests/test_langmodel_chunking.py pins.

    ``norms`` may pass in the per-doc ``_norm(text)`` strings precomputed
    (None entries where text is None) — the Arrow pass builds them from
    the tokenization it already shares with signal_stats.

    Returns (preds, probs, ppls)."""
    step = max(64, _CHUNK_KEYS // _PPL_CAP)
    if len(texts) <= step:
        return _langid_ppl_chunk(texts, langs, norms)
    preds, probs, ppls = [], [], []
    for s in range(0, len(texts), step):
        p, q, e = _langid_ppl_chunk(
            texts[s:s + step], langs[s:s + step],
            None if norms is None else norms[s:s + step])
        preds.extend(p)
        probs.extend(q)
        ppls.extend(e)
    return preds, probs, ppls


def _langid_ppl_chunk(texts: list, langs: list, norms: list | None = None):
    n = len(texts)
    n_lid = _LANGID_CAP - 2
    # one normalize+encode per doc; keys for the whole chunk are then
    # built in ONE vectorized pass over the concatenated codepoints
    # (the per-doc shift/or/append loop measured ~14 us/doc of overhead)
    cps = []
    counts_p = _np.zeros(n, dtype=_np.int64)
    valid = _np.zeros(n, dtype=bool)
    for i, t in enumerate(texts):
        if norms is not None:
            s = norms[i]
            cp = None if s is None else _norm_codepoints(s, _PPL_CAP)
        else:
            cp = None if t is None else _codepoints(t, _PPL_CAP)
        if cp is None:
            continue
        cps.append(cp)
        counts_p[i] = len(cp) - 2
        valid[i] = True

    preds = ["und"] * n
    probs = [0.0] * n
    ppls = [float("inf")] * n
    if not valid.any():
        return preds, probs, ppls

    # Concatenated key build.  Dropping the two trigram starts that cross
    # each doc boundary leaves EXACTLY the concatenation of the per-doc
    # key arrays the old loop built (order preserved, values identical) —
    # every downstream lookup/reduceat sees the same sequences.
    allcp = _np.concatenate(cps)
    lens = _np.asarray([len(c) for c in cps])
    ends = _np.cumsum(lens)
    tri_all = (allcp[:-2] << 42) | (allcp[1:-1] << 21) | allcp[2:]
    ctx_all = (allcp[:-2] << 21) | allcp[1:-1]
    keep = _np.ones(len(allcp) - 2, dtype=bool)
    if len(cps) > 1:
        cross = _np.concatenate((ends[:-1] - 2, ends[:-1] - 1))
        keep[cross] = False
    tri_cat = tri_all[keep]
    ctx_cat = ctx_all[keep]
    kcounts = counts_p[valid]                  # keys per valid doc
    # within-doc key position, for prefix (langid) selection
    kstarts = _np.concatenate(([0], _np.cumsum(kcounts)[:-1]))
    inpos = _np.arange(len(tri_cat)) - _np.repeat(kstarts, kcounts)

    # ---- langid over the per-doc key prefixes (== _predict_lang_chunk) --
    lid_sel = inpos < n_lid
    counts_l = _np.minimum(kcounts, n_lid)
    scores = _segment_sums_2d(
        _scores_all_langs(tri_cat[lid_sel], ctx_cat[lid_sel]),
        counts_l).T
    best = _np.argmax(scores, axis=0)
    mx = scores[best, _np.arange(scores.shape[1])]
    p = 1.0 / _np.exp(scores - mx).sum(axis=0)
    vi = 0
    for i in range(n):
        if valid[i]:
            preds[i] = _LANGS_SORTED[int(best[vi])]
            probs[i] = float(p[vi])
            vi += 1

    # ---- perplexity per declared-lang group (== _perplexity_chunk) ----
    # valid-doc ordinal for every doc (doc order == key order, so a group
    # mask over key_doc selects the group's per-doc arrays in idx order)
    vord = _np.cumsum(valid) - 1
    key_doc = _np.repeat(_np.arange(len(kcounts)), kcounts)
    by_lang: dict = {}
    for i, lg in enumerate(langs):
        by_lang.setdefault(lg if lg in _TABLES else "en", []).append(i)
    for lg, idxs in by_lang.items():
        vidx = [i for i in idxs if valid[i]]
        if not vidx:
            continue
        if len(vidx) == len(kcounts):
            tri, ctx = tri_cat, ctx_cat
        else:
            flag = _np.zeros(len(kcounts), dtype=bool)
            flag[vord[vidx]] = True
            sel = flag[key_doc]
            tri, ctx = tri_cat[sel], ctx_cat[sel]
        cnt = counts_p[vidx]
        lp = _segment_sums(_lookup_batch(tri, ctx, lg), cnt)
        ppl = _np.exp(-lp / cnt)
        for j, i in enumerate(vidx):
            ppls[i] = float(ppl[j])
    return preds, probs, ppls


def predict_lang(text: str | None) -> tuple[str, float]:
    """(best_lang, softmax probability); 'und' for empty text.  Delegates
    to the batch path so oracle and UDF share identical float arithmetic."""
    preds, probs = predict_lang_batch([text])
    return preds[0], probs[0]


def perplexity(text: str | None, lang: str | None) -> float:
    return perplexity_batch([text], [lang])[0]
