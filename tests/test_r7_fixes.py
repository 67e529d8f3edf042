"""Regression pins for the r7 optimization round.

One test per changed internal: the Arrow-pass repetition ratio equals the
textstats definition, the numpy MinHash signature equals the JVM
expression it replaced, the chunked cross-column aggregation merges to
the single-agg result, the NULL_ROW_PATTERN top-patterns query survives
a 1000-column >50%-null table (r6 ADVICE high: the rebuilt left-deep sum
chain overflowed the JVM stack exactly when the check fired), the
point-biserial bool fan-out is capped (r6 ADVICE medium), the melted
temporal pass matches the frozen wide-plan output, the concurrent family submission
produces a report identical to serial submission, and each submitted
family labels its jobs with its name.
"""

import pytest
from pyspark.sql import functions as F


def test_signal_stats_equals_individual_textstats():
    """The fused one-tokenization signal_stats (what the Arrow pass calls
    per doc) must equal every individual textstats definition exactly —
    including the rep-ratio tuple-gram form vs the string-gram form."""
    from qualityspark import textstats as T
    cases = ["a b c a b c a b c", "a b", "", "x y z w", "w " * 50,
             "one two three one two three four", "a\tb\nc a b c",
             None, "  The and of #tag ... done…\n• item\n- dash\nend...",
             "HELLO World ABC xyz", "\t\n", "the the the of of a a in",
             "Línea única así 123 !!!", "word"]
    for t in cases:
        for lang in ("en", "es", None, "xx"):
            (n, mwl, alpha, symbol, bullet, ellipsis, stop_d, req_hits,
             tox_d, caps, rep) = T.signal_stats(t, lang)
            assert n == T.word_count(t), (t, lang)
            assert mwl == T.mean_word_len(t), (t, lang)
            assert alpha == T.alpha_word_ratio(t), (t, lang)
            assert symbol == T.symbol_word_ratio(t), (t, lang)
            assert bullet == T.bullet_line_ratio(t), (t, lang)
            assert ellipsis == T.ellipsis_line_ratio(t), (t, lang)
            assert stop_d == T.stopword_density(t, lang), (t, lang)
            assert req_hits == T.required_stopword_hits(t, lang), (t, lang)
            assert tox_d == T.toxicity_density(t), (t, lang)
            assert caps == T.caps_ratio(t), (t, lang)
            assert rep == T.repetition_3gram(t), (t, lang)


def test_merged_langid_tables_match_per_lang_lookup():
    """The union-key merged tables (_scores_all_langs / _segment_sums_2d)
    must be BIT-identical to the per-language _lookup_batch chain they
    replaced: same stored floats selected, same reduceat accumulation
    order — chunk-invariance and oracle parity depend on exactness."""
    import numpy as np
    from qualityspark import langmodel as L
    texts = ["the river flows past the mill", "el rio y las colinas",
             "Σ ΑΣ. é ñ 中文 🙂 İstanbul", "ß STRASSE", "", None, "ab",
             "la riviere et les collines", "x" * 500, "zq wv kj 123 !!!"]
    tri, ctx, counts, valid = L._batch_keys(texts, L._LANGID_CAP)
    got = L._scores_all_langs(tri, ctx)
    for j, lg in enumerate(L._LANGS_SORTED):
        want = L._lookup_batch(tri, ctx, lg)
        assert np.array_equal(got[:, j], want), lg
    s2 = L._segment_sums_2d(got, counts[valid])
    for j in range(got.shape[1]):
        assert np.array_equal(s2[:, j],
                              L._segment_sums(got[:, j], counts[valid]))


def test_norm_from_shared_tokens():
    """The Arrow pass builds the langid normalization from the SAME
    tokenization signal_stats uses: " ".join(tokenize(t)).lower() must
    equal " ".join(tokenize(t.lower())) — lower() never creates,
    destroys or merges ASCII-WS token boundaries, and Final_Sigma
    context at a token edge sees a non-cased char either way."""
    import random
    from qualityspark import textstats as T
    from qualityspark import langmodel as L
    cases = ["İstanbul İ X", "ΑΣ ΒΟΣ.", "Σ", "ΑΣ\tΒ", "ΑΣ\nΒ", "ẞ ß",
             "ǅungla ǆ ǈ", "ᾈ ᾨ", "Ⅷ ⅷ", "ﬁ ﬂ ﬀ", "ΑΣ’Β", "Α Σx",
             "İ\x0bΣ", "ʼΣ Α", "𝔄 𝔞", "Ａ Ｚ", "па ПА", "", " \t "]
    rng = random.Random(9)
    pool = "abΣΑİẞǅ .\t\n\r\x0b\x0c…é中🙂ʼ’XZ"
    cases += ["".join(rng.choice(pool) for _ in range(rng.randrange(0, 60)))
              for _ in range(500)]
    for t in cases:
        toks = T.tokenize(t)
        assert " " + " ".join(toks).lower() + " " == L._norm(t), repr(t)
    # and the norms= fast path must reproduce the text-path results
    langs = [None, "en", "es", "xx"] * ((len(cases) + 3) // 4)
    langs = langs[:len(cases)]
    norms = [" " + " ".join(T.tokenize(t)).lower() + " " for t in cases]
    assert L.langid_ppl_batch(cases, langs, norms) == \
        L.langid_ppl_batch(cases, langs)


def test_concat_keybuild_chunk_invariant(monkeypatch):
    """The concatenated boundary-masked key build must keep fused results
    bit-equal to the separate batch paths at any chunk size."""
    import random
    from qualityspark import langmodel as L
    rng = random.Random(13)
    words = "the river el rio la riviere der fluss o rio il fiume".split()
    docs, langs = [], []
    for _ in range(300):
        k = rng.randint(0, 40)
        docs.append(" ".join(rng.choice(words) for _ in range(k)) or None)
        langs.append(rng.choice(["en", "es", "fr", "de", "xx", None]))
    docs[:3] = [None, "", "ab"]
    for chunk in (10 ** 9, 1, 3000):
        monkeypatch.setattr(L, "_CHUNK_KEYS", chunk)
        p, q, e = L.langid_ppl_batch(docs, langs)
        wp, wq = L.predict_lang_batch(docs)
        we = L.perplexity_batch(docs, langs)
        assert (p, q, e) == (wp, wq, we), chunk


def test_alpha_token_pattern_equals_bounded_form():
    """[A-Za-z][^WS]* must count letter-containing tokens exactly like the
    old bounded [^WS]*[A-Za-z][^WS]* form: a match always runs to the
    token's end, so each letter-bearing token yields exactly one match."""
    import random
    import re
    from qualityspark import textstats as T
    old = re.compile(r"[^ \t\n\r\f\x0b]*[A-Za-z][^ \t\n\r\f\x0b]*")
    cases = ["", " ", "a", ".", ".a", "a.", "a.b c.d", "...",
             "..a..b.. c", "\t\n.a\r b.", "1234 5678a 9", "é ñ info",
             "."*40 + "a", "ab ." * 30, "\x0b.a\x0c b", "x.y.z"]
    rng = random.Random(5)
    alpha = "ab.Z9 \t…é\n-"
    cases += ["".join(rng.choice(alpha) for _ in range(rng.randrange(0, 60)))
              for _ in range(400)]
    for s in cases:
        assert len(T._ALPHA_TOK_RE.findall(s)) == \
            sum(1 for _ in old.finditer(s)), repr(s)
        toks = T.tokenize(s)
        if toks:
            assert T.signal_stats(s, "en")[2] == T.alpha_word_ratio(s)
        # the ASCII bytes.translate caps fast path must equal the dict
        # charmap form on every input too
        assert T.signal_stats(s, "en")[9] == T.caps_ratio(s), repr(s)


def test_scrub_tox_hint_never_changes_output():
    """scrub_and_hits with the token-level toxicity hint must be
    byte-identical to the hintless path on every input — including the
    sre-IGNORECASE fold divergences (ı ſ K İ), punctuation-glued words
    (token rule: no mask), PII+toxicity combinations, and case."""
    import random
    from qualityspark import constants as C
    from qualityspark import textstats as T
    from qualityspark.oracle import scrub_and_hits
    cases = [
        "clean prose only", "shit happens", "SHIT HAPPENS", "ShIt",
        "damn. shit. fine", "shit.", "xshit", "shitx", "shit\tshit",
        "shİt", "ſhit", "pıss", "fucK with kelvin", "ıdiot piss",
        "call +52 55 1234 5678 now", "card 4111-1111-1111-1111 shit",
        "a@b.example.com bitch", "bullshit...", "...bullshit",
        "\nshit", "shit\n", " shit ", "", "no digits no at no tox",
    ]
    rng = random.Random(21)
    vocab = list(C.TOXICITY_WORDS) + ["word", "river", "SHIT.", "x1",
                                      "İ", "ı…", "4111-1111-1111-1111"]
    cases += [" ".join(rng.choice(vocab)
                       for _ in range(rng.randrange(0, 12)))
              for _ in range(500)]
    for t in cases:
        hint = any(tk in C.TOXICITY_SET
                   for tk in map(str.lower, T.tokenize(t)))
        assert scrub_and_hits(t, tox_hint=hint) == scrub_and_hits(t), \
            repr(t)


def test_minhash_signature_matches_jvm_expression(spark):
    """The vectorized numpy signature must equal the 64-transform JVM
    chain value-for-value (same permutation constants, same modulus)."""
    from qualityspark.rules import neardup as ND
    df = spark.createDataFrame(
        [(1, [5, 17, 1000003]), (2, [2_000_000_000, 7]), (3, [0]),
         (4, list(range(1, 200)))],
        "id long, sh array<long>")
    params = ND._minhash_params(8, 42)

    def perm(a, b):
        return lambda x: (a * x + b) % ND.MERSENNE

    jvm = F.array(*[
        F.coalesce(F.array_min(F.transform(F.col("sh"), perm(a, b))),
                   F.lit(ND.MERSENNE).cast("long"))
        for a, b in params])
    rows = (df.select("id", jvm.alias("want"),
                      ND.minhash_signature(F.col("sh"), 8, 42)
                      .alias("got")).collect())
    for r in rows:
        assert list(r["want"]) == list(r["got"]), r["id"]


def test_python_xxh64_matches_jvm_xxhash64(spark):
    """The pure-Python XXH64 the Arrow shingle pass uses must equal
    F.xxhash64 (and its pmod) byte-for-byte — covering the empty string,
    every tail-length class, the >=32-byte stripe path, and non-ASCII."""
    import random
    from qualityspark.rules import neardup as ND
    rng = random.Random(3)
    cases = ["", "a", "abc", "hello world", "…•á中", "x" * 7, "y" * 8,
             "z" * 9, "w" * 31, "v" * 32, "u" * 33, "t" * 63, "s" * 64]
    cases += ["".join(rng.choice("ab déf…中 01") for _ in
                      range(rng.randrange(0, 70))) for _ in range(300)]
    cases = sorted(set(cases))
    df = spark.createDataFrame([(c,) for c in cases], "s string")
    rows = df.select("s", F.xxhash64("s").alias("h"),
                     F.pmod(F.xxhash64("s"),
                            F.lit(ND.MERSENNE)).alias("p")).collect()
    for r in rows:
        u = ND.xxh64(r["s"].encode("utf-8"), 42)
        signed = u - (1 << 64) if u >= (1 << 63) else u
        assert signed == r["h"], repr(r["s"])
        assert ND.shingle_hash_py(r["s"]) == r["p"], repr(r["s"])


def test_shingle_sig_pass_matches_jvm_chain(spark):
    """The fused Arrow shingle+signature pass must equal the JVM
    shingle_hashes_expr + minhash_signature chain value-for-value."""
    from qualityspark.rules import neardup as ND
    texts = ["a b c d e a b c d e", "one two three", "a b", "", None,
             "  x\t\ty  z  x y z w  ", "tok " * 40, "á é … tok tok tok"]
    df = spark.createDataFrame([(i, t) for i, t in enumerate(texts)],
                               "id long, t string")
    want = df.select(
        "id", ND.shingle_hashes_expr(F.col("t"), 3).alias("sh")) \
        .withColumn("sig", ND.minhash_signature(F.col("sh"), 16, 42))
    got = df.select("id", ND.shingle_sig_pass(3, 16, 42)(F.col("t"))
                    .alias("ss"))
    w = {r["id"]: (list(r["sh"]), list(r["sig"]))
         for r in want.collect()}
    g = {r["id"]: (list(r["ss"]["sh"]), list(r["ss"]["sig"]))
         for r in got.collect()}
    assert w == g


def test_agg_chunked_equals_single_agg(spark):
    from qualityspark import csv_breadth as B
    df = spark.createDataFrame(
        [(float(i), float(i * i)) for i in range(100)], "a double, b double")
    aggs = []
    for i in range(30):
        aggs += [F.sum(F.col("a") + i).alias(f"s{i}"),
                 F.count(F.when(F.col("b") > i * 10, 1)).alias(f"c{i}")]
    want = df.agg(*aggs).first().asDict()
    old_chunk = B.XCOL_AGG_CHUNK
    B.XCOL_AGG_CHUNK = 7    # force many slices
    try:
        got = B._agg_chunked(df, aggs)
    finally:
        B.XCOL_AGG_CHUNK = old_chunk
    assert got == want


def test_nullrow_pattern_survives_1000_columns(spark):
    """r6 ADVICE high: the top-patterns fetch rebuilt the 1000-term sum
    left-deep, so a wide table with >50%-null rows crashed the audit the
    moment NULL_ROW_PATTERN fired.  The balanced tree is now reused."""
    from qualityspark import csv_breadth as B
    from qualityspark import typeinfer as TI
    n_cols = 1000
    cols = [f"c{i:04d}" for i in range(n_cols)]
    # 6 rows: half mostly-null (fires the check), half dense
    rows = []
    for r in range(6):
        if r < 3:
            rows.append(tuple("x" if i < 100 else None
                              for i in range(n_cols)))
        else:
            rows.append(tuple("x" for _ in range(n_cols)))
    df = spark.createDataFrame(rows, ", ".join(f"`{c}` string"
                                               for c in cols))
    tv = df
    types = {c: TI.HIGH_CARDINALITY for c in cols}
    stats = {c: {"n_null": 3, "nn": 3, "n_num": 0} for c in cols}
    checks = B.cross_column_pass(tv, types, stats, 6)
    nr = [c for c in checks if c["check_id"] == "NULL_ROW_PATTERN"]
    assert nr and not nr[0]["passed"]
    assert "3 rows" in nr[0]["detail"]


def test_point_biserial_bool_fanout_capped(spark):
    """r6 ADVICE medium: >MAX_PB_BOOL_COLS boolean columns must truncate
    with an INFO note instead of fanning out n_bool x 25 pairs."""
    from qualityspark import csv_breadth as B
    from qualityspark import typeinfer as TI
    n_bool = B.MAX_PB_BOOL_COLS + 5
    cols = [f"b{i:02d}" for i in range(n_bool)] + ["n0"]
    rows = [tuple(["true" if (r + i) % 2 else "false"
                   for i in range(n_bool)] + [str(r)])
            for r in range(20)]
    df = spark.createDataFrame(rows, ", ".join(f"`{c}` string"
                                               for c in cols))
    tv = df.withColumn("n0_typed", F.expr("try_cast(n0 AS double)"))
    types = {c: TI.BOOLEAN for c in cols[:-1]}
    types["n0"] = TI.NUMERIC_CONTINUOUS
    stats = {c: {"n_null": 0, "nn": 20, "n_num": 0} for c in cols}
    stats["n0"]["n_num"] = 20
    stats["n0"]["mean"] = 9.5
    checks = B.cross_column_pass(tv, types, stats, 20)
    info = [c for c in checks if c["check_id"] == "POINT_BISERIAL"
            and "capped" in c["detail"]]
    assert info and info[0]["passed"]


def _temporal_inputs(spark):
    """(tv, types, stats, selected) for a 60-row daily table: one date
    axis, two numeric columns with nulls, one categorical."""
    import datetime as dt
    from qualityspark import typeinfer as TI
    rows = []
    for r in range(60):
        rows.append((f"2023-01-{(r % 30) + 1:02d}",
                     str(r * 1.5) if r % 7 else "",
                     str(100 - r) if r % 5 else "",
                     "cat%d" % (r % 3)))
    df = spark.createDataFrame(rows, "d string, x string, y string, c string")
    tv = (df.withColumn("d_typed", F.to_timestamp("d"))
          .withColumn("x_typed", F.expr("try_cast(x AS double)"))
          .withColumn("y_typed", F.expr("try_cast(y AS double)")))
    types = {"d": TI.DATE, "x": TI.NUMERIC_CONTINUOUS,
             "y": TI.NUMERIC_CONTINUOUS,
             "c": TI.CATEGORICAL}
    stats = {"d": {"d_min": dt.datetime(2023, 1, 1),
                   "d_max": dt.datetime(2023, 1, 30)},
             "x": {"n_num": 51, "n_null": 9},
             "y": {"n_num": 48, "n_null": 12},
             "c": {"n_null": 0}}
    sel = {"x": TI.TEMPORAL_DATASET_CHECKS, "y": TI.TEMPORAL_DATASET_CHECKS}
    return tv, types, stats, sel


def test_temporal_melted_equals_wide(spark, golden):
    """The melted per-period aggregation reproduces the temporal checks of
    the single wide groupBy(period) it replaced, frozen in
    tests/data/temporal_pass.json."""
    from qualityspark import csv_breadth as B
    tv, types, stats, sel = _temporal_inputs(spark)
    golden("temporal_pass", B.temporal_pass(tv, types, stats, "d", 60, sel))


def test_parallel_audit_report_identical_to_serial(spark, tmp_path,
                                                   monkeypatch):
    """A one-worker pool (serial submission) and the default concurrent
    submission must produce the identical report dict."""
    from concurrent.futures import ThreadPoolExecutor
    from qualityspark import parallel
    from qualityspark.csv_audit import audit_csv
    p = tmp_path / "t.csv"
    lines = ["id,num,cat,date,txt"]
    for r in range(200):
        lines.append(f"{r},{r * 0.5 if r % 9 else ''},"
                     f"{'ab'[r % 2]},2023-02-{(r % 28) + 1:02d},w{r % 5}")
    p.write_text("\n".join(lines) + "\n")
    with monkeypatch.context() as m:
        m.setattr(parallel, "audit_pool",
                  lambda: ThreadPoolExecutor(max_workers=1))
        serial = audit_csv(spark, str(p))
    assert audit_csv(spark, str(p)) == serial


def test_parallel_submit_labels_family_jobs(spark):
    """A submitted family runs under the caller's job group with its own
    name as the job description, so its jobs stay countable by group and
    show per family; the caller's description is left as it was."""
    from qualityspark import parallel
    sc = spark.sparkContext
    sc.setJobGroup("g", "caller")
    try:
        def thunk():
            spark.range(10).count()
            return (sc.getLocalProperty("spark.jobGroup.id"),
                    sc.getLocalProperty("spark.job.description"))
        with parallel.audit_pool() as pool:
            got = parallel.submit(pool, thunk, "fam").result()
        assert got == ("g", "fam")
        assert sc.statusTracker().getJobIdsForGroup("g")
        assert sc.getLocalProperty("spark.job.description") == "caller"
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
