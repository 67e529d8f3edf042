"""The benchmark's workloads.  Each one owns its inputs (written under its
work directory from the seed), a reference answer, a timed iteration that
checks its own output, and a traced pass that times each layer from
outside through the layer's public functions."""

from __future__ import annotations

import os
import shutil
import statistics

from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

from qualityspark import oracle, synth
from qualityspark import langmodel as L
from qualityspark import textstats as T
from qualityspark.caching import release_caches, tracked_cache
from qualityspark.config import resolve
from qualityspark.io import SnapshotWriter, run_resumable
from qualityspark.pipeline import audit
from qualityspark.rules import udfs
from qualityspark.rules.dedup import text_sha_expr, with_dedup_flags
from qualityspark.rules.heuristics import is_null_like, signal_columns
from qualityspark.scoring import with_business_rules, with_scores

from perfbench import inputs
from perfbench.common import assert_no_caches, plan_counts, timed

RULES = [r for r, _ in resolve(None).doc_rules()]
DUP_RULES = ("TEXT_EXACT_DUPLICATE", "URL_DUPLICATE")
LADDER_REPEATS = 3
SUBPHASE_REPEATS = 3


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _median_time(fn, repeats: int, spark) -> float:
    ts = []
    for _ in range(repeats):
        ts.append(timed(fn)[0])
        assert_no_caches(spark)
    return statistics.median(ts)


def _du_mb(path: str) -> float:
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, fs in os.walk(path) for f in fs) / 1e6


# ---------------------------------------------------------------------------
# webtext digest: keep count, score sum, rules_fired histogram, scrub bytes
# ---------------------------------------------------------------------------
def digest_aggs() -> list:
    rf = F.col("rules_fired")
    dup = F.array_contains(rf, DUP_RULES[0]) | F.array_contains(rf,
                                                                DUP_RULES[1])
    return ([F.count(F.lit(1)).alias("rows"),
             F.sum(F.col("keep").cast("long")).alias("keep"),
             F.sum(F.round(F.col("score") * 10).cast("long")).alias("score10"),
             F.sum(F.coalesce(F.octet_length("scrubbed_text"), F.lit(0)))
             .alias("scrub_bytes"),
             F.sum(dup.cast("long")).alias("dup_flagged")]
            + [F.sum(F.array_contains(rf, r).cast("long")).alias(f"n_{r}")
               for r in RULES])


def oracle_digest(rows: list[dict]) -> dict:
    """The same digest from the pure-Python oracle."""
    res = oracle.audit_rows(rows)
    d = {"rows": len(res),
         "keep": sum(r["keep"] for r in res),
         "score10": sum(round(r["score"] * 10) for r in res),
         "scrub_bytes": sum(len(r["scrubbed_text"].encode("utf-8"))
                            for r in res if r["scrubbed_text"] is not None),
         "dup_flagged": sum(any(x in r["rules"] for x in DUP_RULES)
                            for r in res)}
    for rule in RULES:
        d[f"n_{rule}"] = sum(rule in r["rules"] for r in res)
    return d


class Workload:
    name = ""
    records = 0     # input records one iteration processes

    def __init__(self, spark, seed: int, small: bool, root: str):
        self.spark, self.seed, self.small, self.root = spark, seed, small, root
        os.makedirs(root, exist_ok=True)

    def sizes(self) -> dict:
        raise NotImplementedError

    def setup(self) -> bool:
        """Writes the inputs, computes the reference and warms up; returns
        whether the warm-up output matched the reference."""
        raise NotImplementedError

    def iteration(self) -> tuple[float, bool]:
        """One timed unit of work; returns (seconds, output correct)."""
        raise NotImplementedError

    def trace(self, labels) -> dict[str, float]:
        """The traced pass: per-layer metrics by BENCHMARK.json name."""
        raise NotImplementedError


# ---------------------------------------------------------------------------
# webtext_run: the CLI run path
# ---------------------------------------------------------------------------
class WebTextRun(Workload):
    """``io.run_resumable`` over synth pages with real Parquet sinks."""
    name = "webtext_run"
    chunks = 4

    def __init__(self, spark, seed, small, root):
        super().__init__(spark, seed, small, root)
        self.records = 300 if small else 2000
        self.pages_dir = os.path.join(root, "pages")
        self._n_out = 0

    def sizes(self) -> dict:
        return {"docs": self.records}

    def setup(self) -> bool:
        parts = 2 * self.spark.sparkContext.defaultParallelism
        (synth.pages_df(self.spark, self.records, self.seed, partitions=parts)
         .write.mode("overwrite").parquet(self.pages_dir))
        # rows are a pure function of (index, seed): the oracle audits the
        # very rows pages_df wrote
        ref = oracle_digest(list(synth.page_rows(self.records, self.seed)))
        pages = self.spark.read.parquet(self.pages_dir)
        arrow, _ = plan_counts(audit(pages))
        release_caches()
        if arrow != 1:
            raise RuntimeError(f"pipeline.audit plan has {arrow} "
                               "ArrowEvalPython nodes, expected 1")
        # warm-up (codegen, JIT, Python worker imports): one full run,
        # checked against the pure-Python oracle; its digest is the one
        # every later iteration must reproduce
        _, self.first = self._run(self.pages_dir)
        assert_no_caches(self.spark)
        return self.first == ref

    def _out_dir(self) -> str:
        """A fresh, empty output directory (the previous one is removed):
        an existing manifest would make run_resumable skip its chunks."""
        shutil.rmtree(os.path.join(self.root, f"out{self._n_out}"),
                      ignore_errors=True)
        self._n_out += 1
        out = os.path.join(self.root, f"out{self._n_out}")
        shutil.rmtree(out, ignore_errors=True)
        return out

    def _digest(self, out: str) -> dict:
        data = self.spark.read.parquet(os.path.join(out, "data"))
        return {k: int(v or 0)
                for k, v in data.agg(*digest_aggs()).first().asDict().items()}

    def _run(self, path: str) -> tuple[float, dict]:
        """``run_resumable`` over the pages at ``path``: (seconds, digest
        of the written output)."""
        out = self._out_dir()
        t, _ = timed(run_resumable, self.spark, self.spark.read.parquet(path),
                     out, chunks=self.chunks)
        return t, self._digest(out)

    def iteration(self) -> tuple[float, bool]:
        t, digest = self._run(self.pages_dir)
        assert_no_caches(self.spark)
        return t, digest == self.first and digest["rows"] == self.records

    # -- traced pass ---------------------------------------------------------
    def _ladder(self, pages) -> list:
        """Prefix ladder over pipeline.audit's call sequence."""
        def scan():
            return pages

        def signals():
            return signal_columns(pages, model_signals=True)

        def model():
            return udfs.with_model_columns(signals(), signals_from_model=True)

        def dedup():
            narrow = tracked_cache(pages.select(
                text_sha_expr().alias("text_sha"), "url", "warc_ts"))
            df = (model().withColumn("text_sha", text_sha_expr())
                  .drop("html", "text"))
            return with_dedup_flags(df, narrow=narrow)

        def scores():
            return with_scores(with_business_rules(dedup()))

        return [scan, signals, model, dedup, scores]

    def _subphases(self, pages) -> dict[str, float]:
        """In-process µs/doc of the Arrow pass and its parts on a seeded
        sample of the same documents."""
        n_sample = 100 if self.small else 1000
        frac = min(1.0, 1.5 * n_sample / self.records)
        pdf = (pages.select("text", "lang").sample(False, frac, self.seed)
               .limit(n_sample).toPandas())
        texts, langs = pdf["text"].tolist(), pdf["lang"].tolist()
        n = max(1, len(texts))
        toks = [T.tokenize(t) if t is not None else None for t in texts]
        stats = [T.signal_stats(t, lg, tk) if t is not None else None
                 for t, lg, tk in zip(texts, langs, toks)]
        norms = [" " + " ".join(tk).lower() + " " if tk is not None else None
                 for tk in toks]

        def model_pass():
            udfs._model_pass_fn(pdf["text"], pdf["lang"])

        def signal_stats():
            for t, lg in zip(texts, langs):
                if t is not None:
                    T.signal_stats(t, lg, T.tokenize(t))

        def langid_ppl():
            L.langid_ppl_batch(texts, langs, norms)

        def scrub():
            for t, st in zip(texts, stats):
                if t is not None:
                    oracle.scrub_and_hits(t, tox_hint=st[8] > 0)

        out = {}
        for key, fn in (("udfs.model_pass_us_per_doc", model_pass),
                        ("textstats.signal_stats_us_per_doc", signal_stats),
                        ("langmodel.langid_ppl_us_per_doc", langid_ppl),
                        ("oracle.scrub_us_per_doc", scrub)):
            fn()    # first call builds lazy tables
            out[key] = statistics.median(
                timed(fn)[0] for _ in range(SUBPHASE_REPEATS)) / n * 1e6
        return out

    def _dedup_candidates(self, pages) -> int:
        """Rows that share their text hash or url with another row: the
        rows the keep-first windows have to order."""
        from pyspark.sql import Window
        sha, url = F.col("sha"), F.col("url")
        in_group = (
            (sha.isNotNull()
             & (F.count(F.lit(1)).over(Window.partitionBy("sha")) > 1))
            | (~is_null_like(url)
               & (F.count(F.lit(1)).over(Window.partitionBy("url")) > 1)))
        return int(pages.select(text_sha_expr().alias("sha"), "url")
                   .select(in_group.cast("long").alias("c"))
                   .agg(F.sum("c")).first()[0] or 0)

    def _traced_run(self, labels):
        """Times ``SnapshotWriter.write`` inside ``run_resumable`` by
        wrapping it for the duration of one run."""
        sc, write = self.spark.sparkContext, SnapshotWriter.write
        box = {}

        def timed_write(writer, df, fail_after=None):
            sc.setJobGroup("io.chunk_write", "io.chunk_write")
            try:
                box["s"], n = timed(write, writer, df, fail_after)
                return n
            finally:
                sc.setJobGroup("io.run_resumable", "io.run_resumable")

        out = self._out_dir()
        SnapshotWriter.write = timed_write
        try:
            t, _ = labels.run("io.run_resumable", run_resumable, self.spark,
                              self.spark.read.parquet(self.pages_dir), out,
                              chunks=self.chunks)
        finally:
            SnapshotWriter.write = write
        m = labels.stage_metrics(["io.run_resumable", "io.chunk_write"])
        m.update({"io.chunk_write_s": box["s"], "io.reread_s": t - box["s"],
                  "io.jobs": m["spark.jobs"],
                  "io.output_mb": _du_mb(out)})
        return t, self._digest(out), m

    def trace(self, labels) -> dict[str, float]:
        spark = self.spark
        m: dict[str, float] = {}
        t_traced, digest, traced = self._traced_run(labels)
        assert_no_caches(spark)
        if digest != self.first:
            raise RuntimeError("traced iteration output differs from the "
                               "untraced one")
        m.update(traced)
        m["trace.overhead_s"] = t_traced - statistics.mean(
            self.iteration()[0] for _ in range(2))

        pages = spark.read.parquet(self.pages_dir)
        rungs = self._ladder(pages)
        top, prod = rungs[-1](), audit(pages)
        top_plan, prod_plan = plan_counts(top), plan_counts(prod)
        release_caches()
        if top_plan != prod_plan or prod_plan[0] != 1:
            raise RuntimeError(
                f"ladder top rung plan (arrow, exchanges)={top_plan} differs "
                f"from pipeline.audit {prod_plan}: the ladder no longer "
                "follows the production path")
        m["plan.arrow_eval_nodes"], m["plan.exchanges"] = map(float,
                                                               prod_plan)
        walls = []
        for i, rung in enumerate(rungs, 1):
            walls.append(_median_time(
                lambda: labels.run(f"ladder.{i}", _noop, rung()),
                LADDER_REPEATS, spark))
        m["io.scan_s"] = walls[0]
        for key, a, b in (("heuristics.signal_s", 0, 1),
                          ("udfs.model_pass_s", 1, 2),
                          ("dedup.flags_s", 2, 3),
                          ("scoring.scores_s", 3, 4)):
            m[key] = walls[b] - walls[a]
        m["ladder.top_s"] = walls[-1]
        m["pipeline.audit_noop_s"] = _median_time(
            lambda: _noop(audit(pages)), LADDER_REPEATS, spark)

        @pandas_udf("struct<text:string, lang:string>")
        def identity(text, lang):
            import pandas as pd
            return pd.DataFrame({"text": text, "lang": lang})

        two = pages.select("text", "lang")
        m["udfs.arrow_roundtrip_s"] = (
            _median_time(lambda: _noop(two.select(
                identity("text", "lang").alias("r"))), LADDER_REPEATS, spark)
            - _median_time(lambda: _noop(two), LADDER_REPEATS, spark))
        m.update(self._subphases(pages))

        cand = self._dedup_candidates(pages)
        m["dedup.candidate_rows"] = float(cand)
        m["dedup.flagged_rows"] = float(digest["dup_flagged"])
        m["dedup.flag_ratio"] = digest["dup_flagged"] / cand if cand else 0.0
        return m


# ---------------------------------------------------------------------------
# registry_mix: four registry queries against their DuckDB oracles
# ---------------------------------------------------------------------------
QUERY_NAMES = ("minhash_near_dups", "ks_histogram_halves",
               "quality_filter_decisions", "stopword_density_en")


def _cell(v):
    if isinstance(v, float):
        return "NaN" if v != v else round(v, 9)
    if hasattr(v, "isoformat"):
        return v.isoformat()
    if type(v).__name__ == "Decimal":
        return round(float(v), 9)
    return v


def canonical(cols: list[str], rows) -> tuple:
    """Order-insensitive result value: columns sorted by name, rows sorted
    (the registry's driver comparison)."""
    idx = sorted(range(len(cols)), key=lambda i: cols[i].lower())
    out = sorted((tuple(_cell(r[i]) for i in idx) for r in rows),
                 key=lambda t: tuple(str(x) for x in t))
    return tuple(cols[i].lower() for i in idx), tuple(out)


class RegistryMix(Workload):
    """The near-dup, KS, quality-filter and stopword registry queries over
    seeded documents/events tables; bypasses the audit pipeline."""
    name = "registry_mix"

    def __init__(self, spark, seed, small, root):
        super().__init__(spark, seed, small, root)
        self.n_docs = 60 if small else 200
        self.n_events = 5000 if small else 50_000
        self.records = self.n_docs + self.n_events
        self.sf_dir = os.path.join(root, "tables")

    def sizes(self) -> dict:
        return {"documents": self.n_docs, "events": self.n_events}

    def setup(self) -> bool:
        import duckdb
        from qualityspark.queries import ORACLES
        inputs.write_tables(self.sf_dir, self.n_docs, self.n_events,
                            self.seed)
        con = duckdb.connect()
        try:
            for t in ("documents", "events"):
                con.sql(f"CREATE VIEW {t} AS SELECT * FROM "
                        f"read_parquet('{self.sf_dir}/{t}.parquet')")
            self.ref = {}
            for name in QUERY_NAMES:
                res = con.sql(ORACLES[name])
                self.ref[name] = canonical(res.columns, res.fetchall())
        finally:
            con.close()
        return self.iteration()[1]      # warm-up, checked

    def _query(self, name: str) -> tuple:
        from qualityspark.queries import QUERIES
        df = QUERIES[name](self.spark, self.sf_dir)
        return canonical(df.columns, df.collect())

    def iteration(self, labels=None) -> tuple[float, bool]:
        total, ok = 0.0, True
        self.query_s = {}
        for name in QUERY_NAMES:
            if labels is None:
                t, got = timed(self._query, name)
            else:
                t, got = labels.run(f"queries.{name}", self._query, name)
            assert_no_caches(self.spark)
            self.query_s[name] = t
            total += t
            ok = ok and got == self.ref[name]
        return total, ok

    def _neardup(self, labels) -> dict[str, float]:
        from qualityspark.rules import neardup as ND
        docs = (self.spark.read.parquet(f"{self.sf_dir}/documents.parquet")
                .filter(F.col("text").isNotNull()))
        pairs, sh = ND.lsh_candidate_pairs(docs, "doc_id", "text")
        t_sig, _ = labels.run("neardup.shingle_sig", sh.count)
        cand = pairs.count()
        a = sh.select(F.col("id").alias("id_a"), F.col("sh").alias("sh_a"))
        b = sh.select(F.col("id").alias("id_b"), F.col("sh").alias("sh_b"))
        jac = (F.size(F.array_intersect("sh_a", "sh_b")) * F.lit(1.0)
               / F.size(F.array_union("sh_a", "sh_b")))
        verified = (pairs.join(a, "id_a").join(b, "id_b")
                    .filter(jac >= 0.8).count())
        assert_no_caches(self.spark)
        return {"neardup.shingle_sig_s": t_sig,
                "neardup.candidate_pairs": float(cand),
                "neardup.verified_pairs": float(verified),
                "neardup.verify_ratio": verified / cand if cand else 0.0}

    def _plans(self) -> dict[str, float]:
        from qualityspark.queries import QUERIES
        arrow = exch = 0
        ks_exch = 0
        for name in QUERY_NAMES:
            a, e = plan_counts(QUERIES[name](self.spark, self.sf_dir))
            release_caches()
            arrow, exch = arrow + a, exch + e
            if name == "ks_histogram_halves":
                ks_exch = e
        assert_no_caches(self.spark)
        return {"plan.arrow_eval_nodes": float(arrow),
                "plan.exchanges": float(exch),
                "scalestats.ks_exchanges": float(ks_exch)}

    def _csv(self, labels) -> dict[str, float]:
        from qualityspark import csv_audit as CA
        from qualityspark import typeinfer as TI
        from qualityspark.sources import read_csv_audited
        path = os.path.join(self.root, "wide.csv")
        inputs.wide_csv(path, 50 if self.small else 200, self.seed)
        t_types, _ = timed(lambda: TI.detect_types(
            read_csv_audited(self.spark, path)))
        t_audit, rep = labels.run("csv_audit", CA.audit_csv, self.spark, path)
        sm = labels.stage_metrics(["csv_audit"])
        if rep["exit_code"] == 0:
            raise RuntimeError("csv audit exit code 0: the planted defects "
                               "went unreported")
        return {"typeinfer.detect_types_s": t_types,
                "csv_audit.audit_s": t_audit,
                "csv_audit.jobs": sm["spark.jobs"],
                "csv_audit.stages": sm["spark.stages"]}

    def trace(self, labels) -> dict[str, float]:
        t_traced, ok = self.iteration(labels)
        if not ok:
            raise RuntimeError("traced registry iteration disagrees with "
                               "the DuckDB oracle")
        m = labels.stage_metrics([f"queries.{n}" for n in QUERY_NAMES])
        for name in QUERY_NAMES:
            m[f"queries.{name}_s"] = self.query_s[name]
        m["trace.overhead_s"] = t_traced - statistics.mean(
            self.iteration()[0] for _ in range(2))
        m["scalestats.ks_jobs"] = float(
            len(labels.jobs("queries.ks_histogram_halves")))
        m.update(self._plans())
        m.update(self._neardup(labels))
        m.update(self._csv(labels))
        return m


WORKLOADS = {w.name: w for w in (WebTextRun, RegistryMix)}
