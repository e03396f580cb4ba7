"""The workloads. Each has ``prepare`` (seeded input generation, repeated to
time set-up), ``warm_up`` (start the Python workers on a small slice),
``rep`` (one timed repetition of the user-facing job followed by its output
checks; given a tracer, with layer spans) and ``layers`` (the rest of the
per-layer record, after the traced repetition).

Layer metrics are measured from outside the program: spans with a Spark
job group around each layer call, successive prefixes of the lazy plan
builders materialized to a ``noop`` sink, and in-process replays of the
scoring kernels over 2048-row batches (the session's Arrow batch size).
"""

from __future__ import annotations

import hashlib
import inspect
import os
import pickle
import shutil
import time

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from . import checks, gen
from .eventlog import Tracer

ARROW_BATCH = 2048
INPUT_FILES = 8
# the rule columns pipeline.quality.decide reads
DECIDE_INPUTS = ("n_tokens", "symbol_ratio", "digit_ratio", "dup3_frac")

# pipeline.corpus.PAGES_SCHEMA as Arrow; a UTC timestamp reads back as a Spark TIMESTAMP
PAGES_SCHEMA = pa.schema([
    ("url", pa.string()), ("warc_ts", pa.timestamp("us", tz="UTC")), ("html", pa.binary()),
    ("text", pa.string()), ("lang", pa.string()), ("row_id", pa.int64()),
])
DOC_SCHEMA = pa.schema([("doc_id", pa.int64()), ("text", pa.string())])


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _timed(tracer, name: str, fn):
    """(fn(), its wall time), run inside the span ``name``."""
    with tracer.span(name):
        out = fn()
    span = tracer.spans[-1]
    return out, span["end"] - span["start"]


def _write(path: str, columns: dict, schema: pa.Schema) -> None:
    """Write the input as INPUT_FILES parquet files with pyarrow, so inputs
    need no Spark job and a scan still gets one split per core."""
    os.makedirs(path, exist_ok=True)
    table = pa.table(columns, schema=schema)
    step = -(-table.num_rows // INPUT_FILES)
    for i in range(INPUT_FILES):
        pq.write_table(table.slice(i * step, step), os.path.join(path, f"part-{i}.parquet"))


def _sample(n: int, k: int, seed: int) -> list[int]:
    rng = np.random.default_rng(seed)
    return sorted(int(i) for i in rng.choice(n, min(k, n), replace=False))


def replay_scoring(models: dict, texts, langid=None, raw_texts=None) -> dict:
    """Replay the scoring kernels in-process over ARROW_BATCH-row batches,
    as the fused UDF runs them: langid on the raw text, then per language
    split, id-map and score on the scrubbed text. Without ``langid`` every
    row goes to the single model in ``models``."""
    from kenlm_rs_spark.lm.score import score_batch, split_texts, tokens_to_ids

    t = {"predict_batch": 0.0, "split_texts": 0.0, "tokens_to_ids": 0.0, "score_batch": 0.0}
    n_tok = n_unique = n_oov = 0
    default = sorted(models)[0]
    for lo in range(0, len(texts), ARROW_BATCH):
        batch = pd.Series(texts[lo:lo + ARROW_BATCH])
        if langid is not None:
            t0 = time.perf_counter()
            langs, _ = langid.predict_batch(raw_texts[lo:lo + ARROW_BATCH])
            t["predict_batch"] += time.perf_counter() - t0
            langs = pd.Series(langs).where(lambda s: s.isin(list(models)), default)
            parts = langs.groupby(langs).groups.items()
        else:
            parts = [(default, batch.index)]
        for lang, idx in parts:
            model = models[lang]
            t0 = time.perf_counter()
            flat, offsets = split_texts(batch.loc[idx].fillna("").tolist())
            t1 = time.perf_counter()
            ids = tokens_to_ids(model, flat)
            t2 = time.perf_counter()
            score_batch(model, ids, offsets)
            t3 = time.perf_counter()
            t["split_texts"] += t1 - t0
            t["tokens_to_ids"] += t2 - t1
            t["score_batch"] += t3 - t2
            n_tok += len(flat)
            n_unique += len(pd.unique(flat))
            n_oov += int((ids == 0).sum())
    out = {f"lm.score.{k}.s": v for k, v in t.items() if k != "predict_batch"}
    out["pipeline.langid.predict_batch.s"] = t["predict_batch"]
    out["lm.score.tokens"] = n_tok
    out["lm.score.unique_frac"] = n_unique / max(n_tok, 1)
    out["lm.score.oov_frac"] = n_oov / max(n_tok, 1)
    return out


class Workload:
    docs = 0  # input docs per repetition

    def __init__(self, spark, work: str, seed: int, root: str):
        self.spark, self.work, self.seed, self.root = spark, work, seed, root
        self.sc = spark.sparkContext

    def path(self, name: str) -> str:
        return os.path.join(self.work, name)

    def scan_markers(self) -> dict:
        return {}

    def event_metrics(self, groups: dict) -> dict:
        return {}


# ---------------------------------------------------------------- filter_web

class FilterWeb(Workload):
    """``run_filter_job`` with its defaults over seeded web pages, then
    ``lsh_jaccard_dedup`` and ``dedup_clusters`` over the pages it keeps."""

    docs = 4000
    warm_rows = 400
    traced_groups = ["pipeline.filter_job.run_filter_job", "job:dedup"]

    def prepare(self):
        self.rows = gen.web_pages(self.seed, self.docs)
        _write(self.path("pages"), {k: [r[k] for r in self.rows] for k in PAGES_SCHEMA.names},
               PAGES_SCHEMA)

    @property
    def lm_dir(self):
        return os.path.join(self.root, "fixtures", "lms")

    def _cuts(self, pages, fused, thresholds, partitions):
        """Successive prefixes of the job's per-chunk plan, in
        run_filter_job's order, over the rows of ``pages``."""
        from kenlm_rs_spark.pipeline.extract import with_extracted_text
        from kenlm_rs_spark.pipeline.filter_job import OUTPUT_COLUMNS
        from kenlm_rs_spark.pipeline.quality import decide, rule_columns, with_buckets
        from kenlm_rs_spark.pipeline.scrub import scrub_text

        cuts = [("pipeline.filter_job.scan", pages)]
        cuts.append(("pipeline.extract", with_extracted_text(cuts[-1][1])))
        cuts.append(("pipeline.filter_job.repartition",
                     cuts[-1][1].repartition(partitions, F.xxhash64("url"))))
        cuts.append(("pipeline.scrub", cuts[-1][1].withColumn("text_scrubbed", scrub_text(F.col("text")))))
        cuts.append(("pipeline.quality.rules", rule_columns(cuts[-1][1], text_col="text_scrubbed")))
        scored = (
            cuts[-1][1].withColumn("ls", fused(F.col("text"), F.col("text_scrubbed")))
            .withColumn("lang_pred", F.col("ls.lang"))
            .withColumn("lang_conf", F.col("ls.lang_conf"))
            .select("*", "ls.log10_prob", "ls.tokens", "ls.oov", "ls.ppl")
            .drop("ls")
        )
        scored = decide(with_buckets(scored, thresholds, lang_col="lang_pred", ppl_col="ppl"))
        cuts.append(("spark.scoring.udf", scored.select(*OUTPUT_COLUMNS)))
        # each cut keeps only the columns the finished plan reads from it, so
        # the noop sink does no work that column pruning removes from the job
        keep = {"url", "warc_ts", "text", "text_scrubbed", *DECIDE_INPUTS, *OUTPUT_COLUMNS}
        return [(name, df.select(*[c for c in df.columns if c in keep or i == 0 and c == "html"]))
                for i, (name, df) in enumerate(cuts)]

    def warm_up(self):
        """Load the models and langid and run the fused Arrow stage over a
        slice: starts the Python workers and loads the models into them."""
        from kenlm_rs_spark.lm.model import NGramModel
        from kenlm_rs_spark.pipeline.extract import with_extracted_text
        from kenlm_rs_spark.pipeline.filter_job import load_language_models
        from kenlm_rs_spark.pipeline.langid import default_langid
        from kenlm_rs_spark.pipeline.scrub import scrub_text
        from kenlm_rs_spark.spark.scoring import make_langid_score_udf

        self.models = {
            fn.rsplit(".", 1)[0]: NGramModel.load(os.path.join(self.lm_dir, fn))
            for fn in sorted(os.listdir(self.lm_dir)) if fn.endswith(".arpa")
        }
        bc_langid = self.sc.broadcast(default_langid())
        bc_models = load_language_models(self.spark, self.lm_dir)
        fused = make_langid_score_udf(bc_langid, bc_models)
        part = self.spark.read.parquet(self.path("pages")).limit(self.warm_rows) \
            .repartition(self.sc.defaultParallelism)
        part = with_extracted_text(part).withColumn("text_scrubbed", scrub_text(F.col("text")))
        _noop(part.withColumn("ls", fused(F.col("text"), F.col("text_scrubbed"))))
        for bc in [bc_langid, *bc_models.values()]:
            bc.unpersist()
        self.digest = None

    def _run_job(self, out: str, tracer=None):
        from kenlm_rs_spark.ops.components import dedup_clusters
        from kenlm_rs_spark.ops.dedup import lsh_jaccard_dedup
        from kenlm_rs_spark.pipeline.filter_job import run_filter_job

        tracer = tracer or Tracer()
        with tracer.span("pipeline.filter_job.run_filter_job"):
            totals = run_filter_job(self.spark, self.spark.read.parquet(self.path("pages")), out, self.lm_dir)
        with tracer.span("job:dedup"):
            kept = self.spark.read.parquet(out).filter(F.col("keep")).select("url", "text_scrubbed")
            # the pair table is kept, as a caller keeping both outputs would;
            # clustering reads it once, the output check reads it again
            pairs = lsh_jaccard_dedup(kept, "url", "text_scrubbed").persist()
            clusters = [tuple(r) for r in dedup_clusters(pairs).collect()]
        pairs.cached_deps.append(pairs)
        return totals, pairs, clusters

    def rep(self, i: int, tracer=None):
        out = self.path(f"filter-out-{i}")
        t0 = time.perf_counter()
        totals, pairs, clusters = self._run_job(out, tracer)
        wall = time.perf_counter() - t0
        pair_rows = [tuple(r) for r in pairs.collect()]
        for d in pairs.cached_deps:
            d.unpersist()
        errors = self._check(out, totals, i) + self._check_dedup(out, pair_rows, clusters, i)
        if tracer is None:
            shutil.rmtree(out, ignore_errors=True)
        else:
            # the layers read the traced job's output and pair count
            self.traced_out, self.traced_edges = out, len(pair_rows)
        return wall, errors

    def _check_dedup(self, out, pair_rows, clusters, i):
        kept = pq.read_table(out, columns=["url", "keep", "text_scrubbed"]).to_pylist()
        texts = {r["url"]: r["text_scrubbed"] for r in kept if r["keep"]}
        errors = checks.check_dedup(pair_rows, clusters, texts,
                                    _sample(len(pair_rows), 64, self.seed * 1000 + i))
        if not pair_rows:
            errors.append("no near-duplicate pairs among the kept pages")
        return errors

    def _check(self, out, totals, i):
        errors = []
        if totals["docs"] != self.docs:
            errors.append(f"job reports {totals['docs']} docs, input has {self.docs}")
        rows = pq.read_table(out, columns=[
            "url", "keep", "drop_reason", "text_scrubbed", "lang_pred",
            "log10_prob", "tokens", "oov", "ppl"]).to_pylist()
        if len(rows) != self.docs:
            errors.append(f"output has {len(rows)} rows, input has {self.docs}")
        rows.sort(key=lambda r: r["url"])
        sample = [rows[j] for j in _sample(len(rows), 48, self.seed * 1000 + i)]
        errors += checks.check_scores(sample, self.models, sorted(self.models)[0], "lang_pred")
        digest = checks.decision_digest(rows)
        if self.digest is None:
            self.digest = digest
        elif digest != self.digest:
            errors.append("(url, keep, drop_reason) differs from the first repetition")
        return errors

    def layers(self, tracer, m: dict) -> None:
        from kenlm_rs_spark.pipeline.extract import extract_text_py, with_extracted_text
        from kenlm_rs_spark.pipeline.filter_job import (THRESHOLD_SAMPLE_TARGET, load_language_models,
                                                        run_filter_job)
        from kenlm_rs_spark.pipeline.langid import default_langid
        from kenlm_rs_spark.pipeline.quality import ppl_thresholds
        from kenlm_rs_spark.pipeline.scrub import scrub_text
        from kenlm_rs_spark.spark.scoring import make_langid_score_udf

        m.update(self._dedup_layers(tracer))
        # the job's own steps, re-run one at a time
        self.spark.catalog.clearCache()
        pages = self.spark.read.parquet(self.path("pages"))

        def load():
            return self.sc.broadcast(default_langid()), load_language_models(self.spark, self.lm_dir)

        (bc_langid, bc_models), t_load = _timed(tracer, "cut:pipeline.filter_job.load_models", load)
        fused = make_langid_score_udf(bc_langid, bc_models)

        def thresholds():
            frac = min(1.0, THRESHOLD_SAMPLE_TARGET / max(pages.count(), 1))
            sample = pages if frac >= 1.0 else pages.sample(frac, seed=42)
            sample = with_extracted_text(sample)
            sample = sample.withColumn("text_scrubbed", scrub_text(F.col("text")))
            sample = sample.withColumn("ls", fused(F.col("text"), F.col("text_scrubbed"))).select(
                "*", F.col("ls.lang").alias("lang_pred"), F.col("ls.ppl").alias("ppl"))
            return ppl_thresholds(sample, lang_col="lang_pred", ppl_col="ppl", exact=False, rel_err=1e-4)

        thr, t_thr = _timed(tracer, "cut:pipeline.quality.thresholds", thresholds)
        m["pipeline.filter_job.load_models.s"] = t_load
        m["pipeline.quality.thresholds.s"] = t_thr
        attributed = t_load + t_thr + tracer.wall("job:dedup")

        # the chunk loop as the job runs it: the same chunk filter, then per
        # chunk successive plan prefixes to noop, the parquet write and the
        # read-back aggregates; increments are summed over the chunks
        n_chunks = inspect.signature(run_filter_job).parameters["n_chunks"].default
        partitions = int(self.spark.conf.get("spark.sql.shuffle.partitions"))
        written = self.path("cut-out")
        for k in range(n_chunks):
            chunk = pages.filter(F.pmod(F.xxhash64(F.col("url")), F.lit(n_chunks)) == k)
            cuts = self._cuts(chunk, fused, thr, partitions)
            prev = 0.0
            for name, df in cuts:
                _, t = _timed(tracer, f"cut:{name}", lambda: _noop(df))
                m[f"{name}.s"] = m.get(f"{name}.s", 0.0) + t - prev
                prev = t
            path = os.path.join(written, f"chunk={k}")
            _, t_write = _timed(tracer, "cut:sink.parquet",
                                lambda: cuts[-1][1].write.mode("overwrite").parquet(path))
            m["sink.parquet.s"] = m.get("sink.parquet.s", 0.0) + t_write - prev

            def chunk_metrics():
                w = self.spark.read.parquet(path)
                w.agg(F.count("*"), F.sum(F.col("keep").cast("int")),
                      F.sum((F.col("text_scrubbed") != F.lit("")).cast("int"))).collect()
                w.filter(~F.col("keep")).groupBy("drop_reason").agg(F.count("*")).collect()

            _, t_metrics = _timed(tracer, "cut:pipeline.filter_job.chunk_metrics", chunk_metrics)
            m["pipeline.filter_job.chunk_metrics.s"] = m.get("pipeline.filter_job.chunk_metrics.s", 0.0) + t_metrics
            attributed += t_write + t_metrics
        shutil.rmtree(written, ignore_errors=True)
        for bc in [bc_langid, *bc_models.values()]:
            bc.unpersist()
        m["trace.attributed_s"] = attributed

        # kernel replays over the traced run's own rows
        scored_rows = pq.read_table(self.traced_out, columns=["url", "text_scrubbed"]).to_pylist()
        shutil.rmtree(self.traced_out, ignore_errors=True)
        by_url = {r["url"]: r for r in self.rows}
        raw = []
        for r in scored_rows:
            page = by_url[r["url"]]
            raw.append(page["text"] if page["text"] is not None else extract_text_py(page["html"]))
        m.update(replay_scoring(self.models, [r["text_scrubbed"] for r in scored_rows],
                                langid=default_langid(), raw_texts=raw))

    def _dedup_layers(self, tracer) -> dict:
        """The pair table alone to noop; clustering is the rest of the dedup span."""
        from kenlm_rs_spark.ops.dedup import lsh_jaccard_dedup, minhash_lsh_pairs

        self.spark.catalog.clearCache()
        kept = self.spark.read.parquet(self.traced_out).filter(F.col("keep")).select("url", "text_scrubbed")
        with tracer.span("cut:ops.dedup.lsh_jaccard_dedup"):
            pairs = lsh_jaccard_dedup(kept, "url", "text_scrubbed")
            _noop(pairs)
        with tracer.span("cut:ops.dedup.candidates"):
            cand = minhash_lsh_pairs(kept, "url", "text_scrubbed", 3, 8, 4).count()
        for d in pairs.cached_deps:
            d.unpersist()
        edges = self.traced_edges
        lsh = tracer.wall("cut:ops.dedup.lsh_jaccard_dedup")
        return {
            "ops.dedup.lsh_jaccard_dedup.s": lsh,
            "ops.components.dedup_clusters.s": tracer.wall("job:dedup") - lsh,
            "ops.dedup.candidate_pairs": cand,
            "ops.dedup.verified_frac": edges / max(cand, 1),
            "ops.components.edges": edges,
        }

    def scan_markers(self) -> dict:
        return {"pages": self.path("pages") + "]"}

    def event_metrics(self, groups: dict) -> dict:
        from .eventlog import total

        rr = total(groups, self.traced_groups)["records_read"]
        return {"pipeline.filter_job.scan_amplification": rr.get("pages", 0) / self.docs}


# ---------------------------------------------------------------- lm_build

class LmBuild(Workload):
    """lmplz order 3 over a large-vocabulary corpus to an ARPA file, then
    read_arpa + from_arpa, broadcast, and score_with_model over held-out
    documents."""

    n_train = 200
    n_heldout = 2000
    docs = n_train + n_heldout
    order = 3
    warm_rows = 400
    rep_spans = ["builder.lmplz", "lm.arpa.read_arpa", "lm.model.from_arpa",
                 "spark.broadcast", "spark.scoring.score_with_model"]
    traced_groups = rep_spans

    def prepare(self):
        self.train = gen.vocab_docs(self.seed, self.n_train)
        self.heldout = gen.heldout_docs(self.seed, self.train, self.n_heldout)
        _write(self.path("train"), {"text": self.train}, pa.schema([("text", pa.string())]))
        _write(self.path("heldout"), {"doc_id": range(self.n_heldout), "text": self.heldout}, DOC_SCHEMA)

    def warm_up(self):
        """The read side on a slice with a fixture model: starts the Python
        workers. lmplz runs cold in the timed repetition, as a build does
        when it is launched."""
        from kenlm_rs_spark.lm.arpa import read_arpa
        from kenlm_rs_spark.lm.model import NGramModel
        from kenlm_rs_spark.spark.scoring import score_with_model

        bc = self.sc.broadcast(NGramModel.from_arpa(read_arpa(
            os.path.join(self.root, "fixtures", "lms", "en.arpa"))))
        part = self.spark.read.parquet(self.path("heldout")).limit(self.warm_rows) \
            .repartition(self.sc.defaultParallelism)
        _noop(score_with_model(part, bc))
        bc.unpersist()
        self.md5 = None

    def _rep(self, i, tracer):
        from kenlm_rs_spark.builder.lmplz import estimate_arpa_to_path
        from kenlm_rs_spark.lm.arpa import read_arpa
        from kenlm_rs_spark.lm.model import NGramModel
        from kenlm_rs_spark.spark.scoring import score_with_model

        arpa, scored = self.path(f"lm-{i}.arpa"), self.path(f"scored-{i}")
        with tracer.span("builder.lmplz"):
            counts = estimate_arpa_to_path(self.spark.read.parquet(self.path("train")), arpa, order=self.order)
        with tracer.span("lm.arpa.read_arpa"):
            sections = read_arpa(arpa)
        with tracer.span("lm.model.from_arpa"):
            model = NGramModel.from_arpa(sections)
        with tracer.span("spark.broadcast"):
            bc = self.sc.broadcast(model)
        with tracer.span("spark.scoring.score_with_model"):
            score_with_model(self.spark.read.parquet(self.path("heldout")), bc) \
                .select("doc_id", "lm.*").write.mode("overwrite").parquet(scored)
        bc.unpersist(blocking=True)
        bc.destroy()
        return arpa, scored, counts, model

    def rep(self, i: int, tracer=None):
        t0 = time.perf_counter()
        arpa, scored, counts, model = self._rep(i, tracer or Tracer())
        wall = time.perf_counter() - t0
        errors = self._check(arpa, scored, counts, model, i)
        if tracer is not None:
            # what the layers need from the traced repetition
            self.model, self.counts = model, counts
            self.scored_tokens = int(pq.read_table(scored, columns=["tokens"]).column("tokens")
                                     .to_numpy().sum())
        os.remove(arpa)
        shutil.rmtree(scored, ignore_errors=True)
        return wall, errors

    def _check(self, arpa, scored, counts, model, i):
        errors = []
        with open(arpa, "rb") as f:
            md5 = hashlib.md5(f.read()).hexdigest()
        if self.md5 is None:
            self.md5 = md5
        elif md5 != self.md5:
            errors.append("ARPA bytes differ from the first repetition of this seed")
        errors += checks.check_arpa(arpa, counts)
        errors += checks.check_normalization(arpa, 3, self.seed)
        rows = pq.read_table(scored).to_pylist()
        if len(rows) != self.n_heldout:
            errors.append(f"{len(rows)} scored rows, {self.n_heldout} held-out docs")
        sample = [dict(rows[j], text=self.heldout[rows[j]["doc_id"]])
                  for j in _sample(len(rows), 32, self.seed * 1000 + i)]
        errors += checks.check_scores(sample, {"lm": model})
        return errors

    def layers(self, tracer, m: dict) -> None:
        from kenlm_rs_spark.builder import lmplz
        from kenlm_rs_spark.spark.scoring import score_with_model

        m["builder.lmplz.s"] = tracer.wall("builder.lmplz")
        for s in ("lm.arpa.read_arpa", "lm.model.from_arpa", "spark.broadcast"):
            m[f"{s}.s"] = tracer.wall(s)
        for n, c in self.counts.items():
            m[f"builder.lmplz.ngrams.{n}"] = c
        m["lm.model.pickle_mb"] = len(pickle.dumps(self.model, protocol=pickle.HIGHEST_PROTOCOL)) / 1e6
        m["spark.scoring.tokens_per_s"] = self.scored_tokens / tracer.wall("spark.scoring.score_with_model")

        # lmplz steps as estimate_df chains them: raw counts and adjusted
        # counts are lazy, the prune-flagged table is cached, the discount
        # job reads that cache, then the initial probabilities
        self.spark.catalog.clearCache()
        train = self.spark.read.parquet(self.path("train"))
        order = self.order

        def cut(name, fn):
            return _timed(tracer, f"cut:builder.lmplz.{name}", fn)

        raw = lmplz.raw_window_counts(train, "text", order)
        adjusted = lmplz.adjusted_counts(raw, order)
        adj = lmplz.with_prune_flags(adjusted, raw, order, None, None).cache()
        _, t_raw = cut("raw_counts", lambda: _noop(raw))
        _, t_adjust = cut("adjust", lambda: _noop(adjusted))
        _, t_flags = cut("prune_flags", adj.count)
        (discounts, _), t_disc = cut("discounts", lambda: lmplz._discount_and_vocab_stats(adj, order))
        initial = lmplz.initial_probabilities(adj, discounts, order)
        _, t_init = cut("initial_probs", lambda: [df.cache().count() for df in initial])
        for df in initial:
            df.unpersist()
        # the whole model as estimate_arpa_to_path materializes it; Spark's
        # cache manager hands it the cached flagged table, so it re-runs the
        # discount job and the initial probabilities, then interpolates
        def model_table():
            table = lmplz.estimate_df(train, "text", order).persist()
            table.groupBy("n").agg(F.count("*")).collect()
            return table

        table, t_model = cut("model", model_table)
        # the ARPA emit alone: estimate_arpa_to_path with estimate_df
        # answered by the materialized table
        real_estimate_df = lmplz.estimate_df
        lmplz.estimate_df = lambda *a, **k: table
        try:
            _, t_emit = cut("arpa_emit", lambda: lmplz.estimate_arpa_to_path(
                train, self.path("lm-emit.arpa"), order=order))
        finally:
            lmplz.estimate_df = real_estimate_df
        os.remove(self.path("lm-emit.arpa"))
        adj.unpersist()
        self.spark.catalog.clearCache()
        m["builder.lmplz.raw_counts.s"] = t_raw
        m["builder.lmplz.adjust.s"] = t_adjust - t_raw
        m["builder.lmplz.prune_flags.s"] = t_flags - t_adjust
        m["builder.lmplz.discounts.s"] = t_disc
        m["builder.lmplz.initial_probs.s"] = t_init
        m["builder.lmplz.interpolate.s"] = t_model - t_disc - t_init
        m["builder.lmplz.arpa_emit.s"] = t_emit
        m["trace.attributed_s"] = t_flags + t_model + t_emit + sum(
            tracer.wall(s) for s in self.rep_spans if s != "builder.lmplz")

        heldout = self.spark.read.parquet(self.path("heldout"))
        bc = self.sc.broadcast(self.model)
        with tracer.span("cut:spark.scoring.scan"):
            _noop(heldout)
        with tracer.span("cut:spark.scoring.udf"):
            _noop(score_with_model(heldout, bc))
        bc.unpersist(blocking=True)
        m["spark.scoring.udf.s"] = tracer.wall("cut:spark.scoring.udf") - tracer.wall("cut:spark.scoring.scan")
        m.update(replay_scoring({"lm": self.model}, self.heldout))


WORKLOADS = {"filter_web": FilterWeb, "lm_build": LmBuild}
