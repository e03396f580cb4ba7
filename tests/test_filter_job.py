"""run_filter_job end-to-end: totals, lineage markers, and the kill-and-
rerun resumability target from BASELINE.md §3 ('restart skips completed
partitions; counters consistent'), including the r02 count-verified markers
(a corrupt/premature marker forces recomputation instead of silent skip)."""

from __future__ import annotations

import json
import os
from collections import Counter

import pyarrow.parquet as pq
import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
LM_DIR = os.path.join(REPO, "fixtures", "lms")
N_DOCS = 400
CHUNKS = 3


@pytest.fixture(scope="module")
def pages(spark):
    from kenlm_rs_spark.pipeline.corpus import generate_pages_df

    return generate_pages_df(spark, N_DOCS).cache()


def _chunk_rows(out, k):
    from kenlm_rs_spark.pipeline.filter_job import OUTPUT_COLUMNS

    rows = pq.read_table(os.path.join(out, f"chunk={k}"), columns=OUTPUT_COLUMNS).to_pylist()
    return Counter(tuple(r[c] for c in OUTPUT_COLUMNS) for r in rows)


def _run(spark, pages, out):
    from kenlm_rs_spark.pipeline.filter_job import run_filter_job

    return run_filter_job(spark, pages, out, LM_DIR, n_chunks=CHUNKS)


def _with_dups_and_spam(spark, pages):
    """``pages`` plus a re-crawl of every row_id%10==0 page (tracking-param
    + fragment variants of the same canonical URL, one day later) and 5
    pages of the domain spamdomain.net."""
    import datetime as dt

    from pyspark.sql import functions as F

    dups = (
        pages.filter(F.col("row_id") % 10 == 0)
        .withColumn("url", F.concat("url", F.lit("?utm_source=feed#frag")))
        .withColumn("warc_ts", F.col("warc_ts") + F.expr("INTERVAL 1 DAY"))
        .withColumn("row_id", F.col("row_id") + 1_000_000)
    )
    spam = spark.createDataFrame(
        [
            (
                f"https://bad.spamdomain.net/p{i}",
                dt.datetime(2025, 3, 1, 0, 0, i),
                b"<html><body><p>spam spam</p></body></html>",
                "spam text entirely here " * 10,
                "en",
                2_000_000 + i,
            )
            for i in range(5)
        ],
        pages.schema,
    )
    return pages.unionByName(dups).unionByName(spam)


def test_filter_job_totals_and_lineage(spark, pages, tmp_path):
    out = str(tmp_path / "out")
    t = _run(spark, pages, out)
    assert t["docs"] == N_DOCS
    assert 0 < t["kept"] < N_DOCS
    assert sum(t["by_reason"].values()) == N_DOCS - t["kept"]
    # per-chunk lineage markers with versions
    for k in range(CHUNKS):
        m = json.load(open(os.path.join(out, f"_chunk_{k}.json")))
        assert set(m["versions"]) == {"job", "extractor", "rules"}
        n_written = spark.read.parquet(os.path.join(out, f"chunk={k}")).count()
        assert n_written == m["docs"]
    assert os.path.exists(os.path.join(out, "_thresholds.json"))
    assert os.path.exists(os.path.join(out, "_metrics.json"))
    # scrub hits: pages whose extracted text the scrub changed, counted in
    # Python over the written rows against the extracted input text
    from kenlm_rs_spark.pipeline.extract import with_extracted_text

    text = {r["url"]: r["text"] for r in with_extracted_text(pages).select("url", "text").collect()}
    written = pq.read_table(out, columns=["url", "text_scrubbed"]).to_pylist()
    changed = sum(
        r["text_scrubbed"] is not None and text[r["url"]] is not None
        and r["text_scrubbed"] != text[r["url"]]
        for r in written
    )
    assert changed > 0
    assert t["scrub_docs_changed"] == changed
    assert sum(
        json.load(open(os.path.join(out, f"_chunk_{k}.json")))["scrub_docs_changed"]
        for k in range(CHUNKS)
    ) == changed


def test_filter_job_default_thresholds_are_scale_safe(spark, tmp_path):
    """VERDICT r2 item 2: the production job must default to the approx
    (t-digest) threshold path — exact F.percentile buffers every ppl of a
    language group on one executor, an OOM at 10^12 docs — and the keep/drop
    decisions under that default must still hit F1 >= 0.99 vs the frozen
    reference labels (fixtures/expected, 1000 pages seed 42)."""
    import pyspark.sql.functions as F

    from kenlm_rs_spark.pipeline.corpus import generate_pages_df

    exp_path = os.path.join(REPO, "fixtures", "expected", "expected.parquet")
    if not os.path.exists(exp_path):
        pytest.skip("expected fixtures not frozen")
    out = str(tmp_path / "out_safe")
    pages1k = generate_pages_df(spark, 1000)
    from kenlm_rs_spark.pipeline.filter_job import run_filter_job

    run_filter_job(spark, pages1k, out, LM_DIR, n_chunks=2)

    lineage = json.load(open(os.path.join(out, "_thresholds_lineage.json")))
    assert lineage["exact"] is False  # approx path actually taken
    assert 0 < lineage["sample_fraction"] <= 1.0

    got = spark.read.parquet(os.path.join(out, "chunk=*")).select(
        "url", F.col("keep").alias("keep_got")
    )
    exp = spark.read.parquet(exp_path).select("url", "keep")
    j = exp.join(got, "url", "inner").cache()
    assert j.count() == 1000
    tp = j.filter("keep and keep_got").count()
    fp = j.filter("not keep and keep_got").count()
    fn = j.filter("keep and not keep_got").count()
    precision = tp / max(tp + fp, 1)
    recall = tp / max(tp + fn, 1)
    f1 = 2 * precision * recall / max(precision + recall, 1e-12)
    assert f1 >= 0.99, f"keep/drop F1 {f1:.4f} under approx thresholds"


def test_filter_job_resume_skips_and_verifies(spark, pages, tmp_path):
    out = str(tmp_path / "out2")
    t1 = _run(spark, pages, out)

    # clean rerun: all chunks skipped, totals identical, outputs untouched
    mtimes = {
        k: os.path.getmtime(os.path.join(out, f"chunk={k}", "_SUCCESS"))
        for k in range(CHUNKS)
    }
    t2 = _run(spark, pages, out)
    assert (t2["docs"], t2["kept"], t2["by_reason"]) == (
        t1["docs"], t1["kept"], t1["by_reason"]
    )
    for k in range(CHUNKS):
        assert os.path.getmtime(os.path.join(out, f"chunk={k}", "_SUCCESS")) == mtimes[k]

    # simulated crash: marker exists but its count does not match the
    # written parquet -> that chunk must be recomputed, not trusted. The
    # recompute reads the thresholds from _thresholds.json, so it scores
    # chunk 1 in its own plan: its rows must equal the first run's, which
    # were cut from the persisted scored pages
    rows_1 = _chunk_rows(out, 1)
    marker = os.path.join(out, "_chunk_1.json")
    m = json.load(open(marker))
    bad = dict(m)
    bad["docs"] = m["docs"] + 5
    bad["kept"] = 0
    json.dump(bad, open(marker, "w"))
    t3 = _run(spark, pages, out)
    assert (t3["docs"], t3["kept"], t3["by_reason"]) == (
        t1["docs"], t1["kept"], t1["by_reason"]
    )
    assert t3["scrub_docs_changed"] == t1["scrub_docs_changed"]
    # the marker was rewritten with the true counts
    m2 = json.load(open(marker))
    assert m2["docs"] == m["docs"] and m2["kept"] == m["kept"]
    assert m2["by_reason"] == m["by_reason"]
    assert _chunk_rows(out, 1) == rows_1


def test_bucket_resample_deterministic_and_calibrated(spark, pages):
    """CCNet resampling over REAL pipeline buckets: decisions are a pure
    function of (seed, url) — identical across reruns and partitionings —
    and per-bucket keep rates track the weights on a big synthetic sample."""
    import pyspark.sql.functions as F

    from kenlm_rs_spark.pipeline.corpus import generate_pages_df
    from kenlm_rs_spark.pipeline.quality import bucket_resample

    n = 6000
    big = generate_pages_df(spark, n).select("url")
    # synthetic bucket from the url hash (uniform thirds) — exercises the
    # operator; the ppl-bucket composition runs in the driver-gate queries
    b = F.element_at(
        F.array(F.lit("head"), F.lit("middle"), F.lit("tail")),
        (F.pmod(F.xxhash64("url"), F.lit(3)) + 1).cast("int"),
    )
    df = big.withColumn("bucket", b)
    weights = {"head": 0.9, "middle": 0.5, "tail": 0.1}
    kept1 = bucket_resample(df, weights, key_col="url").cache()
    kept2 = bucket_resample(df.repartition(17), weights, key_col="url")
    # determinism under repartitioning
    assert kept1.count() == kept2.count()
    assert kept1.join(kept2.select("url"), "url", "left_anti").count() == 0
    # calibration: empirical keep rate within 5pp of the weight per bucket
    tot = {r["bucket"]: r["c"] for r in df.groupBy("bucket").agg(F.count("*").alias("c")).collect()}
    kept = {r["bucket"]: r["c"] for r in kept1.groupBy("bucket").agg(F.count("*").alias("c")).collect()}
    for name, w in weights.items():
        rate = kept.get(name, 0) / tot[name]
        assert abs(rate - w) < 0.05, (name, rate, w)


def test_chunk_markers_carry_snapshot_manifest(spark, pages, tmp_path):
    """Each chunk marker carries the Iceberg-manifest analogue: per-file
    bytes + footer row counts that sum to the chunk doc count; tampering
    with a data file (not just the marker) forces recomputation."""
    out = str(tmp_path / "out_manifest")
    t1 = _run(spark, pages, out)
    m = json.load(open(os.path.join(out, "_chunk_0.json")))
    assert m["manifest"], "manifest missing"
    assert sum(f["rows"] for f in m["manifest"]) == m["docs"]
    for f in m["manifest"]:
        full = os.path.join(out, "chunk=0", f["file"])
        assert os.path.getsize(full) == f["bytes"]

    # corrupt a data file: footer-level resume verification must catch it
    victim = os.path.join(out, "chunk=0", m["manifest"][0]["file"])
    os.remove(victim)
    t2 = _run(spark, pages, out)
    assert (t2["docs"], t2["kept"]) == (t1["docs"], t1["kept"])
    m2 = json.load(open(os.path.join(out, "_chunk_0.json")))
    assert sum(f["rows"] for f in m2["manifest"]) == m2["docs"]


def test_filter_job_optin_stages_compose(spark, pages, tmp_path):
    """The opt-in stages (Gopher rules, decontamination, bucket resampling)
    compose on top of the frozen CCNet decision: CCNet reasons unchanged,
    new drops attributed to 'gopher:<rule>' / 'contaminated' /
    'resampled_out', stage config recorded in chunk lineage, and the default
    (all-off) run unaffected."""
    import pyspark.sql.functions as F

    from kenlm_rs_spark.pipeline.filter_job import run_filter_job

    base_out = str(tmp_path / "base")
    t_base = run_filter_job(spark, pages, base_out, LM_DIR, n_chunks=2)

    bench = pages.limit(3).select("url", F.col("text").alias("text"))
    # benchmark texts are raw page html/text; use extracted text instead:
    from kenlm_rs_spark.pipeline.extract import with_extracted_text

    bench = with_extracted_text(pages.limit(3)).select("text")

    out = str(tmp_path / "staged")
    t = run_filter_job(
        spark, pages, out, LM_DIR, n_chunks=2,
        gopher=True,
        resample_weights={"head": 0.5, "middle": 0.5, "tail": 0.5},
        decontaminate_benchmark=bench,
    )
    assert t["docs"] == t_base["docs"] == N_DOCS
    # staged run can only drop MORE than the base run
    assert t["kept"] <= t_base["kept"]
    # every base CCNet reason count is preserved exactly (stages only touch
    # docs the CCNet chain kept)
    for reason, cnt in t_base["by_reason"].items():
        assert t["by_reason"].get(reason) == cnt, (reason, cnt, t["by_reason"])
    new_reasons = set(t["by_reason"]) - set(t_base["by_reason"])
    assert any(r.startswith("gopher:") or r in ("contaminated", "resampled_out")
               for r in new_reasons), t["by_reason"]
    m = json.load(open(os.path.join(out, "_chunk_0.json")))
    assert m["stages"] == {
        "gopher": True,
        "resample_weights": {"head": 0.5, "middle": 0.5, "tail": 0.5},
        "decontaminate": True,
        "blocklist": False,
        "url_dedup": False,
        "classifier_prefilter": None,
    }
    # resumability with stages on: rerun skips everything, totals identical
    t2 = run_filter_job(
        spark, pages, out, LM_DIR, n_chunks=2,
        gopher=True,
        resample_weights={"head": 0.5, "middle": 0.5, "tail": 0.5},
        decontaminate_benchmark=bench,
    )
    assert (t2["docs"], t2["kept"], t2["by_reason"]) == (
        t["docs"], t["kept"], t["by_reason"]
    )


def test_filter_job_url_dedup_and_blocklist(spark, pages, tmp_path):
    """r4 early-drop stages: canonical-URL crawl dedup (earliest warc_ts
    wins; chunking switches to the canonical url hash so duplicate families
    co-locate) and broadcast domain blocklisting — both applied on the url
    column BEFORE extraction/scoring, so dropped rows carry null scoring
    columns in the output."""
    from pyspark.sql import functions as F

    from kenlm_rs_spark.pipeline.filter_job import run_filter_job

    all_pages = _with_dups_and_spam(spark, pages)
    n_dups = N_DOCS // 10
    assert all_pages.count() == N_DOCS + n_dups + 5
    bl = spark.createDataFrame([("SpamDomain.NET",)], "domain string")

    out = str(tmp_path / "out_urls")
    t = run_filter_job(
        spark, all_pages, out, LM_DIR, n_chunks=2,
        blocklist_domains=bl, url_dedup=True,
    )
    assert t["docs"] == N_DOCS + n_dups + 5
    assert t["by_reason"].get("url_duplicate") == n_dups
    assert t["by_reason"].get("blocked_domain") == 5

    written = spark.read.parquet(os.path.join(out, "chunk=0")).unionByName(
        spark.read.parquet(os.path.join(out, "chunk=1"))
    )
    early = written.filter(
        F.col("drop_reason").isin("url_duplicate", "blocked_domain")
    )
    # early-dropped rows never reached scoring: null scoring columns
    assert early.filter(F.col("ppl").isNotNull()).count() == 0
    assert early.filter(F.col("lang_pred").isNotNull()).count() == 0
    # every duplicate's ORIGINAL survived the dedup (and was scored)
    originals = written.join(
        early.filter(F.col("drop_reason") == "url_duplicate").select(
            F.regexp_replace("url", r"\?utm_source=feed#frag$", "").alias("url")
        ),
        "url",
    )
    assert originals.count() == n_dups
    assert originals.filter(F.col("drop_reason") == "url_duplicate").count() == 0
    m = json.load(open(os.path.join(out, "_chunk_0.json")))
    assert m["stages"]["blocklist"] is True and m["stages"]["url_dedup"] is True


def test_filter_job_classifier_prefilter(spark, pages, tmp_path):
    """r4: the classifier prefilter drops low-logit docs BEFORE the Arrow
    scoring stage ('classifier_low', null scoring columns) and only affects
    docs the classifier scores below the threshold — the kept side's
    decisions are unchanged vs a run without the prefilter."""
    from pyspark.sql import functions as F

    from kenlm_rs_spark.pipeline.filter_job import run_filter_job

    base_out = str(tmp_path / "out_base")
    t_base = run_filter_job(spark, pages, base_out, LM_DIR, n_chunks=2)

    out = str(tmp_path / "out_clf")
    t = run_filter_job(
        spark, pages, out, LM_DIR, n_chunks=2, classifier_prefilter=-1.0
    )
    assert t["docs"] == t_base["docs"] == N_DOCS
    n_low = t["by_reason"].get("classifier_low", 0)
    assert n_low > 0, "threshold -1.0 must drop some gibberish/repetitive docs"

    written = spark.read.parquet(os.path.join(out, "chunk=*"))
    low = written.filter(F.col("drop_reason") == "classifier_low")
    assert low.count() == n_low
    assert low.filter(F.col("ppl").isNotNull()).count() == 0
    # survivors' decisions identical to the no-prefilter run
    base = spark.read.parquet(os.path.join(base_out, "chunk=*")).select(
        "url", F.col("keep").alias("keep_base"), F.col("drop_reason").alias("dr_base")
    )
    survivors = written.filter(F.col("drop_reason").isNull() | (F.col("drop_reason") != "classifier_low"))
    j = survivors.join(base, "url")
    assert j.count() == N_DOCS - n_low
    assert j.filter(
        (F.col("keep") != F.col("keep_base"))
        | ~(F.col("drop_reason").eqNullSafe(F.col("dr_base")))
    ).count() == 0
    m = json.load(open(os.path.join(out, "_chunk_0.json")))
    assert m["stages"]["classifier_prefilter"] == -1.0


def test_job_rows_equal_filter_transform(spark, tmp_path):
    """The job's chunk body and the stream's filter_transform build the
    decision from the same projection: with the job's frozen thresholds,
    filter_transform over the same pages yields the job's rows exactly."""
    from kenlm_rs_spark.pipeline.corpus import generate_pages_df
    from kenlm_rs_spark.pipeline.filter_job import (
        OUTPUT_COLUMNS,
        load_language_models,
        run_filter_job,
    )
    from kenlm_rs_spark.pipeline.langid import default_langid
    from kenlm_rs_spark.streaming.stream_filter import filter_transform

    pages = generate_pages_df(spark, 200).cache()
    out = str(tmp_path / "job")
    totals = run_filter_job(spark, pages, out, LM_DIR, n_chunks=2)
    assert totals["docs"] == 200
    job = Counter(
        tuple(r) for r in spark.read.parquet(out).select(OUTPUT_COLUMNS).collect()
    )

    with open(os.path.join(out, "_thresholds.json")) as f:
        thresholds = {k: tuple(v) for k, v in json.load(f).items()}
    bc_langid = spark.sparkContext.broadcast(default_langid())
    stream = Counter(
        tuple(r)
        for r in filter_transform(
            pages, bc_langid, load_language_models(spark, LM_DIR), thresholds
        )
        .select(OUTPUT_COLUMNS)
        .collect()
    )
    pages.unpersist()
    assert stream == job
    keep = OUTPUT_COLUMNS.index("keep")
    assert {r[keep] for r in job} == {True, False}


def test_filter_job_scores_each_page_once(spark, tmp_path):
    """Every page passes through extraction and scoring once: an identity
    UDF on the input text counts its evaluations. The threshold pass reads
    every page here (fraction 1.0), and the chunks reuse its scored rows
    instead of extracting and scoring each page a second time."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import StringType

    from kenlm_rs_spark.pipeline.corpus import generate_pages_df
    from kenlm_rs_spark.pipeline.filter_job import run_filter_job

    evals = spark.sparkContext.accumulator(0)

    def seen(text):
        evals.add(1)
        return text

    n = 200
    pages = generate_pages_df(spark, n).withColumn(
        "text", F.udf(seen, StringType())("text")
    )
    totals = run_filter_job(spark, pages, str(tmp_path / "out"), LM_DIR, n_chunks=2)
    assert totals["docs"] == n
    assert evals.value == n


def test_filter_job_jobs_do_not_grow_per_chunk(spark, pages, tmp_path):
    """Each chunk costs one Spark job, its parquet write: the marker's
    counts are observed on the write, not read back."""
    from kenlm_rs_spark.pipeline.filter_job import run_filter_job

    sc = spark.sparkContext
    jobs = {}
    for n_chunks in (2, 4):
        group = f"filter-job-chunks-{n_chunks}"
        sc.setJobGroup(group, group)
        try:
            run_filter_job(spark, pages, str(tmp_path / str(n_chunks)), LM_DIR, n_chunks=n_chunks)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        jobs[n_chunks] = len(sc.statusTracker().getJobIdsForGroup(group))
    assert jobs[4] - jobs[2] <= 2, jobs


def test_markers_equal_written_chunks(spark, pages, tmp_path):
    """With every opt-in stage on, each marker's docs, kept and by_reason
    equal a pyarrow read-back of its chunk, and every drop-reason family
    these stages produce (CCNet rules, gopher, resampling, blocklist, URL
    dedup, classifier) is observed."""
    from kenlm_rs_spark.pipeline.filter_job import run_filter_job

    bl = spark.createDataFrame([("SpamDomain.NET",)], "domain string")
    out = str(tmp_path / "out")
    totals = run_filter_job(
        spark, _with_dups_and_spam(spark, pages), out, LM_DIR, n_chunks=2,
        gopher=True,
        resample_weights={"head": 0.9, "middle": 0.6, "tail": 0.3},
        blocklist_domains=bl, url_dedup=True, classifier_prefilter=-1.0,
    )
    reasons = Counter()
    for k in range(2):
        m = json.load(open(os.path.join(out, f"_chunk_{k}.json")))
        rows = pq.read_table(os.path.join(out, f"chunk={k}"), columns=["keep", "drop_reason"]).to_pylist()
        dropped = Counter(r["drop_reason"] for r in rows if not r["keep"])
        assert m["docs"] == len(rows)
        assert m["kept"] == sum(r["keep"] for r in rows)
        assert m["by_reason"] == dict(dropped)
        reasons += dropped
    assert totals["by_reason"] == dict(reasons)
    assert {"too_short", "ppl_tail", "resampled_out", "blocked_domain", "url_duplicate",
            "classifier_low"} <= set(reasons), reasons
    assert any(r.startswith("gopher:") for r in reasons), reasons


def _write_plans(spark, run):
    """Call ``run()`` and return the physical plans (simple explain mode) of
    the parquet writes it executed, from the SQL status store."""
    store = spark._jsparkSession.sharedState().statusStore()

    def executions():
        seq = store.executionsList()
        return [seq.apply(i) for i in range(seq.size())]

    seen = {e.executionId() for e in executions()}
    saved = spark.conf.get("spark.sql.ui.explainMode")
    spark.conf.set("spark.sql.ui.explainMode", "simple")
    try:
        run()
    finally:
        spark.conf.set("spark.sql.ui.explainMode", saved)
    return [
        e.physicalPlanDescription()
        for e in executions()
        if e.executionId() not in seen
        and "InsertIntoHadoopFsRelationCommand" in e.physicalPlanDescription()
    ]


def _ancestors(lines, i):
    """Plan-tree lines above line ``i`` on its path to the root."""
    def depth(line):
        return len(line) - len(line.lstrip(" :+-*()0123456789"))

    out, d = [], depth(lines[i])
    for line in reversed(lines[:i]):
        if depth(line) < d:
            out.append(line)
            d = depth(line)
    return out


def _node(line):
    return line.lstrip(" :+-*()0123456789")


@pytest.mark.parametrize("fraction", [1.0, 0.5])
def test_chunk_write_plans(spark, pages, tmp_path, fraction):
    """In every chunk write (url_dedup on, so the chunk plan shuffles) the
    observation's CollectMetrics sits above every Exchange: Spark then
    applies each task's metrics once, also when a shuffle stage is retried.
    The chunk filter sits below the Arrow scoring stage on the sampled path
    (each chunk scores its own pages) and above it when the chunks are cut
    from the persisted scored pages."""
    from kenlm_rs_spark.pipeline.filter_job import run_filter_job

    plans = _write_plans(spark, lambda: run_filter_job(
        spark, _with_dups_and_spam(spark, pages), str(tmp_path / "out"), LM_DIR,
        n_chunks=2, sample_for_thresholds=fraction, url_dedup=True,
    ))
    assert len(plans) == 2
    for plan in plans:
        lines = plan.split("== Physical Plan ==")[1].strip("\n").split("\n")
        exchanges = [i for i, line in enumerate(lines) if _node(line).startswith("Exchange")]
        assert exchanges and any(_node(line).startswith("CollectMetrics") for line in lines)
        for i in exchanges:
            assert any(_node(a).startswith("CollectMetrics") for a in _ancestors(lines, i))
        # the scored rows' chunk filter; the early-dropped rows' branch
        # filters the raw pages and is never scored
        below_arrow = [
            any(_node(a).startswith("ArrowEvalPython") for a in _ancestors(lines, i))
            for i, line in enumerate(lines)
            if _node(line).startswith("Filter") and "pmod(xxhash64(" in line
        ]
        assert below_arrow
        assert any(below_arrow) == (fraction < 1.0)


def test_with_buckets_case_equals_join(spark):
    """The literal CASE gives the broadcast-join form's buckets row for row
    (NULL language, a language without thresholds, ppl of inf/NaN/NULL and
    on each threshold) and plans no join."""
    from pyspark.sql import functions as F

    from kenlm_rs_spark.pipeline.quality import bucket_col, with_buckets

    def by_join(df, thresholds):
        rows = [(k, float(v[0]), float(v[1])) for k, v in thresholds.items()]
        tdf = spark.createDataFrame(rows, "lang_pred string, t_head double, t_tail double")
        return df.join(F.broadcast(tdf), "lang_pred", "left").withColumn(
            "bucket",
            F.when(F.col("t_head").isNull(), "middle").otherwise(
                bucket_col(F.col("ppl"), F.col("t_head"), F.col("t_tail"))
            ),
        )

    inf, nan = float("inf"), float("nan")
    ppls = [None, -inf, 0.0, 10.0, 15.0, 20.0, 25.0, inf, nan]
    langs = [None, "en", "de", "zz", "inf"]
    df = spark.createDataFrame(
        [(i, lang, ppl) for i, (lang, ppl) in enumerate((l, p) for l in langs for p in ppls)],
        "id int, lang_pred string, ppl double",
    )
    for thresholds in (
        {"en": (10.0, 20.0), "de": (15.0, 15.0), "inf": (inf, inf)},
        {"en": (nan, 20.0)},
        {},
    ):
        new = with_buckets(df, thresholds)
        assert "Join" not in new._jdf.queryExecution().executedPlan().toString()
        got = sorted(tuple(r) for r in new.select("id", "bucket").collect())
        want = sorted(tuple(r) for r in by_join(df, thresholds).select("id", "bucket").collect())
        assert got == want, thresholds


def test_sampled_thresholds_are_reproducible(spark, pages, tmp_path):
    """The sampled threshold pass draws the same seeded sample on every
    run, so two runs freeze the same thresholds."""
    from kenlm_rs_spark.pipeline.filter_job import run_filter_job

    thresholds = []
    for run in range(2):
        out = tmp_path / str(run)
        run_filter_job(spark, pages, str(out), LM_DIR, n_chunks=1, sample_for_thresholds=0.5)
        thresholds.append(json.load(open(out / "_thresholds.json")))
    assert thresholds[0] == thresholds[1]
