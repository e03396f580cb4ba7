"""Fused langid+scoring UDF: value-identical to the in-process langid and
scoring kernels, and a single ArrowEvalPython stage in the filter plan."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


@pytest.fixture(scope="module")
def ctx(spark):
    from kenlm_rs_spark.lm.model import NGramModel
    from kenlm_rs_spark.pipeline.langid import default_langid

    bc_l = spark.sparkContext.broadcast(default_langid())
    bcs = {
        l: spark.sparkContext.broadcast(
            NGramModel.load(os.path.join(REPO, f"fixtures/lms/{l}.arpa"))
        )
        for l in ("en", "de", "fr", "xx")
    }
    return bc_l, bcs


def test_fused_equals_two_stage_chain(spark, ctx):
    """Row by row, the fused UDF equals the in-process kernels it wraps:
    CharNgramLangID.predict_batch on the raw text, then score_texts with
    the row's language model on the scrubbed text (the first model in
    sorted order for a language without a model, 'und' included)."""
    from kenlm_rs_spark.lm.score import score_texts
    from kenlm_rs_spark.pipeline.corpus import generate_pages_df
    from kenlm_rs_spark.pipeline.extract import with_extracted_text
    from kenlm_rs_spark.pipeline.scrub import scrub_text
    from kenlm_rs_spark.spark.scoring import (
        LANGID_SCORE_SCHEMA,
        make_langid_score_udf,
    )

    bc_l, all_bcs = ctx
    # no 'en' model: its rows take the fallback path
    bcs = {l: all_bcs[l] for l in ("de", "fr", "xx")}
    df = with_extracted_text(generate_pages_df(spark, 300)).withColumn(
        "text_scrubbed", scrub_text(F.col("text"))
    )
    fused_udf = make_langid_score_udf(bc_l, bcs)
    one = df.withColumn(
        "ls", fused_udf(F.col("text"), F.col("text_scrubbed"))
    ).select("text", "text_scrubbed", "ls.*")
    rows = one.collect()
    assert len(rows) == 300

    langs, confs = bc_l.value.predict_batch([r["text"] or "" for r in rows])
    scrubbed = [r["text_scrubbed"] or "" for r in rows]
    want = {l: score_texts(bc.value, scrubbed) for l, bc in bcs.items()}
    default = sorted(bcs)[0]
    assert set(langs) - set(bcs)
    cols = [f.name for f in LANGID_SCORE_SCHEMA]
    for i, r in enumerate(rows):
        res = want[langs[i] if langs[i] in bcs else default]
        got = tuple(r[c] for c in cols)
        exp = (
            langs[i],
            float(confs[i]),
            float(res["log10_prob"][i]),
            int(res["tokens"][i]),
            int(res["oov"][i]),
            float(res["ppl"][i]),
        )
        assert got == exp, (i, got, exp)
    # dtype parity too (lang_conf must stay float, not widen to double)
    assert one.drop("text", "text_scrubbed").dtypes == [
        (f.name, f.dataType.simpleString()) for f in LANGID_SCORE_SCHEMA
    ]


def test_filter_plan_has_single_python_stage(spark, ctx):
    from kenlm_rs_spark.pipeline.corpus import generate_pages_df
    from kenlm_rs_spark.streaming.stream_filter import filter_transform

    bc_l, bcs = ctx
    thr = {l: (40.0, 120.0) for l in ("en", "de", "fr", "xx")}
    plan = (
        filter_transform(generate_pages_df(spark, 20), bc_l, bcs, thr)
        ._jdf.queryExecution().executedPlan().toString()
    )
    # fused langid+scoring plus the independent dup3 UDF all combine into
    # ONE ArrowEvalPython stage (unfused, scoring depended on langid's
    # output and forced a second stage)
    assert plan.count("ArrowEvalPython") == 1, plan[:2000]
