"""Broadcast-model KenLM scoring as an Arrow-vectorized pandas UDF.

Spark execution model (SURVEY.md §1.3/§3.2): the model is deserialized ONCE on
the driver (ARPA/binary -> NumPy arrays), shipped to executors with
``SparkContext.broadcast`` (torrent protocol — the distributed analogue of the
reference's mmap sharing, /root/reference/src/cxx/lm/binary_format.cc:192-204),
and each Python worker lazily unpickles it once. Scoring runs inside
``pandas_udf`` over Arrow RecordBatches, so the JVM<->Python boundary is
crossed once per batch. Inside the batch the n-gram probes are vectorized
NumPy, but the tokenizer front end (lm/score.split_texts) is still a
per-row Python loop.

Every document is scored with sentence context on both sides (<s> ... </s>),
the perplexity semantics of the reference query tool
(src/cxx/lm/ngram_query.hh:52-101).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType,
    FloatType,
    IntegerType,
    StringType,
    StructField,
    StructType,
)

from ..lm.model import NGramModel
from ..lm.score import score_texts

SCORE_SCHEMA = StructType(
    [
        StructField("log10_prob", FloatType()),
        StructField("tokens", IntegerType()),
        StructField("oov", IntegerType()),
        StructField("ppl", DoubleType()),
    ]
)

LANGID_SCORE_SCHEMA = StructType(
    [
        StructField("lang", StringType()),
        StructField("lang_conf", FloatType()),
        *SCORE_SCHEMA.fields,
    ]
)


def broadcast_model(spark: SparkSession, model_or_path) -> "pyspark.Broadcast":
    model = (
        model_or_path
        if isinstance(model_or_path, NGramModel)
        else NGramModel.load(str(model_or_path))
    )
    return spark.sparkContext.broadcast(model)


def _score_frame(model: NGramModel, texts: pd.Series) -> pd.DataFrame:
    """One model over one batch: the SCORE_SCHEMA columns, typed, indexed
    like ``texts``."""
    res = score_texts(model, texts.fillna("").tolist())
    return pd.DataFrame(
        {
            "log10_prob": res["log10_prob"],
            "tokens": res["tokens"].astype("int32"),
            "oov": res["oov"].astype("int32"),
            "ppl": res["ppl"],
        },
        index=texts.index,
    )


def make_score_udf(bc_model):
    """pandas UDF text -> struct(log10_prob, tokens, oov, ppl)."""

    @F.pandas_udf(SCORE_SCHEMA)
    def score_udf(texts: pd.Series) -> pd.DataFrame:
        return _score_frame(bc_model.value, texts)

    return score_udf


def score_with_model(df: DataFrame, bc_model) -> DataFrame:
    """Attach per-document LM columns of ``text``: ``lm.{log10_prob,tokens,oov,ppl}``."""
    return df.withColumn("lm", make_score_udf(bc_model)(F.col("text")))


def register_sql_udfs(spark: SparkSession, bc_model, bc_langid=None) -> list[str]:
    """Expose the Python-model kernels to SQL users:

        spark.sql("SELECT kenlm_score(text).ppl, kenlm_langid(text).lang
                   FROM docs")

    Registers ``kenlm_score`` (struct log10_prob/tokens/oov/ppl) and, when
    ``bc_langid`` is given, ``kenlm_langid`` (struct lang/lang_conf). Both
    stay Arrow-vectorized through spark.udf.register. Returns the registered
    names."""
    names = ["kenlm_score"]
    spark.udf.register("kenlm_score", make_score_udf(bc_model))
    if bc_langid is not None:
        from ..pipeline.langid import make_langid_udf

        spark.udf.register("kenlm_langid", make_langid_udf(bc_langid))
        names.append("kenlm_langid")
    return names


def make_langid_score_udf(bc_langid, bc_models: dict):
    """FUSED language-ID + per-language KenLM scoring in ONE JVM<->Python
    crossing: (raw_text, scrubbed_text) -> struct(lang, lang_conf,
    log10_prob, tokens, oov, ppl).

    Langid runs over the raw text; each predicted language's rows of the
    scrubbed text are then scored with that language's model. A language
    without a model (and 'und') scores with the first model of
    ``bc_models``. Unfused, scoring would consume langid's output column, so
    Spark could not combine the two ArrowEvalPython stages and every batch
    would cross the boundary twice."""
    default_lang = next(iter(bc_models))

    @F.pandas_udf(LANGID_SCORE_SCHEMA)
    def fused_udf(texts: pd.Series, scrubbed: pd.Series) -> pd.DataFrame:
        langs, confs = bc_langid.value.predict_batch(texts.fillna("").tolist())
        langs = pd.Series(langs, index=texts.index)
        model_lang = langs.where(langs.isin(list(bc_models)), default_lang)
        scores = pd.concat(
            [
                _score_frame(bc_models[lang].value, part)
                for lang, part in scrubbed.groupby(model_lang)
            ]
        )
        lid = pd.DataFrame(
            {"lang": langs, "lang_conf": pd.Series(confs, index=texts.index)}
        )
        return lid.join(scores)

    return fused_udf


def with_langid_scores(df: DataFrame, bc_langid, bc_models: dict) -> DataFrame:
    """Attach the fused stage's columns — lang_pred, lang_conf, log10_prob,
    tokens, oov, ppl — from ``text`` (langid) and ``text_scrubbed`` (LM).
    The filter job and the stream build their decision on this one
    projection."""
    fused = make_langid_score_udf(bc_langid, bc_models)
    return (
        df.withColumn("ls", fused(F.col("text"), F.col("text_scrubbed")))
        .withColumn("lang_pred", F.col("ls.lang"))
        .withColumn("lang_conf", F.col("ls.lang_conf"))
        .select("*", "ls.log10_prob", "ls.tokens", "ls.oov", "ls.ppl")
        .drop("ls")
    )
