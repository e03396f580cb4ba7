"""lmplz estimation reads its corpus once, the streaming ARPA emit
reproduces the frozen per-language LMs byte for byte, and the caches the
estimation builds are released once the model is written."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import StringType

from kenlm_rs_spark.builder.lmplz import estimate_arpa, estimate_arpa_to_path
from kenlm_rs_spark.pipeline.corpus import training_corpus

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _persistent_rdds(spark) -> set[int]:
    """Ids of the cached RDDs. Compared as sets, not counts: the context
    cleaner may release an earlier test's cache during the call, which a
    count reads as a change while every cache the call built is gone."""
    return set(spark.sparkContext._jsc.getPersistentRDDs().keySet())


@pytest.fixture(scope="module")
def small_corpus(spark):
    return spark.createDataFrame(
        [(t,) for t in training_corpus("en", 300)], "text string"
    )


@pytest.mark.parametrize("order", [3, 5])
def test_corpus_read_once(spark, small_corpus, tmp_path, order):
    """Every input row passes through the tokenizer exactly once, at any
    order: a deterministic identity UDF on the text counts its evaluations.
    Without the raw-count cache each order's filter re-scans the corpus."""
    evals = spark.sparkContext.accumulator(0)

    def seen(text):
        evals.add(1)
        return text

    counted = small_corpus.select(F.udf(seen, StringType())("text").alias("text"))
    before = _persistent_rdds(spark)
    counts = estimate_arpa_to_path(counted, str(tmp_path / "m.arpa"), order=order)
    assert evals.value == small_corpus.count()
    assert set(counts) == set(range(1, order + 1))
    # the caches estimate_df built (raw, adjusted) are released after the
    # emit: no RDD cached during the call is still cached
    assert _persistent_rdds(spark) <= before


def test_collecting_emit_releases_caches(spark, small_corpus):
    before = _persistent_rdds(spark)
    text = estimate_arpa(small_corpus, order=2)
    assert "ngram 2=" in text and "ngram 3=" not in text
    assert _persistent_rdds(spark) <= before


def test_null_text_is_no_sentence_with_ansi_off(spark, small_corpus, tmp_path):
    """With ANSI mode off ``size(NULL)`` is -1, so a NULL text explodes into
    NULL windows; they must be dropped, not reach the kernels, and the
    model must equal the one estimated without the NULL row."""
    with_null = small_corpus.unionByName(spark.createDataFrame([(None,)], "text string"))
    saved = spark.conf.get("spark.sql.ansi.enabled")
    try:
        spark.conf.set("spark.sql.ansi.enabled", "false")
        for order in (1, 3):
            paths = [tmp_path / f"{order}_{k}.arpa" for k in ("null", "plain")]
            estimate_arpa_to_path(with_null, str(paths[0]), order=order)
            estimate_arpa_to_path(small_corpus, str(paths[1]), order=order)
            assert paths[0].read_bytes() == paths[1].read_bytes()
    finally:
        spark.conf.set("spark.sql.ansi.enabled", saved)


def test_streaming_emit_never_collects_the_model(spark, small_corpus, tmp_path, monkeypatch):
    """The emit looks estimate_df up at call time (so a caller may hand it a
    prepared model table) and pulls the model only through toLocalIterator:
    collect/toPandas/toArrow on it would hold the whole model on the driver."""
    from pyspark.sql.classic.dataframe import DataFrame

    from kenlm_rs_spark.builder import lmplz

    expected = lmplz.estimate_arpa(small_corpus, order=2)
    model = lmplz.estimate_df(small_corpus, "text", 2)
    monkeypatch.setattr(lmplz, "estimate_df", lambda *a, **k: model)

    def refuse(self, *a, **k):
        raise AssertionError("model-sized driver collect")

    for name in ("collect", "toPandas", "toArrow"):
        monkeypatch.setattr(DataFrame, name, refuse)
    out = tmp_path / "m.arpa"
    lmplz.estimate_arpa_to_path(small_corpus, str(out), order=2)
    monkeypatch.undo()
    assert out.read_text() == expected


def test_streaming_emit_writes_empty_order_sections(spark, tmp_path):
    """A corpus of empty sentences has bigrams (<s> </s>) but no trigram:
    the streamed file still carries the empty \\3-grams: section."""
    df = spark.createDataFrame([("",), ("<s> <unk>",)], "text string")
    out = tmp_path / "empty.arpa"
    counts = estimate_arpa_to_path(df, str(out), order=3)
    assert counts == {1: 3, 2: 1, 3: 0}
    text = out.read_text()
    assert "ngram 3=0\n" in text and "\\3-grams:\n\n\\end\\\n" in text


@pytest.mark.parametrize("lang", ["en", "de", "fr", "xx"])
def test_frozen_lms_regenerate(spark, tmp_path, lang):
    """fixtures/lms/<lang>.arpa is the order-3 streaming estimate of the
    language's seed corpus, byte for byte."""
    df = spark.createDataFrame([(t,) for t in training_corpus(lang)], "text string")
    out = tmp_path / f"{lang}.arpa"
    estimate_arpa_to_path(df, str(out), order=3)
    with open(os.path.join(REPO, "fixtures", "lms", f"{lang}.arpa"), "rb") as f:
        assert out.read_bytes() == f.read()
    assert sorted(os.listdir(tmp_path)) == [f"{lang}.arpa"]  # no temp files left


def test_corpus_model_key_is_content(tmp_path):
    """The on-disk corpus-model cache is keyed on the table's bytes: two
    files of equal length but different content get different keys."""
    import __spark_entry__ as entry

    a, b, c = tmp_path / "a.parquet", tmp_path / "b.parquet", tmp_path / "c.parquet"
    a.write_bytes(b"PAR1" + b"x" * 64)
    b.write_bytes(b"PAR1" + b"y" * 64)
    c.write_bytes(b"PAR1" + b"x" * 64)
    assert os.path.getsize(a) == os.path.getsize(b)
    assert entry._content_key(str(a)) != entry._content_key(str(b))
    assert entry._content_key(str(a)) == entry._content_key(str(c))
