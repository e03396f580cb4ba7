"""Snapshot sink/source, Iceberg-shaped table adapter, and the Structured
Streaming filter path."""

import os

import numpy as np
import pytest
from pyspark.sql import functions as F

from kenlm_rs_spark.lm.model import NGramModel
from kenlm_rs_spark.lm.snapshot import load_model, save_model
from kenlm_rs_spark.sources.table import SnapshotTable

REF = "/root/reference"


def test_model_snapshot_roundtrip(tmp_path):
    m = NGramModel.load(f"{REF}/test_data/test.bin")
    p = str(tmp_path / "model.npz")
    save_model(m, p)
    m2 = load_model(p)
    sent = "i have a good deal of will you remember toast".split()
    assert m2.score_sentence(sent, True, True) == m.score_sentence(sent, True, True)
    assert m2.words == m.words
    assert m2.counts == m.counts


def test_snapshot_table_time_travel(spark, tmp_path):
    t = SnapshotTable(spark, str(tmp_path / "tbl"))
    df1 = spark.createDataFrame([(1, "a"), (2, "b")], ["id", "v"])
    df2 = spark.createDataFrame([(3, "c")], ["id", "v"])
    v1 = t.append(df1)
    v2 = t.append(df2)
    assert v1 == 1 and v2 == 2
    assert t.read().count() == 3
    assert t.read_at(1).count() == 2  # time travel
    v3 = t.overwrite(spark.createDataFrame([(9, "z")], ["id", "v"]))
    assert t.read().count() == 1
    t.rollback(2)
    assert t.read().count() == 3
    ops = [s["operation"] for s in t.snapshots()]
    assert ops[:2] == ["append", "append"]


def test_streaming_filter_available_now(spark, tmp_path):
    """stream == batch exactly: with thresholds fitted offline on the batch
    output (the production shape), every column the stream writes equals
    filter_transform on the batch frame."""
    from collections import Counter

    from kenlm_rs_spark.pipeline.corpus import generate_pages_local
    from kenlm_rs_spark.pipeline.langid import default_langid
    from kenlm_rs_spark.pipeline.quality import ppl_thresholds
    from kenlm_rs_spark.streaming.stream_filter import (
        drop_reason_rates,
        filter_transform,
        start_stream_filter,
    )

    in_dir = str(tmp_path / "in")
    out_dir = str(tmp_path / "out")
    ck_dir = str(tmp_path / "ck")
    pdf = generate_pages_local(60)
    spark.createDataFrame(pdf).select(
        "url", "warc_ts", "html", "text", "lang"
    ).write.parquet(in_dir)

    bc_langid = spark.sparkContext.broadcast(default_langid())
    bc_models = {
        lang: spark.sparkContext.broadcast(NGramModel.load(f"fixtures/lms/{lang}.arpa"))
        for lang in ("en", "de", "fr")
    }
    pages = spark.read.parquet(in_dir)
    thresholds = ppl_thresholds(
        filter_transform(pages, bc_langid, bc_models, {}),
        lang_col="lang_pred",
        ppl_col="ppl",
    )

    q = start_stream_filter(
        spark, in_dir, out_dir, ck_dir, bc_langid, bc_models, thresholds
    )
    q.awaitTermination(180)
    got = spark.read.parquet(out_dir)
    assert got.count() == 60
    assert set(got.columns) >= {"url", "ppl", "bucket", "keep", "drop_reason"}
    # batch/stream parity: the same transform on a batch frame
    batch = filter_transform(pages, bc_langid, bc_models, thresholds)
    s = Counter(tuple(r) for r in got.collect())
    b = Counter(tuple(r) for r in batch.select(got.columns).collect())
    assert b == s
    keep = got.columns.index("keep")
    assert {r[keep] for r in s} == {True, False}
    # event-time monitoring aggregate runs on the batch frame
    rates = drop_reason_rates(batch, window="1 hour").collect()
    assert sum(r["docs"] for r in rates) == 60


def test_snapshot_incremental_read(spark, tmp_path):
    from kenlm_rs_spark.sources.table import SnapshotTable

    t = SnapshotTable(spark, str(tmp_path / "tbl"))
    v1 = t.append(spark.createDataFrame([(1,), (2,)], "id long"))
    v2 = t.append(spark.createDataFrame([(3,)], "id long"))
    v3 = t.append(spark.createDataFrame([(4,), (5,)], "id long"))
    # only the files added after v1
    got = sorted(r["id"] for r in t.read_changes(v1).collect())
    assert got == [3, 4, 5]
    assert sorted(r["id"] for r in t.read_changes(v2, v3).collect()) == [4, 5]
    assert t.read_changes(v3).count() == 0
    # full-history incremental == current read
    assert sorted(r["id"] for r in t.read_changes(0).collect()) == [1, 2, 3, 4, 5]


def test_snapshot_incremental_rejects_overwrite(spark, tmp_path):
    import pytest as _pytest

    from kenlm_rs_spark.sources.table import SnapshotTable

    t = SnapshotTable(spark, str(tmp_path / "tbl2"))
    v1 = t.append(spark.createDataFrame([(1,)], "id long"))
    t.overwrite(spark.createDataFrame([(9,)], "id long"))
    t.append(spark.createDataFrame([(10,)], "id long"))
    with _pytest.raises(ValueError, match="non-append"):
        t.read_changes(v1)
