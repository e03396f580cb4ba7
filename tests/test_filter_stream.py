"""Streaming quality filter: stream == batch exactly (the chain is a
stateless map once thresholds are pre-fitted, so no relaxation at all).

`filter_transform` runs on a file stream into a memory sink and every column
it produces is compared with the same transform on the batch frame."""

import time

from kenlm_rs_spark.lm.model import NGramModel


def _drain_and_stop(q, n_input_rows: int, timeout: int = 240) -> None:
    t0 = time.time()
    while time.time() - t0 < timeout:
        if not q.isActive:
            return
        done = sum(p["numInputRows"] for p in q.recentProgress)
        if q.lastProgress is not None and done >= n_input_rows:
            break
        time.sleep(0.5)
    q.stop()
    q.awaitTermination(60)


def test_stream_filter_equals_batch(spark, tmp_path):
    from kenlm_rs_spark.pipeline.corpus import generate_pages_local
    from kenlm_rs_spark.pipeline.langid import default_langid
    from kenlm_rs_spark.pipeline.quality import ppl_thresholds
    from kenlm_rs_spark.streaming.stream_filter import PAGES_SCHEMA, filter_transform

    in_dir = str(tmp_path / "in")
    spark.createDataFrame(generate_pages_local(80)).select(
        "url", "warc_ts", "html", "text", "lang"
    ).write.parquet(in_dir)
    pages = spark.read.parquet(in_dir)
    n = pages.count()

    bc_langid = spark.sparkContext.broadcast(default_langid())
    bc_models = {
        lang: spark.sparkContext.broadcast(NGramModel.load(f"fixtures/lms/{lang}.arpa"))
        for lang in ("en", "de", "fr")
    }

    # thresholds are fit OFFLINE on the batch snapshot (production shape),
    # then applied identically to the batch df and the stream
    thr = ppl_thresholds(
        filter_transform(pages, bc_langid, bc_models, {}),
        lang_col="lang_pred",
        ppl_col="ppl",
    )
    batch = filter_transform(pages, bc_langid, bc_models, thr)
    # binary columns are not hashable row members; everything else is compared
    cols = [f.name for f in batch.schema.fields if f.dataType.typeName() != "binary"]
    want = sorted(tuple(r) for r in batch.select(cols).collect())

    stream = spark.readStream.schema(PAGES_SCHEMA).parquet(in_dir)
    q = (
        filter_transform(stream, bc_langid, bc_models, thr)
        .select(cols)
        .writeStream.format("memory")
        .queryName("filter_stream_out")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    _drain_and_stop(q, n)
    got = sorted(
        tuple(r) for r in spark.sql("SELECT * FROM filter_stream_out").collect()
    )
    assert got == want
    assert len(got) == n
    # both decisions occur, so the thresholds and rules actually bite
    keep = cols.index("keep")
    assert {r[keep] for r in got} == {True, False}
