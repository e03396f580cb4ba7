"""Structured Streaming face of the quality filter.

The reference is batch-only (SURVEY.md §2.9 — its util/stream is an
intra-process pipeline, not event-time streaming), but a web-crawl ingest is
naturally a stream, so the same filter plan is exposed over
readStream -> writeStream:

- the per-document transforms (extract, langid, scrub, heuristics, KenLM
  scoring, bucket, decide) are stateless, so the batch plan runs unchanged
  inside the stream; perplexity thresholds must be FROZEN up front (computed
  offline by the batch job) — a stream cannot take a global quantile.
- `drop_reason_rates` adds the event-time monitoring aggregate: watermarked
  per-window drop-reason counts for late-tolerant crawl telemetry.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..pipeline.extract import with_extracted_text
from ..pipeline.quality import decide, rule_columns, with_buckets
from ..pipeline.scrub import scrub_text
from ..spark.scoring import with_langid_scores

PAGES_SCHEMA = "url string, warc_ts timestamp, html binary, text string, lang string"


def filter_transform(
    pages: DataFrame, bc_langid, bc_models: dict, thresholds: dict
) -> DataFrame:
    """The stateless filter plan — valid on batch AND streaming DataFrames.

    The decision columns come from the same code as the batch job's chunk
    body (spark/scoring.with_langid_scores: langid + per-language KenLM
    scoring fused in one ArrowEvalPython stage); with the job's frozen
    thresholds the rows equal the job's output (pytest-pinned)."""
    df = with_extracted_text(pages)
    df = df.withColumn("text_scrubbed", scrub_text(F.col("text")))
    df = rule_columns(df, text_col="text_scrubbed")
    df = with_langid_scores(df, bc_langid, bc_models)
    df = with_buckets(df, thresholds, lang_col="lang_pred", ppl_col="ppl")
    return decide(df)


def start_stream_filter(
    spark: SparkSession,
    input_dir: str,
    output_dir: str,
    checkpoint_dir: str,
    bc_langid,
    bc_models: dict,
    thresholds: dict,
    trigger_available_now: bool = True,
):
    """File-stream pages -> filtered parquet sink with exactly-once commit
    via the streaming checkpoint."""
    pages = spark.readStream.schema(PAGES_SCHEMA).parquet(input_dir)
    out = filter_transform(pages, bc_langid, bc_models, thresholds).select(
        "url", "warc_ts", "text_scrubbed", "lang_pred", "ppl", "bucket",
        "keep", "drop_reason",
    )
    writer = (
        out.writeStream.format("parquet")
        .option("path", output_dir)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
    )
    if trigger_available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def drop_reason_rates(filtered: DataFrame, window: str = "10 minutes",
                      watermark: str = "30 minutes") -> DataFrame:
    """Event-time monitoring: watermarked windowed drop-reason counts."""
    return (
        filtered.withWatermark("warc_ts", watermark)
        .groupBy(
            F.window("warc_ts", window).alias("w"),
            F.coalesce(F.col("drop_reason"), F.lit("kept")).alias("reason"),
        )
        .agg(F.count("*").alias("docs"))
        .select(F.col("w.start").alias("window_start"), "reason", "docs")
    )
