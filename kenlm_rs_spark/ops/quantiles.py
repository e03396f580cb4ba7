"""Mergeable fixed-width-histogram quantiles — the scale path for fitting
the per-language perplexity tertiles that drive the CCNet head/middle/tail
keep/drop decision (pipeline/quality.py, and the pre-fitted thresholds of
streaming/stream_filter.py's filter_transform, pinned stream == batch by
tests/test_sources_streaming.py::test_streaming_filter_available_now).

An exact per-group percentile at 10^12 documents is a per-group sort;
Spark's approx_percentile is a KLL sketch whose internals no oracle can
reproduce. This sketch is the engine-exact middle ground: values are
floored into fixed-width integer bins (ONE uniform-key groupBy,
histogram size = value_range/bin_width per group regardless of corpus
size), and quantile(k/d) = the lower edge of the first bin whose
cumulative count reaches rank ceil(n*k/d) — every step integer
arithmetic, so Spark and DuckDB agree bit-for-bit. The answer is exact
up to bin_width (the knob a pipeline tunes: 0.5 perplexity points is far
inside the keep/drop noise), and histograms MERGE by adding counts —
the crawl-cadence artifact, like ops/hll.py registers.

Quantile probabilities are RATIONALS (k, d) — rank arithmetic stays in
integers; float probs would reintroduce cross-engine rounding at rank
boundaries.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def histogram_bins(
    df: DataFrame,
    value_col: str,
    bin_width: float,
    group_cols: list[str] | None = None,
) -> DataFrame:
    """(group..., bin, n) with bin = floor(value / bin_width) — the
    mergeable sketch (merge = unionByName + groupBy sum)."""
    group_cols = group_cols or []
    b = F.floor(F.col(value_col) / F.lit(float(bin_width))).cast("long")
    return (
        df.select(*group_cols, b.alias("bin"))
        .groupBy(*group_cols, "bin")
        .agg(F.count("*").cast("long").alias("n"))
    )


def histogram_quantiles(
    bins: DataFrame,
    probs: list[tuple[int, int]],
    bin_width: float,
    group_cols: list[str] | None = None,
) -> DataFrame:
    """(group..., q_num, q_den, quantile) — lower bin edge at rank
    ceil(n_total * num / den) per group. The window runs over the BIN
    table (value_range/bin_width rows per group), never the corpus."""
    group_cols = group_cols or []
    for num, den in probs:
        if den < 1 or num < 0 or num > den:
            raise ValueError(f"prob must be a rational in [0,1], got {num}/{den}")
    from pyspark.sql import Window

    w = (
        Window.partitionBy(*group_cols)
        .orderBy("bin")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = bins.withColumn("cum", F.sum("n").over(w))
    totals = bins.groupBy(*group_cols).agg(F.sum("n").alias("n_total"))
    cum = cum.join(F.broadcast(totals), group_cols) if group_cols else (
        cum.crossJoin(F.broadcast(totals))
    )
    out = None
    for num, den in probs:
        # rank = ceil(n*num/den) via INTEGER division (`div`, not `/` —
        # float division would misround ranks for 10^12-scale counts)
        rank = F.expr(f"(n_total * {num} + {den - 1}) div {den}").cast("long")
        hit = (
            cum.filter(F.col("cum") >= rank)
            .groupBy(*group_cols)
            .agg(F.min("bin").alias("qbin"))
            .select(
                *group_cols,
                F.lit(num).cast("long").alias("q_num"),
                F.lit(den).cast("long").alias("q_den"),
                (F.col("qbin").cast("double") * F.lit(float(bin_width))).alias(
                    "quantile"
                ),
            )
        )
        out = hit if out is None else out.unionByName(hit)
    return out


def quantiles_of(
    df: DataFrame,
    value_col: str,
    probs: list[tuple[int, int]],
    bin_width: float,
    group_cols: list[str] | None = None,
) -> DataFrame:
    """End-to-end: bin + rank in one call."""
    return histogram_quantiles(
        histogram_bins(df, value_col, bin_width, group_cols),
        probs,
        bin_width,
        group_cols,
    )
