"""CCNet-style keep/drop decision: heuristic rules + perplexity buckets.

All rule columns are pure Spark SQL (whole-stage codegen); only the KenLM
perplexity and langid columns come from the pandas UDFs. The decision is an
ordered rule chain — first failing rule wins, recorded as drop_reason for
lineage (FIXTURES.md §4 expected-output schema).
"""

from __future__ import annotations

import operator

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..ops import textstats as ts

# frozen rule thresholds (versioned — changing any of these changes keep/drop
# labels, so bump RULES_VERSION)
# v2: exact-percentile tertile thresholds (was percentile_approx) + thresholds
#     computed over text_scrubbed (was unscrubbed text) — ADVICE r01
RULES_VERSION = 2
MIN_TOKENS = 8
MAX_SYMBOL_RATIO = 0.12
MAX_DIGIT_RATIO = 0.30
MAX_DUP3_FRAC = 0.50
MIN_LANG_CONF = 0.35


def rule_columns(df: DataFrame, text_col: str = "text") -> DataFrame:
    return ts.quality_features(df, text_col)


def bucket_col(ppl: Column, head: Column, tail: Column) -> Column:
    """head/middle/tail by per-language perplexity thresholds."""
    return (
        F.when(ppl <= head, "head").when(ppl >= tail, "tail").otherwise("middle")
    )


# the CCNet rule chain, (drop_reason, column, op, limit) in rule order: the
# first failing rule names the drop. "lang_conf" and "bucket" stand for
# decide's lang_conf_col and bucket arguments.
DECIDE_RULES = (
    ("too_short", "n_tokens", operator.lt, MIN_TOKENS),
    ("symbol_ratio", "symbol_ratio", operator.gt, MAX_SYMBOL_RATIO),
    ("digit_ratio", "digit_ratio", operator.gt, MAX_DIGIT_RATIO),
    ("repetition", "dup3_frac", operator.gt, MAX_DUP3_FRAC),
    ("lang_confidence", "lang_conf", operator.lt, MIN_LANG_CONF),
    ("ppl_tail", "bucket", operator.eq, "tail"),
)


def decide(
    df: DataFrame,
    ppl_col: str = "ppl",
    bucket: str = "bucket",
    lang_conf_col: str | None = "lang_conf",
) -> DataFrame:
    """Attach keep boolean + drop_reason (first failing rule, fixed order).
    The lang_confidence rule applies only when ``lang_conf_col`` names a
    column of ``df``."""
    cols = {"lang_conf": lang_conf_col, "bucket": bucket}
    reason = F.lit(None).cast("string")
    for name, col, op, limit in reversed(DECIDE_RULES):
        if col == "lang_conf" and lang_conf_col not in df.columns:
            continue
        reason = F.when(op(F.col(cols.get(col, col)), limit), name).otherwise(reason)
    return df.withColumn("drop_reason", reason).withColumn(
        "keep", F.col("drop_reason").isNull()
    )


def resample_u_col(key_col: str, seed: str = "ccnet") -> Column:
    """Deterministic uniform u(seed:key) in [0,1): first 8 md5 hex digits
    scaled — the sampling primitive shared by bucket_resample and the
    filter job's opt-in resampling stage."""
    return (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit(f"{seed}:"), F.col(key_col).cast("string"))),
                1, 8,
            ),
            16, 10,
        ).cast("double")
        / float(1 << 32)
    )


def resample_weight_col(weights: dict[str, float], bucket: str = "bucket") -> Column:
    w = F.lit(0.0)
    for name, weight in sorted(weights.items()):
        w = F.when(F.col(bucket) == name, float(weight)).otherwise(w)
    return w


def bucket_resample(
    df: DataFrame,
    weights: dict[str, float],
    key_col: str = "doc_id",
    bucket: str = "bucket",
    seed: str = "ccnet",
) -> DataFrame:
    """CCNet-style per-bucket resampling (the head/middle/tail sampling step
    of the CCNet pipeline: keep head documents at a higher rate than middle/
    tail instead of a hard drop). DETERMINISTIC: the keep decision is a pure
    function of (seed, key) — u(key) = first 8 md5 hex digits of
    ``seed:key`` scaled to [0,1), kept iff u < weight[bucket] — so reruns,
    resumes, and a SQL oracle reproduce the exact sample; no RNG state, no
    per-partition seed coupling, trivially engine-portable (md5 everywhere).

    Unknown buckets keep weight 0.0. Returns the input columns plus
    ``sample_u`` for auditability, filtered to the kept rows."""
    return df.withColumn("sample_u", resample_u_col(key_col, seed)).filter(
        F.col("sample_u") < resample_weight_col(weights, bucket)
    )


def ppl_thresholds(
    df: DataFrame, lang_col: str = "lang_pred", ppl_col: str = "ppl",
    probs=(1.0 / 3.0, 2.0 / 3.0), rel_err: float = 0.01,
    exact: bool = True,
) -> dict[str, tuple[float, float]]:
    """Per-language head/tail thresholds = empirical tertiles of document
    perplexity (SURVEY.md §7 step 12). ONE pass: groupBy(lang) + percentile
    aggregate (partial aggregation map-side), instead of a per-language
    approxQuantile loop that would rescan the upstream plan once per language.

    ``exact=True`` (default) uses the exact linear-interpolation percentile —
    deterministic and engine-portable (DuckDB ``quantile_cont`` computes the
    same definition), so thresholds and downstream keep/drop labels are
    oracle-checkable. At 10^12-doc scale pass ``exact=False`` (t-digest
    percentile_approx, bounded memory per group) and/or compute thresholds on
    a sample, as run_filter_job does."""
    accuracy = max(int(1.0 / rel_err), 100)
    if exact:
        agg = F.percentile(ppl_col, F.lit(list(probs))).alias("qs")
    else:
        agg = F.percentile_approx(ppl_col, list(probs), accuracy).alias("qs")
    rows = (
        df.filter(F.col(lang_col).isNotNull())
        .groupBy(lang_col)
        .agg(agg)
        .collect()
    )
    return {
        r[lang_col]: (float(r["qs"][0]), float(r["qs"][1]))
        for r in rows
        if r["qs"] and len(r["qs"]) == 2 and r["qs"][0] is not None
    }


def with_buckets(
    df: DataFrame, thresholds: dict[str, tuple[float, float]],
    lang_col: str = "lang_pred", ppl_col: str = "ppl",
) -> DataFrame:
    """Derive the bucket from one literal CASE on ``lang_col`` over the
    threshold map: head when ``ppl <= t_head``, tail when ``ppl >= t_tail``,
    else middle. A language with no thresholds, or a NULL language, is
    middle. A projection, not a join: no threshold table, no job."""
    ppl, lang = F.col(ppl_col), F.col(lang_col)
    bucket = F.lit("middle")
    for name, (head, tail) in sorted(thresholds.items(), reverse=True):
        bucket = F.when(
            lang == name, bucket_col(ppl, F.lit(float(head)), F.lit(float(tail)))
        ).otherwise(bucket)
    return df.withColumn("bucket", bucket)
