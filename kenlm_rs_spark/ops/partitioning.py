"""Partitioning & skew utilities (north_rule: explicit salted repartitioning
by url-hash to tame mega-domain skew).

Hashing the FULL url spreads a mega-domain's pages uniformly (the path is the
salt). When the partition key must be the domain itself (e.g. per-domain
aggregation), `salted_domain_key` fans hot domains out over ``salt_buckets``
sub-keys detected from an (approximate) frequency pass, and the aggregate is
recombined in a second reduce — the classic two-level salted aggregation.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def url_domain(url: Column) -> Column:
    return F.regexp_extract(url, r"^[a-z]+://([^/]+)", 1)


def repartition_by_url(df: DataFrame, partitions: int, url_col: str = "url") -> DataFrame:
    """Uniform repartitioning regardless of domain skew."""
    return df.repartition(partitions, F.xxhash64(url_col))


def hot_keys(df: DataFrame, key: Column, threshold_fraction: float = 0.01,
             rsd: float = 0.05) -> list:
    """Detect heavy-hitter keys holding more than ``threshold_fraction`` of
    rows in ONE driver wave: the total is a 1-row aggregate over the grouped
    counts (it reuses their exchange), broadcast and cross-joined back onto
    them, so no task ever holds all (key, count) rows — a whole-frame window
    would move them into one partition; only the per-partition partial sums
    meet there. sum(c) == df.count() exactly, and the long*double threshold
    product is the same IEEE multiply."""
    counts = df.groupBy(key.alias("k")).agg(F.count("*").alias("c"))
    total = counts.agg(F.sum("c").alias("_total"))
    rows = (
        counts.crossJoin(F.broadcast(total))
        .filter(F.col("c") >= F.col("_total") * F.lit(threshold_fraction))
        .collect()
    )
    return [r["k"] for r in rows]


def salted_domain_key(
    df: DataFrame, url_col: str = "url", hot: list | None = None,
    salt_buckets: int = 16,
) -> DataFrame:
    """Adds ``domain`` and ``domain_salted`` columns: hot domains get
    ``domain#<xxhash64(url) % B>`` sub-keys, cold domains keep ``domain``.
    groupBy(domain_salted) then re-reduce by domain."""
    d = df.withColumn("domain", url_domain(F.col(url_col)))
    if not hot:
        return d.withColumn("domain_salted", F.col("domain"))
    hot_arr = F.array(*[F.lit(h) for h in hot])
    salted = F.concat(
        F.col("domain"), F.lit("#"),
        (F.pmod(F.xxhash64(url_col), F.lit(salt_buckets))).cast("string"),
    )
    return d.withColumn(
        "domain_salted",
        F.when(F.array_contains(hot_arr, F.col("domain")), salted).otherwise(
            F.col("domain")
        ),
    )


def salted_domain_counts(df: DataFrame, url_col: str = "url",
                         threshold_fraction: float = 0.01,
                         salt_buckets: int = 16) -> DataFrame:
    """Two-level skew-safe per-domain count: salt hot domains, partial
    aggregate on the salted key, then final reduce on the true domain."""
    d0 = df.withColumn("domain", url_domain(F.col(url_col)))
    hot = hot_keys(d0, F.col("domain"), threshold_fraction)
    d = salted_domain_key(df, url_col, hot, salt_buckets)
    partial = d.groupBy("domain_salted", "domain").agg(F.count("*").alias("c"))
    return partial.groupBy("domain").agg(F.sum("c").alias("docs"))
