"""Paragraph-level CCNet filtering: score and keep/drop PARAGRAPHS, then
reassemble documents — the granularity the CCNet pipeline actually operates
at (per-paragraph perplexity against the KenLM model; documents keep their
clean paragraphs instead of dying whole).

Spark shape (the 100 TB view): posexplode(split) is a narrow map — no
shuffle to score; the only shuffle is the final groupBy(doc_id) reassembly
on a uniform key. Paragraph scoring reuses the same broadcast-model Arrow
UDF as document scoring.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

PARA_SPLIT = "\n"


def split_paragraphs(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text",
    sep: str = PARA_SPLIT,
) -> DataFrame:
    """(doc_id, para_idx, para) — one row per non-empty paragraph, original
    order preserved in para_idx. ``sep`` is a LITERAL string (quoted with
    \\Q...\\E before F.split, which otherwise treats it as a Java regex) so
    split and the rejoin in paragraph_filter agree for separators containing
    metacharacters like '.', '|' or '\\n\\n' (ADVICE r2)."""
    return (
        df.select(
            F.col(id_col).alias("doc_id"),
            F.posexplode(
                # java.util.regex.Pattern.quote semantics, incl. embedded \E
                F.split(
                    F.col(text_col),
                    "\\Q" + sep.replace("\\E", "\\E\\\\E\\Q") + "\\E",
                )
            ).alias("para_idx", "para"),
        )
        .filter(F.trim(F.col("para")) != "")
    )


def paragraph_dedup(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    sep: str = PARA_SPLIT,
) -> DataFrame:
    """CCNet's actual dedup step: drop DUPLICATE PARAGRAPHS across the whole
    corpus (first occurrence wins, ordered by (doc_id, para_idx)), then
    reassemble each document from its surviving paragraphs in original
    order. Documents whose every paragraph is a duplicate come out with
    empty text_clean (downstream length rules drop them) — exactly how CCNet
    removes boilerplate that repeats across a crawl.

    Scale shape: one shuffle on md5(paragraph) (uniform key — no skew even
    when one boilerplate line repeats 10^9 times, since the window only
    needs the per-hash MINIMUM, an agg+join, not a full sort); reassembly
    is one groupBy(doc_id). Returns (doc_id, n_paras, n_kept, text_clean)."""
    # r7: cached — the exploded paragraph table feeds the first-occurrence
    # aggregate AND the join-back; Catalyst does not reuse the split+md5
    # subtree across them (two full corpus passes without the cache)
    paras = split_paragraphs(df, id_col, text_col, sep).withColumn(
        "h", F.md5(F.col("para"))
    ).cache()
    # first occurrence per hash = min struct(doc_id, para_idx) — an
    # aggregate, not a window sort, so a mega-duplicate hash costs O(n)
    firsts = paras.groupBy("h").agg(
        F.min(F.struct("doc_id", "para_idx")).alias("first")
    )
    kept = paras.join(firsts, "h").withColumn(
        "keep",
        (F.col("doc_id") == F.col("first.doc_id"))
        & (F.col("para_idx") == F.col("first.para_idx")),
    )
    out = (
        kept.groupBy("doc_id")
        .agg(
            F.count("*").alias("n_paras"),
            F.sum(F.col("keep").cast("int")).alias("n_kept"),
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.when(F.col("keep"), F.struct("para_idx", "para"))
                        )
                    ),
                    lambda s: s["para"],
                ),
                sep,
            ).alias("text_clean"),
        )
    )
    # unpersist handle for long-lived sessions (cached_deps contract)
    out.cached_deps = [paras]
    return out


def paragraph_filter(
    df: DataFrame,
    bc_model,
    ppl_cutoff: float,
    min_tokens: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
    sep: str = PARA_SPLIT,
) -> DataFrame:
    """Per-paragraph perplexity keep/drop + document reassembly.

    Returns (doc_id, text_clean, n_paras, n_kept, kept_frac) where
    text_clean rejoins the surviving paragraphs with ``sep`` in original
    order. A document whose every paragraph is dropped keeps an empty
    text_clean (downstream length rules remove it)."""
    from ..spark.scoring import make_score_udf

    paras = split_paragraphs(df, id_col, text_col, sep)
    udf = make_score_udf(bc_model)
    scored = paras.withColumn("lm", udf(F.col("para"))).select(
        "doc_id", "para_idx", "para",
        F.col("lm.ppl").alias("ppl"),
        F.col("lm.tokens").alias("tokens"),
    )
    kept = scored.withColumn(
        "keep", (F.col("ppl") <= ppl_cutoff) & (F.col("tokens") >= min_tokens)
    )
    return (
        kept.groupBy("doc_id")
        .agg(
            F.count("*").alias("n_paras"),
            F.sum(F.col("keep").cast("int")).alias("n_kept"),
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.when(
                                F.col("keep"),
                                F.struct("para_idx", "para"),
                            )
                        )
                    ),
                    lambda s: s["para"],
                ),
                sep,
            ).alias("text_clean"),
        )
        .withColumn("kept_frac", F.col("n_kept") / F.col("n_paras"))
    )


def remove_boilerplate_paragraphs(
    df: DataFrame,
    max_count: int = 2,
    id_col: str = "doc_id",
    text_col: str = "text",
    sep: str = PARA_SPLIT,
) -> DataFrame:
    """MassiveText/RefinedWeb-style boilerplate removal (Rae et al. 2021
    repetition filters' corpus-level cousin; Penedo et al. 2023 line
    dedup): a paragraph occurring in MORE than ``max_count`` places
    corpus-wide is navigation/footer/cookie-notice boilerplate — remove
    it from EVERY document, including the first occurrence. The policy
    complement of ``paragraph_dedup`` (which keeps one canonical copy of
    genuinely quoted content): dedup preserves information, boilerplate
    removal deletes it, and real pipelines run dedup with a keep-one
    policy AND boilerplate removal with a kill-all policy at different
    thresholds.

    Scale shape: identical to paragraph_dedup — one shuffle on
    md5(paragraph) reduced to a per-hash COUNT (uniform key; a footer
    repeated 10^9 times is one aggregate row, never a window), the
    count table joined back on the hash, reassembly one groupBy(doc_id).

    Returns (doc_id, n_paras, n_kept, n_boiler, text_clean)."""
    if max_count < 1:
        raise ValueError(f"max_count must be >= 1, got {max_count}")
    # r7: cached — same two-consumer reuse as paragraph_dedup
    paras = split_paragraphs(df, id_col, text_col, sep).withColumn(
        "h", F.md5(F.col("para"))
    ).cache()
    freq = paras.groupBy("h").agg(F.count("*").cast("long").alias("n_occ"))
    kept = paras.join(freq, "h").withColumn(
        "keep", F.col("n_occ") <= F.lit(int(max_count))
    )
    out = (
        kept.groupBy("doc_id")
        .agg(
            F.count("*").alias("n_paras"),
            F.sum(F.col("keep").cast("int")).alias("n_kept"),
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.when(F.col("keep"), F.struct("para_idx", "para"))
                        )
                    ),
                    lambda s: s["para"],
                ),
                sep,
            ).alias("text_clean"),
        )
        .withColumn("n_boiler", (F.col("n_paras") - F.col("n_kept")))
    )
    # unpersist handle for long-lived sessions (cached_deps contract)
    out.cached_deps = [paras]
    return out
