"""Exact duplicated-span statistics — the corpus-level exact-substring
signal of Lee et al. 2021 ("Deduplicating Training Data Makes Language
Models Better"): a span of L consecutive tokens that occurs more than once
ANYWHERE in the corpus is boilerplate/duplication pressure; per document we
report how much of it is made of such spans (the drop/trim signal their
ExactSubstr dedup acts on).

Spark shape (vs the paper's suffix array, which is a single-machine
construction): explode every L-token span with its position (the L-fold
blowup is the price of distribution; the reference point is that one
corpus-wide suffix array cannot be built on 10^12 docs anyway), hash-count
spans in one uniform-key groupBy, then one shuffle join back on the span
hash and a per-doc aggregate. At 100 TB the span column is xxhash64(span)
(8 bytes) rather than the string — collision odds are negligible for a
FRACTION statistic — and a HAVING count>=2 pre-filter on the count side
keeps the join input to actually-duplicated spans only (duplicated spans
are a small minority in a deduped corpus). The gate row keeps the string
form so the DuckDB twin is byte-faithful.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .textstats import ngrams_col, tokens_col


def duplicated_span_stats(
    df: DataFrame,
    n: int = 5,
    id_col: str = "doc_id",
    text_col: str = "text",
    hashed: bool = False,
) -> DataFrame:
    """(doc_id, n_spans, n_dup_spans, dup_span_frac): n_spans = number of
    L-token span positions in the doc; a position is duplicated iff its
    span occurs >= 2 times across the whole corpus (including within-doc
    repeats — the Lee et al. notion of 'occurs more than once');
    dup_span_frac = n_dup_spans / n_spans (null for docs shorter than L).

    ``hashed=True`` is the 10^12-doc path: spans become xxhash64 longs
    before the groupBy/join, shrinking shuffle bytes ~10x on 13-grams.

    Shape (r7 second pass, guide §2.3): n_spans is the ngram ARRAY SIZE —
    no explode, no shuffle; only the duplicate side explodes: the span
    table feeds the global count and an INNER join against the cnt>=2
    spans, so the per-doc aggregation exchanges ONLY duplicated
    occurrences (the former left-join + groupBy re-shuffled every span
    occurrence of the corpus a second time just to count them per doc)."""
    spans = df.select(
        F.col(id_col).alias("doc_id"),
        F.explode(ngrams_col(F.col(text_col), n)).alias("span"),
    )
    if hashed:
        spans = spans.select("doc_id", F.xxhash64("span").alias("span"))
    # r7: cached — the exploded span table feeds the global count AND the
    # duplicate join-back, and Catalyst does not reuse the explode subtree
    # across them (two full tokenize+ngram passes without the cache)
    spans = spans.cache()
    counts = (
        spans.groupBy("span")
        .agg(F.count("*").alias("cnt"))
        .filter(F.col("cnt") >= 2)
        .select("span")
    )
    dup_per_doc = (
        spans.join(counts, "span")
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_dup_spans"))
    )
    out = (
        df.select(
            F.col(id_col).alias("doc_id"),
            # null text produced zero explode rows in the old shape — keep
            # the 0, never size(NULL)'s ANSI-dependent -1/NULL
            F.when(F.col(text_col).isNull(), F.lit(0))
            .otherwise(F.size(ngrams_col(F.col(text_col), n)))
            .cast("long")
            .alias("n_spans"),
        )
        .join(dup_per_doc, "doc_id", "left")
        .select(
            "doc_id",
            "n_spans",
            F.coalesce("n_dup_spans", F.lit(0)).alias("n_dup_spans"),
            F.when(
                F.col("n_spans") > 0,
                F.round(
                    F.coalesce("n_dup_spans", F.lit(0)) / F.col("n_spans"), 9
                ),
            ).alias("dup_span_frac"),
        )
    )
    # unpersist handle for long-lived sessions (cached_deps contract)
    out.cached_deps = [spans]
    return out


def remove_duplicated_spans(
    df: DataFrame,
    n: int = 5,
    id_col: str = "doc_id",
    text_col: str = "text",
    hashed: bool = False,
) -> DataFrame:
    """ExactSubstr-style span REMOVAL (Lee et al. 2021 §3.1, positional
    token variant): every corpus-duplicated L-token span is cut from the
    text EXCEPT its canonical (first) occurrence — the keep-one policy.

    Canonical occurrence = min(doc_id * 10^9 + pos) over the span's
    occurrences (exact integer arithmetic shared with the SQL twin; the
    10^9 stride bounds pos < 10^9 and doc_id < 9.2*10^9 — at a larger id
    space switch the key to min(struct(doc_id, pos))). Tokens of a kept
    canonical occurrence can still be removed when an OVERLAPPING
    duplicated span is canonical elsewhere — position-level resolution,
    deterministic in both engines.

    Output: (doc_id, cleaned_text, n_tokens, n_removed). cleaned_text is
    the kept tokens re-joined with single spaces (token-stream semantics —
    original inter-token whitespace is not preserved); '' when everything
    was duplicated or the text is NULL, and for docs shorter than L tokens
    the text is just re-joined unchanged.

    Scale shape (r7 second pass, guide §2.3): one uniform-key groupBy on
    the span (hashed=True makes it an 8-byte xxhash64 key at 10^12 docs),
    one join back restricted by the count>=2 HAVING filter to
    actually-duplicated spans, then ONLY the removed POSITIONS move: they
    aggregate per doc into a set and attach to the documents by one
    doc-keyed join; the cleaned text is rebuilt in-plan by filtering the
    token array against that set (per-element work over leaf columns — no
    corpus-token explode ever shuffles).  The former shape instead
    anti-joined an exploded corpus-token table against the covered
    positions and re-assembled docs with a sort_array/collect_list
    groupBy — two corpus-token-sized exchanges that are now gone.
    n_removed = |removed set| exactly (every covered position indexes a
    real token), so nothing is evaluated twice.
    """
    spans = df.select(
        F.col(id_col).alias("doc_id"),
        F.posexplode(ngrams_col(F.col(text_col), n)).alias("pos", "span"),
    )
    if hashed:
        spans = spans.select("doc_id", "pos", F.xxhash64("span").alias("span"))
    key = F.col("doc_id") * F.lit(1_000_000_000) + F.col("pos")
    # r7: cached — occ feeds the duplicate aggregate AND the starts join
    # (same no-CSE reuse reasoning as duplicated_span_stats)
    occ = spans.select("doc_id", "pos", "span", key.alias("k")).cache()
    dup = (
        occ.groupBy("span")
        .agg(F.count("*").alias("cnt"), F.min("k").alias("first_k"))
        .filter(F.col("cnt") >= 2)
        .select("span", "first_k")
    )
    starts = occ.join(dup, "span").filter(F.col("k") != F.col("first_k"))
    removed = (
        starts.select(
            "doc_id",
            F.explode(
                F.sequence(F.col("pos"), F.col("pos") + F.lit(n - 1))
            ).alias("tpos"),
        )
        .groupBy("doc_id")
        .agg(F.collect_set("tpos").alias("_rm"))
    )

    def _kept(x, i):
        # (element, index) filter: drop tokens whose position is covered by
        # a non-canonical duplicated span; _rm is a join-attribute leaf, so
        # the lambda re-evaluates nothing (not the HOF-inlining pathology)
        return ~F.coalesce(F.array_contains(F.col("_rm"), i), F.lit(False))

    toks = tokens_col(F.col(text_col))
    out = (
        df.select(
            F.col(id_col).alias("doc_id"), F.col(text_col).alias(text_col)
        )
        .join(removed, "doc_id", "left")
        .select(
            "doc_id",
            # NULL text -> '' (array_join over a NULL token array is NULL)
            F.coalesce(
                F.array_join(F.filter(toks, _kept), " "), F.lit("")
            ).alias("cleaned_text"),
            F.size(toks).cast("long").alias("n_tokens"),
            # explicit null branch: size(NULL) is -1/NULL depending on the
            # session's ANSI setting — never let that leak into the count
            F.when(F.col("_rm").isNull(), F.lit(0))
            .otherwise(F.size("_rm"))
            .cast("long")
            .alias("n_removed"),
        )
    )
    # unpersist handle for long-lived sessions (cached_deps contract)
    out.cached_deps = [occ]
    return out
