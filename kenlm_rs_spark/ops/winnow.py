"""Winnowing document fingerprints (Schleimer, Wilkerson, Aiken 2003,
"Winnowing: Local Algorithms for Document Fingerprinting" — the MOSS
scheme): hash every character k-gram, slide a window of w consecutive
hashes, keep each window's minimum — guaranteeing any shared substring of
length >= k + w - 1 between two documents shares at least one fingerprint.
The scalable cousin of exact-substring dedup (Lee et al. 2021): explode
the fingerprints, group by fingerprint, and doc pairs sharing one are
substring-overlap candidates — same blocking shape as MinHash-LSH, but
with a positional guarantee instead of a probabilistic one.

Engine-portable hash law: a k-gram's hash is the first 8 hex chars of its
md5, compared LEXICOGRAPHICALLY (the same string-min trick the MinHash
ops use) — so a DuckDB oracle reproduces the exact fingerprint sets.

Execution path: an Arrow pandas UDF, NOT a Catalyst expression chain.
This was measured, not assumed: the expression form
(transform(sequence(..), i -> array_min(slice(H, i, w)))) re-evaluates
the ENTIRE k-gram-hash subexpression H once per window element because
Catalyst inlines collapsed projections into higher-order-function lambdas
— an O(n^2)-md5 blowup that turned a sub-second stage into minutes (the
inlined DuckDB comprehension had the identical pathology until its hash
list was materialized in a CTE). CPython's hashlib md5 over n k-grams per
document is O(n) and Arrow-batched.

Plan shape: fingerprint extraction is one ArrowEvalPython projection, no
shuffle; candidate generation on top is one explode + groupBy(fingerprint)
on a uniform key.
"""

from __future__ import annotations

import hashlib

import pandas as pd  # module-level: pandas_udf resolves type hints here
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

from .dedup import within_freq_cap

K_GRAM = 8
WINDOW = 4


def _winnow_one(text: str, k: int, w: int) -> list[str]:
    if text is None:
        return []
    n = len(text) - (k - 1)
    if n < 1:
        return []
    hashes = [
        hashlib.md5(text[i : i + k].encode("utf-8")).hexdigest()[:8]
        for i in range(n)
    ]
    if len(hashes) < w:
        mins = hashes
    else:
        mins = [min(hashes[i : i + w]) for i in range(len(hashes) - (w - 1))]
    return sorted(set(mins))


def make_winnow_udf(k: int = K_GRAM, w: int = WINDOW):
    @pandas_udf("array<string>")
    def winnow_udf(texts: pd.Series) -> pd.Series:
        return texts.map(lambda t: _winnow_one(t, k, w))

    return winnow_udf


def winnow_fingerprints(text: Column, k: int = K_GRAM, w: int = WINDOW) -> Column:
    """Sorted distinct window-minimum fingerprints of the text."""
    return make_winnow_udf(k, w)(text)


def winnow_table(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = K_GRAM,
    w: int = WINDOW,
) -> DataFrame:
    """(doc_id, fingerprint) exploded — the inverted-index side for
    substring-overlap candidate generation (groupBy fingerprint)."""
    return df.select(
        F.col(id_col).alias("doc_id"),
        F.explode(winnow_fingerprints(F.col(text_col), k, w)).alias("fingerprint"),
    )


def winnow_candidate_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = K_GRAM,
    w: int = WINDOW,
    max_fp_freq: int = 50,
    min_shared: int = 20,
) -> DataFrame:
    """(id_a, id_b, shared_fps): substring-overlap candidate pairs sharing
    at least ``min_shared`` winnowed fingerprints.

    ``max_fp_freq`` drops boilerplate fingerprints before pair generation —
    the same fan-out cap as the shingle inverted index (a fingerprint in f
    docs contributes f^2 candidate rows; capping bounds the blow-up at
    corpus scale).

    Shape (r7, guide §2.4): over-cap fingerprints are dropped by a window
    count (``within_freq_cap``) before ONE groupBy(fingerprint), on the same
    exchange, collects the sorted doc-id posting list; pairs are generated
    in-plan from that MATERIALIZED list column (bounded at max_fp_freq
    elements, so the HOF is O(cap^2) on a leaf column — not the
    inlined-subexpression pathology), and one pair aggregate finishes.
    This replaces the former frequency groupBy + filter join +
    fingerprint-keyed self-join: 3 exchanges of the exploded table + a join
    collapse into a single exchange, and the fingerprint table no longer
    needs a cache (single consumer).  Pair sets
    and counts are identical: list elements are distinct doc_ids (each doc's
    fingerprints are a sorted set), sort_array gives id_a < id_b exactly as
    the old a.doc_id < b.doc_id join condition did."""
    t = winnow_table(df, id_col, text_col, k, w)
    posting = (
        within_freq_cap(t, "fingerprint", max_fp_freq)
        .groupBy("fingerprint")
        .agg(F.sort_array(F.collect_list("doc_id")).alias("ids"))
    )
    pairs = posting.select(
        F.explode(
            F.expr(
                "flatten(transform(ids, (x, i) -> "
                "transform(slice(ids, i + 2, size(ids) - i - 1), "
                "y -> struct(x AS id_a, y AS id_b))))"
            )
        ).alias("p")
    ).select("p.id_a", "p.id_b")
    out = (
        pairs.groupBy("id_a", "id_b")
        .agg(F.count("*").alias("shared_fps"))
        .filter(F.col("shared_fps") >= min_shared)
    )
    # no cache needed in this shape; keep the handle for caller symmetry
    out.cached_deps = []
    return out


# ---- DuckDB oracle twins -------------------------------------------------

def kgram_hashes_sql(col: str, k: int = K_GRAM) -> str:
    """DuckDB k-gram hash list (materialize through a CTE before windowing
    — see winnow_from_hashes_sql)."""
    return (
        f"[substring(md5(substring({col}, i + 1, {k})), 1, 8) "
        f"for i in range(length({col}) - {k - 1})]"
    )


def winnow_from_hashes_sql(hcol: str, w: int = WINDOW) -> str:
    """Window-minimum selection over a PRE-MATERIALIZED hash-list column.
    Inlining kgram_hashes_sql here re-evaluates it once per comprehension
    element — the same O(n^2) blowup the Spark expression path had."""
    return (
        f"list_sort(list_distinct(CASE WHEN len({hcol}) >= {w} THEN "
        f"[list_min({hcol}[i + 1 : i + {w}]) for i in range(len({hcol}) - {w - 1})] "
        f"ELSE {hcol} END))"
    )
