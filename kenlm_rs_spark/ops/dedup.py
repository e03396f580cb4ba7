"""Deduplication operators for web-scale training data.

All variants are expressed as DataFrame plans over engine-portable hashing
(md5), so results are deterministic and independently checkable by a SQL
oracle. Scale notes per operator are inline — these are designed for the
10^12-document regime, not just the test tables.

- exact:        hash-groupBy on a normalized fingerprint. One shuffle on a
                uniformly distributed md5 key — no skew by construction.
- minhash LSH:  shingle -> K minhashes -> B bands -> bucket join. Candidate
                generation is a groupBy on (band, signature); verification is
                an exact Jaccard join restricted to bucket-mates. The band
                signature is a uniformly-random key, so the shuffle is
                balanced; only true near-duplicate clusters collide.
- simhash:      64-bit per-doc signature from per-shingle md5 bits; near-dup
                candidates share the signature (or a rotated prefix).
- ngram Jaccard: exact pairwise similarity via shingle inverted index —
                the verification kernel (use only behind a blocking stage at
                scale; frequency-capped below to bound the join fan-out).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .textstats import doc_fingerprint, ngrams_col


def exact_duplicates(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Groups of byte-identical (normalized) documents.

    Returns (fingerprint, group_size, keep_id=min id, dup_ids)."""
    return (
        df.select(
            F.col(id_col).alias("doc_id"),
            doc_fingerprint(F.col(text_col)).alias("fingerprint"),
        )
        .groupBy("fingerprint")
        .agg(
            F.count("*").alias("group_size"),
            F.min("doc_id").alias("keep_id"),
            F.sort_array(F.collect_list("doc_id")).alias("member_ids"),
        )
    )


def _shingles(text_col, n: int):
    return F.array_distinct(ngrams_col(text_col, n))


def shingle_table(df: DataFrame, id_col: str, text_col: str, n: int) -> DataFrame:
    """(doc_id, shingle) — distinct shingles per doc, plus per-doc set size."""
    base = df.select(
        F.col(id_col).alias("doc_id"),
        _shingles(F.col(text_col), n).alias("shingles"),
    ).withColumn("set_size", F.size("shingles"))
    return base.select(
        "doc_id", "set_size", F.explode("shingles").alias("shingle")
    )


def minhash_signatures(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_n: int = 3,
    num_hashes: int = 16,
    shingles: DataFrame | None = None,
) -> DataFrame:
    """K minhashes per doc. hash_i(s) = md5(i || ':' || s); the minimum is
    taken lexicographically over the fixed-width hex digest — a valid uniform
    permutation surrogate that is bit-identical in any engine with md5.

    ``shingles`` lets a composed pipeline (lsh_jaccard_dedup) pass a cached
    shingle table instead of re-tokenizing."""
    sh = shingles if shingles is not None else shingle_table(df, id_col, text_col, shingle_n)
    aggs = [
        F.min(F.md5(F.concat(F.lit(f"{i}:"), F.col("shingle")))).alias(f"mh{i}")
        for i in range(num_hashes)
    ]
    return sh.groupBy("doc_id").agg(*aggs)


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_n: int = 3,
    num_hashes: int = 16,
    bands: int = 4,
    shingles: DataFrame | None = None,
) -> DataFrame:
    """Candidate near-duplicate pairs: docs agreeing on any full band of
    minhashes. Returns (band, id_a, id_b) distinct pairs with id_a < id_b."""
    rows_per_band = num_hashes // bands
    sigs = minhash_signatures(df, id_col, text_col, shingle_n, num_hashes, shingles=shingles)
    band_cols = []
    for b in range(bands):
        cols = [F.col(f"mh{b * rows_per_band + r}") for r in range(rows_per_band)]
        band_cols.append(
            F.struct(F.lit(b).alias("band"), F.concat_ws("|", *cols).alias("sig"))
        )
    banded = sigs.select(
        "doc_id", F.explode(F.array(*band_cols)).alias("bs")
    ).select("doc_id", F.col("bs.band").alias("band"), F.col("bs.sig").alias("sig"))
    a = banded.alias("a")
    b = banded.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.sig") == F.col("b.sig"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("id_a"),
            F.col("b.doc_id").alias("id_b"),
        )
        .distinct()
    )
    return pairs


def lsh_jaccard_dedup(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_n: int = 3,
    num_hashes: int = 8,
    bands: int = 4,
    threshold: float = 0.5,
) -> DataFrame:
    """The composed 100 TB dedup shape: MinHash-LSH blocking -> exact Jaccard
    verify restricted to candidates (VERDICT r01 item 9).

    Returns (id_a, id_b, common, jaccard) for pairs at or above ``threshold``
    (pairs whose true Jaccard clears the threshold but that no band catches
    are the LSH recall trade-off, tunable via bands/rows-per-band).

    Shape (r7, guide §2.3/§2.4): the DOC-LEVEL shingle-array table is
    computed once and cached (it feeds the minhash signatures via one
    explode AND both verify sides).  Verification attaches each candidate
    doc's whole (distinct) shingle array by an id equi-join and computes
    common = size(array_intersect(sh_a, sh_b)) in the JVM — identical to
    counting shared shingle rows, since per-doc shingles are a distinct
    set.  The former shape instead joined the candidate table against the
    EXPLODED shingle table twice: the first join fanned every candidate
    pair out to all of a's shingles and re-shuffled that |cand| x |shingles|
    row set by (id_b, shingle) — the dominant exchange of the whole
    pipeline.  Now only the candidate docs' arrays move, once per side.
    Docs with an empty shingle set are dropped from the cached base exactly
    as explode dropped them (they can never be LSH candidates)."""
    base = (
        df.select(
            F.col(id_col).alias("doc_id"),
            _shingles(F.col(text_col), shingle_n).alias("shingles"),
        )
        .withColumn("set_size", F.size("shingles"))
        .filter(F.col("set_size") > 0)
        .cache()
    )
    sh = base.select("doc_id", "set_size", F.explode("shingles").alias("shingle"))
    cand = minhash_lsh_pairs(
        df, id_col, text_col, shingle_n, num_hashes, bands, shingles=sh
    )
    a = base.select(
        F.col("doc_id").alias("id_a"),
        F.col("set_size").alias("size_a"),
        F.col("shingles").alias("sh_a"),
    )
    b = base.select(
        F.col("doc_id").alias("id_b"),
        F.col("set_size").alias("size_b"),
        F.col("shingles").alias("sh_b"),
    )
    common = (
        cand.join(a, "id_a")
        .join(b, "id_b")
        .select(
            "id_a",
            "id_b",
            "size_a",
            "size_b",
            F.size(F.array_intersect("sh_a", "sh_b")).cast("long").alias("common"),
        )
    )
    out = (
        common
        # the former exploded verify JOIN could not produce zero-overlap
        # rows; keep that law explicit so threshold=0 behaves identically
        .filter(F.col("common") >= 1)
        .withColumn(
            "jaccard",
            F.col("common") / (F.col("size_a") + F.col("size_b") - F.col("common")),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "common", "jaccard")
    )
    # the cache must outlive the returned (lazy) plan, so the callee cannot
    # unpersist it; long-lived sessions unpersist via this handle (ADVICE r3)
    out.cached_deps = [base]
    return out


def within_freq_cap(rows: DataFrame, key: str, cap: int) -> DataFrame:
    """The rows whose ``key`` occurs in 2..``cap`` rows, filtered BEFORE any
    posting list is built: the count is a window over the key's hash
    partition (spillable rows, not an aggregation buffer), and a
    ``groupBy(key)`` above reuses that exchange — so no list ever holds more
    than ``cap`` elements and the plan keeps its exchange count. The price
    is one Sort of the rows by key inside each partition, and the
    map-side partial ``collect_list`` no longer combines anything. A
    count-first aggregate plus a semi-join avoids the sort but builds the
    rows twice, and measured slower."""
    freq = F.count("*").over(Window.partitionBy(key))
    return (
        rows.withColumn("_freq", freq)
        .filter((F.col("_freq") >= 2) & (F.col("_freq") <= cap))
        .drop("_freq")
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_n: int = 5,
    threshold: float = 0.5,
    max_shingle_freq: int = 1000,
) -> DataFrame:
    """Exact Jaccard over distinct shingle sets via inverted-index self-join.

    ``max_shingle_freq`` drops stop-shingles before pair generation — the
    fan-out cap that keeps the candidate count near-linear at corpus scale
    (a shingle in f docs contributes f^2 pairs).

    Shape (r7, guide §2.4): over-cap shingles are dropped by a window count
    (``within_freq_cap``) before ONE groupBy(shingle), on the same exchange,
    collects the doc-id-sorted posting list of (doc_id, set_size) structs;
    pairs are generated in-plan from that MATERIALIZED list column (bounded
    at max_shingle_freq elements — O(cap^2) HOF work over a leaf column,
    which is exactly the pair count itself), then one pair aggregate.  This
    replaces the former frequency groupBy + broadcast filter join +
    shingle-keyed self-join — two extra passes over the exploded shingle
    table and its cache disappear.  Pair sets and counts are identical:
    posting-list doc_ids are distinct (per-doc shingles are a distinct set)
    and sorting the struct list on its leading doc_id field reproduces the
    old a.doc_id < b.doc_id join condition."""
    sh = shingle_table(df, id_col, text_col, shingle_n)
    posting = (
        within_freq_cap(sh, "shingle", max_shingle_freq)
        .groupBy("shingle")
        .agg(F.sort_array(F.collect_list(F.struct("doc_id", "set_size"))).alias("ds"))
    )
    pairs = posting.select(
        F.explode(
            F.expr(
                "flatten(transform(ds, (a, i) -> "
                "transform(slice(ds, i + 2, size(ds) - i - 1), "
                "b -> struct(a.doc_id AS id_a, b.doc_id AS id_b, "
                "a.set_size AS size_a, b.set_size AS size_b))))"
            )
        ).alias("p")
    ).select("p.id_a", "p.id_b", "p.size_a", "p.size_b")
    common = (
        pairs.groupBy("id_a", "id_b", "size_a", "size_b")
        .agg(F.count("*").alias("common"))
    )
    out = (
        common.withColumn(
            "jaccard",
            F.col("common") / (F.col("size_a") + F.col("size_b") - F.col("common")),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "common", "jaccard")
    )
    # single-pass shape: no cache needed; keep the handle for caller contract
    out.cached_deps = []
    return out


def simhash_signatures(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_n: int = 2,
    bits: int = 16,
) -> DataFrame:
    """SimHash over shingle md5s: per-bit majority vote.

    bit_b(s) = bit b of the top-60-bit integer of md5(s); signature bit b is 1
    iff more shingles set it than not. ``bits`` kept modest so the SQL oracle
    stays tractable; the construction generalizes to 64 unchanged."""
    sh = shingle_table(df, id_col, text_col, shingle_n)
    h = F.conv(F.substring(F.md5(F.col("shingle")), 1, 15), 16, 10).cast("bigint")
    sh = sh.withColumn("h", h)
    votes = [
        F.sum(
            F.when(F.col("h").bitwiseAND(F.lit(1 << b)) != 0, 1).otherwise(-1)
        ).alias(f"v{b}")
        for b in range(bits)
    ]
    agg = sh.groupBy("doc_id").agg(*votes)
    sig = F.lit(0).cast("bigint")
    for b in range(bits):
        sig = sig + F.when(F.col(f"v{b}") > 0, F.lit(1 << b)).otherwise(0)
    return agg.select("doc_id", sig.alias("simhash"))


def simhash_duplicate_groups(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text",
    shingle_n: int = 2, bits: int = 16,
) -> DataFrame:
    """Docs sharing an identical simhash signature (hamming-0 buckets)."""
    sigs = simhash_signatures(df, id_col, text_col, shingle_n, bits)
    return (
        sigs.groupBy("simhash")
        .agg(F.count("*").alias("group_size"), F.min("doc_id").alias("keep_id"))
        .filter(F.col("group_size") > 1)
    )
