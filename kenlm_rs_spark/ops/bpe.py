"""Byte-pair-encoding subword training and segmentation (Sennrich, Haddow &
Birch 2016, "Neural Machine Translation of Rare Words with Subword Units").

The algorithm the reference's tokenizer consumers assume upstream: start
from characters (plus an end-of-word marker), repeatedly merge the most
frequent adjacent symbol pair, k times; segment new text by replaying the
merge list in order.

Scale shape (100 TB): the ONLY corpus-scale stage is the initial word
count — one tokenize + groupBy(word).sum, map-side combined, after which
everything operates on the VOCABULARY table (distinct words × frequency):
web-scale corpora have ~10^7-10^8 distinct words regardless of token count,
i.e. executor-memory-sized per partition. Each merge round is

  1. one explode of adjacent symbol pairs weighted by word frequency +
     one groupBy(a, b).sum — partial-aggregated, uniformly keyed;
  2. a 1-ROW collect of the argmax pair (count desc, then lexicographic
     (a, b) — fully deterministic);
  3. one narrow Arrow stage applying the merge left-to-right greedily to
     each word's symbol array (per-row sequential scan: a pandas UDF by
     necessity, and the arrays are word-length — tiny).

Rounds persist + unpersist their predecessor (iterative lineage truncation,
same discipline as ops/components.py). Pair counting includes overlapping
occurrences while merging is non-overlapping left-to-right — the exact
convention of the original implementation; the sequential twin
(``bpe_train_py``, used to freeze the oracle fixture) shares it by
construction.
"""

from __future__ import annotations

import os

import pandas as pd  # module-level: pandas_udf resolves type hints here
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from . import collect_bounded

END_OF_WORD = "</w>"


# ----------------------------------------------------------- sequential twin
def _merge_word(sym: list[str], a: str, b: str) -> list[str]:
    out, i, ab = [], 0, a + b
    while i < len(sym):
        if i + 1 < len(sym) and sym[i] == a and sym[i + 1] == b:
            out.append(ab)
            i += 2
        else:
            out.append(sym[i])
            i += 1
    return out


def bpe_train_py(
    word_counts: dict[str, int], n_merges: int
) -> list[tuple[str, str, int]]:
    """Sequential reference implementation (freeze-oracle twin): returns
    [(left, right, pair_count), ...] in merge order."""
    vocab = {w: [*w, END_OF_WORD] for w in word_counts}
    merges: list[tuple[str, str, int]] = []
    for _ in range(n_merges):
        stats: dict[tuple[str, str], int] = {}
        for w, sym in vocab.items():
            n = word_counts[w]
            for i in range(len(sym) - 1):
                p = (sym[i], sym[i + 1])
                stats[p] = stats.get(p, 0) + n
        if not stats:
            break
        (a, b), cnt = min(
            stats.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1])
        )
        merges.append((a, b, cnt))
        vocab = {w: _merge_word(s, a, b) for w, s in vocab.items()}
    return merges


def bpe_segment_py(
    word: str, merges: list[tuple[str, str, int]]
) -> list[str]:
    sym = [*word, END_OF_WORD]
    for a, b, _ in merges:
        if len(sym) == 1:
            break
        sym = _merge_word(sym, a, b)
    return sym


# ------------------------------------------------------------- Spark trainer
def word_counts(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Corpus → (word, n): the one corpus-scale stage."""
    from kenlm_rs_spark.ops.textstats import tokens_col

    return (
        df.select(F.explode(tokens_col(F.col(text_col))).alias("word"))
        .groupBy("word")
        .agg(F.count("*").cast("long").alias("n"))
    )


#: When the distinct-word vocabulary fits under this bound, training runs
#: on the driver over the collected (word, n) table — the vocabulary is
#: MODEL-sized state (web-scale corpora have ~10^7-10^8 distinct words
#: regardless of token count, the same class as the discount/gamma collects
#: in builder/lmplz.py), and the sequential trainer over it removes 2*k
#: Spark jobs (12 merge rounds = 24 jobs measured at 14.2 s on sf0.1 vs
#: one word-count aggregation at ~0.5 s; guide §8: decide on the small
#: table). Above the bound the distributed per-round path below runs
#: unchanged. Env-tunable for clusters whose driver can hold more/less.
LOCAL_MAX_WORDS = int(os.environ.get("KENLM_BPE_LOCAL_MAX_WORDS", "2000000"))


def bpe_train(
    wc: DataFrame, n_merges: int, local_max_words: int | None = None
) -> list[tuple[str, str, int]]:
    """Distributed BPE training over a (word, n) vocabulary table. Returns
    the merge list [(left, right, pair_count), ...] — model-sized driver
    state, like the discount/gamma collects in builder/lmplz.py.

    Hybrid execution: if the vocabulary has at most ``local_max_words``
    distinct words (default ``LOCAL_MAX_WORDS``), the merge loop runs on
    the driver via ``bpe_train_py`` — the sequential twin that FREEZES the
    oracle fixture, so the result is identical by construction — after one
    bounded Arrow collect (``collect_bounded``). Pass ``local_max_words=0`` to force
    the distributed path."""
    if n_merges < 1:
        raise ValueError(f"n_merges must be >= 1, got {n_merges}")
    cap = LOCAL_MAX_WORDS if local_max_words is None else local_max_words
    if cap > 0:
        head = collect_bounded(wc.select("word", "n"), cap)
        if head is not None:
            return bpe_train_py(
                dict(zip(head["word"].to_pylist(), map(int, head["n"].to_pylist()))),
                n_merges,
            )
    spark = wc.sparkSession

    vocab = wc.select(
        "n",
        (
            # split between characters only: (?!^) alone also matches at
            # end-of-string in Java regex, yielding a trailing '' symbol;
            # (?=.) requires a following char (tokens contain no newlines —
            # TOKEN_SPLIT removed them)
            F.concat(
                F.split(F.col("word"), "(?!^)(?=.)"),
                F.array(F.lit(END_OF_WORD)),
            )
        ).alias("sym"),
    ).persist()
    vocab.count()

    def make_merger(a: str, b: str):
        # closure factory, NOT default-arg capture (CLAUDE.md HOF gotcha;
        # also pandas_udf signatures admit Series params only)
        @F.pandas_udf("array<string>")
        def apply_merge(syms: pd.Series) -> pd.Series:
            return syms.map(lambda s: _merge_word(list(s), a, b))

        return apply_merge

    merges: list[tuple[str, str, int]] = []
    try:
        for _ in range(n_merges):
            sz = F.size("sym")
            pairs = F.zip_with(
                F.slice(F.col("sym"), 1, sz - 1),
                F.slice(F.col("sym"), 2, sz - 1),
                lambda a, b: F.struct(a.alias("a"), b.alias("b")),
            )
            top = (
                vocab.filter(sz >= 2)
                .select(F.explode(pairs).alias("p"), "n")
                .groupBy("p.a", "p.b")
                .agg(F.sum("n").alias("cnt"))
                .orderBy(F.desc("cnt"), F.asc("a"), F.asc("b"))
                .limit(1)
                .collect()
            )
            if not top:
                break
            a, b, cnt = top[0]["a"], top[0]["b"], int(top[0]["cnt"])
            merges.append((a, b, cnt))
            apply_merge = make_merger(a, b)
            nxt = vocab.select("n", apply_merge("sym").alias("sym")).persist()
            nxt.count()
            vocab.unpersist()
            vocab = nxt
    finally:
        vocab.unpersist()
    return merges


def bpe_segment(
    df: DataFrame,
    merges: list[tuple[str, str, int]],
    text_col: str = "text",
    out_col: str = "bpe_tokens",
) -> DataFrame:
    """Segment text with a trained merge list: tokenize, replay merges per
    distinct word (memoized per Arrow batch), concatenate. One narrow Arrow
    stage — merges ship as a closure (model-sized)."""
    from kenlm_rs_spark.ops.textstats import tokens_col

    mlist = [(a, b) for a, b, _ in merges]

    @F.pandas_udf("array<string>")
    def seg(words_col: pd.Series) -> pd.Series:
        cache: dict[str, list[str]] = {}

        def one(word: str) -> list[str]:
            hit = cache.get(word)
            if hit is None:
                sym = [*word, END_OF_WORD]
                for a, b in mlist:
                    if len(sym) == 1:
                        break
                    sym = _merge_word(sym, a, b)
                cache[word] = hit = sym
            return hit

        return words_col.map(
            lambda ws: [t for w in ws for t in one(w)]
        )

    return df.withColumn(out_col, seg(tokens_col(F.col(text_col))))
