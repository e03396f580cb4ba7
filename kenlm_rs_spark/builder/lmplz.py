"""lmplz-lite: interpolated modified Kneser-Ney LM estimation as a Spark
DataFrame dataflow.

This re-expresses the reference's streaming estimation pipeline
(/root/reference/src/cxx/lm/builder/pipeline.cc:339-377) Spark-first. Stage
mapping (SURVEY.md §2.4):

  A1 CorpusCount   -> explode <s>-truncated windows, groupBy(gram).count()
                      (corpus_count.cc; partial aggregation = the reference's
                      per-block hash dedupe + combiner A2); cached, so the
                      corpus is read and tokenized ONCE
  A3 AdjustCounts  -> repartition and sort by LAST WORD (the reference's
                      suffix order), then one Arrow kernel cascades N -> 1
                      per last word: continuation counts = distinct left
                      extensions; <s>-initial grams keep raw counts
                      (adjust_counts.hh:33-56); the <s> unigram is a 1-row
                      sum. n_1..n_4 statistics and Chen-Goodman eq. 26
                      discounts come from one collected aggregate
                      (adjust_counts.cc:47-74)
  A4 InitialProbs  -> orders >= 2 repartitioned by (n, context) (the
                      reference's context order); one kernel sums each
                      context: u = (a - D(a))/sum per surviving gram, with
                      gamma = (D1 N1 + D2 N2 + D3 N3+ + pruned)/sum attached,
                      plus one gamma row per context. The empty (unigram)
                      context is driver scalars from a 1-row aggregate
                      (initial_probabilities.cc)
  A5 Interpolate   -> A4 rows repartitioned by last word again (a gram, its
                      backoff suffix and its own gamma row share it); one
                      kernel walks the orders ascending:
                      p = u + gamma(ctx) * p_{n-1}(suffix), unigram base
                      uniform 1/(vocab-1) (interpolate.hh:21-23) — the
                      suffix-sorted merge J1 without a per-order join

Each kernel is a ``mapInArrow`` over a ``repartition(key)`` (hash, so a
key's rows are in one task; never ``rebalance``, which AQE may split), so
the job count does not grow with the order. Each partition is also sorted
on its key (Spark's sort, which spills), and a kernel streams it one key
at a time: a Python worker holds one last word's grams (A3, A5) or one
context's (A4), never a whole partition. A key cannot be split, so the
largest last word — ``</s>`` or the commonest word — bounds a worker's
memory; more partitions do not lower that bound. The kernels evaluate each f64
expression in one fixed order — (a - D)/sum, (((D1 N1 + D2 N2) + D3 N3+) +
pruned)/sum, u + gamma * p_lower — with longs turned into doubles exactly,
so the ARPA bytes depend on neither the plan nor the partition count.

Prune marks (lmplz ``--prune``, ``--limit_vocab_file``) are set in one
pass over the A3 output, as AdjustCounts marks them inside its one
suffix-sorted pass (adjust_counts.cc:219-233,265-283): one aggregate sums
every lower order's raw count and one left join on the gram attaches it.

The big-data half (counting + adjustment + per-context sums) stays
distributed. The final model is emitted as ARPA, which NGramModel.from_arpa
then loads for scoring parity with KenLM semantics. There is one emit:
``estimate_arpa_to_path`` sorts the model once over (order, gram) and
streams it through the driver a partition at a time, rendering each record
with ``lm.arpa.arpa_record``; ``estimate_arpa`` returns that file's text.
The emit releases the caches ``estimate_df`` builds (its ``cached_deps``)
once the model is written.

Sentence-boundary conventions match corpus_count.cc:80-92: each sentence is
[<s>] + tokens + [</s>]; every non-<s> position yields one window of length
min(position+1, N) truncated at <s>. <s>/<unk>/</s> occurring in the INPUT
text are removed first (corpus_count.cc:175-179 forbids them).
"""

from __future__ import annotations

import itertools
import math
import os
import shutil
import tempfile

import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import from_arrow_schema

from ..lm.arpa import arpa_record
from ..ops.textstats import TOKEN_SPLIT

FALLBACK_DISCOUNTS = (0.0, 0.5, 1.0, 1.5)  # lmplz --discount_fallback defaults

RESERVED = ("<s>", "</s>", "<unk>")


def _sentence_windows(df: DataFrame, text_col: str, order: int) -> DataFrame:
    """One row per (window ending at each non-<s> position): column ``gram``
    (array<string>, length 1..order, truncated at <s>). A NULL text is no
    sentence: with ANSI mode off ``size(NULL)`` is -1 and it explodes into
    NULL windows, which are dropped (a filter on the text itself would be
    pushed below the caller's projection and evaluate it twice)."""
    toks = F.filter(
        F.split(F.col(text_col), TOKEN_SPLIT),
        lambda w: (w != "") & ~w.isin(*RESERVED),
    )
    padded = F.concat(F.array(F.lit("<s>")), toks, F.array(F.lit("</s>")))
    # positions 1..len-1 (skip the <s> itself); window = slice of up to N
    # tokens ending at position i, truncated at index 0
    # 1-based position p = i+1 over padded; window = padded[start..p] with
    # start = max(1, p-N+1), i.e. truncated at <s>
    grams = F.transform(
        F.sequence(F.lit(1), F.size(padded) - 1),
        lambda i: F.slice(
            padded,
            F.greatest(i - (order - 2), F.lit(1)),
            (i + 2) - F.greatest(i - (order - 2), F.lit(1)),
        ),
    )
    return df.select(F.explode(grams).alias("gram")).where(F.col("gram").isNotNull())


def raw_window_counts(df: DataFrame, text_col: str, order: int) -> DataFrame:
    """(gram array, n order, count) for all window lengths 1..N."""
    w = _sentence_windows(df, text_col, order)
    return (
        w.groupBy("gram")
        .agg(F.count("*").alias("count"))
        .withColumn("n", F.size("gram"))
    )


def with_prune_flags(
    adjusted: DataFrame,
    raw: DataFrame,
    order: int,
    prune_thresholds: list[int] | None,
    limit_vocab: set[str] | list[str] | None = None,
) -> DataFrame:
    """Attach the reference's prune mark (adjust_counts.cc:219-233,265-283):
    an order-n gram is pruned iff its RAW occurrence count (not the adjusted
    continuation count) is <= prune_thresholds[n-1]; the unigrams
    <s>/</s>/<unk> are never pruned (``if(*full->begin() > 2)`` guard and the
    ``actual_counts[0] = max`` hack). Thresholds must be non-decreasing with
    order so the surviving set stays suffix/prefix-closed (lmplz enforces the
    same).

    ``limit_vocab`` = lmplz ``--limit_vocab_file`` (prune_words marks,
    adjust_counts.cc:137-146,227-233): any gram containing a word OUTSIDE
    the allowed list is pruned at every order; <s>/</s>/<unk> are always
    allowed. Composes with the count thresholds (either mark prunes).

    One pass flags every order: the top order reads its own count, and when
    a lower order has a positive threshold one aggregate sums the raw
    counts of all lower orders and one left join on ``gram`` attaches
    them."""
    pruned = F.lit(False)
    if limit_vocab is not None:
        allowed = sorted(set(limit_vocab) | set(RESERVED))
        pruned = ~F.forall(F.col("gram"), lambda w: w.isin(*allowed))
    if prune_thresholds and any(t > 0 for t in prune_thresholds):
        if len(prune_thresholds) != order:
            raise ValueError(f"need {order} thresholds, got {prune_thresholds}")
        if any(
            prune_thresholds[i] > prune_thresholds[i + 1] for i in range(order - 1)
        ):
            raise ValueError(f"prune thresholds must be non-decreasing: {prune_thresholds}")
        threshold = F.element_at(
            F.array(*(F.lit(int(t)) for t in prune_thresholds)), F.col("n")
        )
        # top order: the adjusted count IS the raw window count
        # (CollapseStream marks entries by their own count)
        actual = F.col("count")
        if any(t > 0 for t in prune_thresholds[:-1]):
            # a lower order's raw count is the sum of the window counts
            # whose suffix is the gram (adjust_counts.cc:286-292 STEP 2:
            # every entry adds its count to all its suffixes); each corpus
            # position is one window of ``raw``, so one explode into the
            # suffixes of length 1..N-1 and one sum give every lower order
            suffixes = F.transform(
                F.sequence(F.lit(1), F.least(F.size("gram"), F.lit(order - 1))),
                lambda k: F.slice("gram", -k, k),
            )
            sums = (
                raw.select(F.explode(suffixes).alias("gram"), "count")
                .groupBy("gram")
                .agg(F.sum("count").alias("actual"))
            )
            adjusted = adjusted.join(sums, "gram", "left")
            actual = F.when(F.col("n") == order, actual).otherwise(
                F.coalesce(F.col("actual"), F.lit(0))
            )
        pruned = pruned | ((threshold > 0) & (actual <= threshold))
    # the reserved unigrams are never pruned (``if(*full->begin() > 2)``)
    reserved = (F.col("n") == 1) & F.element_at("gram", 1).isin(*RESERVED)
    return adjusted.withColumn("pruned", pruned & ~reserved).drop("actual")


def _pylist(col: pa.Array) -> list:
    """``col.to_pylist()`` with an array<string> as tuples, through NumPy:
    pyarrow's per-element conversion dominates a kernel otherwise."""
    if pa.types.is_list(col.type):
        words = col.values.to_numpy(zero_copy_only=False).tolist()
        offsets = col.offsets.to_numpy().tolist()
        return [tuple(words[a:b]) for a, b in zip(offsets, offsets[1:])]
    if col.null_count:
        return col.to_pylist()
    return col.to_numpy(zero_copy_only=False).tolist()


def _groups(batches, key):
    """The rows of a partition's Arrow batches, as tuples of Python values
    (an array<string> as a tuple), one run of equal ``key(row)`` at a time.
    The partition must be sorted on that key, so a kernel holds one key's
    rows, never the whole partition."""
    rows = (r for b in batches for r in zip(*(_pylist(c) for c in b.columns)))
    return (run for _, run in itertools.groupby(rows, key))


def _batches(schema: pa.Schema, rows, size: int = 8192):
    """An iterable of ``rows`` (tuples in ``schema`` order) as Arrow record
    batches of up to ``size`` rows, each sent as soon as it is full."""
    rows = iter(rows)
    while chunk := list(itertools.islice(rows, size)):
        cols = zip(*chunk)
        yield pa.RecordBatch.from_arrays(
            [pa.array(c, type=f.type) for c, f in zip(cols, schema)], schema=schema
        )


def _by_key(df: DataFrame, *key) -> DataFrame:
    """``df`` hash-partitioned on ``key`` (never ``rebalance``: AQE may split
    a key across tasks) and sorted on it within each partition, so a kernel
    streams one key at a time and Spark's sort, not Python, spills."""
    return df.repartition(*key).sortWithinPartitions(*key)


_GRAM = pa.list_(pa.string())
_ADJUSTED = pa.schema([("gram", _GRAM), ("n", pa.int32()), ("count", pa.int64())])
_INITIAL = pa.schema([
    ("gram", _GRAM), ("n", pa.int32()), ("u", pa.float64()),
    ("ctx_gamma", pa.float64()), ("gamma", pa.float64()),
])
_MODEL = pa.schema([
    ("n", pa.int32()), ("gram", _GRAM), ("p", pa.float64()), ("gamma", pa.float64()),
])


def _adjust_kernel(order: int):
    """A3 over one partition of ``raw`` (gram, count) hash-partitioned and
    sorted by last word: a gram, the ``v . g`` grams its continuation count
    counts and its suffixes all end in the same word, so the whole N -> 1
    cascade runs per last word (the suffix-sorted pass of
    adjust_counts.hh:33-56)."""

    def adjust(rows):
        level, bos = {}, [{} for _ in range(order)]
        for g, count in rows:
            if len(g) == order:
                level[g] = count
            elif g[0] == "<s>":
                bos[len(g)][g] = count  # <s>-truncated window: raw count
        yield from ((g, order, c) for g, c in level.items())
        for n in range(order - 1, 0, -1):
            cont: dict = {}
            for g in level:  # distinct grams => distinct left extensions v
                if g[1] != "<s>":
                    cont[g[1:]] = cont.get(g[1:], 0) + 1
            cont.update(bos[n])
            level = cont
            yield from ((g, n, c) for g, c in level.items())

    def kernel(batches):
        words = _groups(batches, lambda r: r[0][-1])
        yield from _batches(_ADJUSTED, (r for rows in words for r in adjust(rows)))

    return kernel


def adjusted_counts(raw: DataFrame, order: int) -> DataFrame:
    """A3: order-N grams keep raw counts; each lower order n gets
    continuation counts |{v : (v . g) in adjusted_(n+1)}| — cascading from
    the order above, as AdjustCounts derives all orders in one suffix-sorted
    pass (adjust_counts.hh:33-56) — except <s>-initial grams, which keep raw
    window counts (nothing can precede <s>). One Arrow kernel runs the
    cascade one last word at a time. The <s> unigram itself carries the
    sentence count (its raw occurrence count), a 1-row sum over the
    <s>-initial bigram windows."""
    adj = _by_key(raw.select("gram", "count"), F.element_at("gram", -1)).mapInArrow(
        _adjust_kernel(order), from_arrow_schema(_ADJUSTED)
    )
    if order < 2:
        return adj
    bos_uni = (
        raw.filter((F.col("n") == 2) & (F.element_at("gram", 1) == "<s>"))
        .agg(F.sum("count").alias("count"))
        .select(F.array(F.lit("<s>")).alias("gram"), F.lit(1).alias("n"), "count")
    )
    return adj.unionByName(bos_uni)


def _discount_and_vocab_stats(
    adjusted: DataFrame, order: int
) -> tuple[dict[int, tuple], int]:
    """(discounts, vocab_rows) from ONE aggregation job (r7, guide §1.2-1):
    estimate_df needs both the count-of-counts (discounts) and the
    unigram-type count (uniform base), and collecting them separately cost
    one extra sequential materialization wave over the cached adjusted
    table.  Binning count<=4 and splitting on the <s> flag loses nothing:
    n_j(n) = Σ over both flags of freq(n, j); vocab_rows = Σ freq(1, *,
    bos=False) including the null (count>4) bin — integer-exact either
    way."""
    rows = (
        adjusted.groupBy(
            "n",
            F.when(F.col("count") <= 4, F.col("count")).alias("cbin"),
            (F.element_at("gram", 1) == F.lit("<s>")).alias("bos"),
        )
        .agg(F.count("*").alias("freq"))
        .collect()
    )
    njs = {n: {j: 0 for j in range(1, 5)} for n in range(1, order + 1)}
    vocab_rows = 0
    for r in rows:
        if r["cbin"] is not None:
            njs[r["n"]][int(r["cbin"])] += r["freq"]
        # bos is NULL for a NULL first token: not a vocab type
        if r["n"] == 1 and r["bos"] is False:
            vocab_rows += r["freq"]
    return _discounts_from_njs(njs, order), vocab_rows


def _discounts_from_njs(njs: dict, order: int) -> dict[int, tuple]:
    discounts = {}
    for n in range(1, order + 1):
        s = njs[n]
        try:
            if s[1] == 0 or s[2] == 0 or s[3] == 0:
                raise ZeroDivisionError
            y = s[1] / (s[1] + 2.0 * s[2])
            d = [0.0] + [
                j - (j + 1) * y * s[j + 1] / s[j] for j in range(1, 4)
            ]
            for j in range(1, 4):
                if d[j] < 0 or d[j] > j:
                    raise ZeroDivisionError
            discounts[n] = tuple(d)
        except ZeroDivisionError:
            discounts[n] = FALLBACK_DISCOUNTS
    return discounts


def _context_kernel(discounts: dict):
    """A4 over one partition of the order >= 2 adjusted grams, hash-
    partitioned and sorted by (n, context): one context's grams at a time,
    its sums Python integer sums (initial_probabilities.cc:158-190) and each
    f64 expression evaluated as the unigram level's SQL does. Emits u for
    each surviving gram with its context's gamma attached, then the
    context's gamma row (u NULL)."""

    def context(rows):
        denom = mass = 0
        survivors, kinds = [], [0, 0, 0, 0]  # n1 n2 n3+ at index 1..3
        for gram, n, count, pruned in rows:
            denom += count
            if pruned:
                mass += count
            else:
                survivors.append((gram, count))
                kinds[min(count, 3)] += 1
        _, d1, d2, d3 = d = discounts[n]
        gamma = (d1 * kinds[1] + d2 * kinds[2] + d3 * kinds[3] + mass) / denom
        for g, count in survivors:
            yield g, n, (count - d[min(count, 3)]) / denom, gamma, None
        yield gram[:-1], n - 1, None, None, gamma

    def kernel(batches):
        contexts = _groups(batches, lambda r: (r[1], r[0][:-1]))
        yield from _batches(_INITIAL, (r for rows in contexts for r in context(rows)))

    return kernel


def _initial_table(adjusted: DataFrame, discounts: dict, order: int):
    """A4 as one frame (gram, n, u, ctx_gamma, gamma) plus gamma(eps).

    Probability rows carry u and ctx_gamma (gamma NULL); context rows carry
    the context's gamma with n = its length (u NULL). The empty context is
    the whole unigram level: its sums come from one 1-row aggregate
    collected to driver scalars, so no partition holds the vocabulary.
    gamma(eps) is None when there are no unigrams."""
    d = {n: tuple(float(x) for x in discounts[n]) for n in range(1, order + 1)}
    if "pruned" not in adjusted.columns:
        adjusted = adjusted.withColumn("pruned", F.lit(False))
    higher = (
        adjusted.filter(F.col("n") >= 2)
        .select("gram", "n", "count", "pruned")
        .transform(lambda t: _by_key(t, "n", F.slice("gram", 1, F.col("n") - 1)))
        .mapInArrow(_context_kernel(d), from_arrow_schema(_INITIAL))
    )
    # the <s> unigram never receives probability mass (p(<s>) = 0,
    # interpolate.hh:21-23) and is excluded from unigram normalization —
    # verified against real lmplz output: unigram mass excl. <s> is exactly 1
    uni = adjusted.filter((F.col("n") == 1) & (F.element_at("gram", 1) != "<s>"))
    surv, count = ~F.col("pruned"), F.col("count")
    s = uni.agg(
        F.sum("count").alias("denom"),
        F.sum(F.when(surv & (count == 1), 1).otherwise(0)).alias("n1"),
        F.sum(F.when(surv & (count == 2), 1).otherwise(0)).alias("n2"),
        F.sum(F.when(surv & (count >= 3), 1).otherwise(0)).alias("n3p"),
        F.sum(F.when(F.col("pruned"), count).otherwise(0)).alias("mass"),
    ).first()
    if s["denom"] is None:
        return higher, None
    _, d1, d2, d3 = d[1]
    g_eps = (d1 * s["n1"] + d2 * s["n2"] + d3 * s["n3p"] + s["mass"]) / s["denom"]
    discount = F.when(count >= 3, d3).when(count == 2, d2).otherwise(d1)
    unigrams = uni.filter(surv).select(
        "gram",
        "n",
        ((count - discount) / F.lit(s["denom"])).alias("u"),
        F.lit(g_eps).alias("ctx_gamma"),
        F.lit(None).cast("double").alias("gamma"),
    )
    return unigrams.unionByName(higher), g_eps


def initial_probabilities(adjusted: DataFrame, discounts: dict, order: int):
    """A4: per-order uninterpolated probs + per-context gammas.

    Returns (probs_df: gram,n,u,ctx_gamma ; gammas_df: gram,n_ctx,gamma)
    where gamma is keyed by the CONTEXT gram (length n-1) it backs off from
    and ctx_gamma is the gamma of the gram's own context.

    Pruning semantics per initial_probabilities.cc:158-190 (AddRight): ALL
    grams (pruned included) contribute to the context denominator; the n1/n2/
    n3+ discount counters run over SURVIVING grams only (CutoffCount); the
    pruned grams' mass is folded into gamma ("Makes model sum to 1 with
    pruning"), so the conditional distribution stays normalized. Pruned grams
    are dropped from the probs output (PruneNGramStream)."""
    table, g_eps = _initial_table(adjusted, discounts, order)
    probs = table.filter(F.col("gamma").isNull()).drop("gamma")
    gammas = table.filter(F.col("gamma").isNotNull()).select(
        "gram", F.col("n").alias("n_ctx"), "gamma"
    )
    if g_eps is not None:
        gammas = gammas.unionByName(adjusted.sparkSession.createDataFrame(
            [([], 0, g_eps)], "gram array<string>, n_ctx int, gamma double"
        ))
    return probs, gammas


def _interpolate_kernel(order: int, uniform: float, uni_add: float, unk_p: float):
    """A5 over one partition of the A4 rows hash-partitioned and sorted by
    last word: a gram's backoff suffix and its own gamma row (the gram as a
    context) end in its last word, so the ascending pass over the orders
    runs per last word (interpolate.hh:21-23; the suffix-sorted merge J1).
    Each p is ``u + gamma(ctx) * p_lower(suffix)``, a missing gamma read as
    0.0 and a missing suffix as the uniform base."""

    def interpolate(rows):
        gammas, levels = {}, [{} for _ in range(order + 1)]
        for gram, n, u, ctx_gamma, gamma in rows:
            if gamma is not None:
                gammas[gram] = gamma
            else:
                levels[n][gram] = (u, ctx_gamma)
        lower = {}
        for n in range(1, order + 1):
            ps = {}
            for g, (u, ctx_gamma) in levels[n].items():
                if n > 1:
                    cg = 0.0 if ctx_gamma is None else ctx_gamma
                    ps[g] = u + cg * lower.get(g[1:], uniform)
                elif g == ("<unk>",):
                    ps[g] = unk_p
                elif g == ("<s>",):
                    ps[g] = 0.0
                else:
                    ps[g] = u + uni_add
                yield n, g, ps[g], gammas.get(g)
            lower = ps

    def kernel(batches):
        words = _groups(batches, lambda r: r[0][-1])
        yield from _batches(_MODEL, (r for rows in words for r in interpolate(rows)))

    return kernel


def estimate_df(
    df: DataFrame,
    text_col: str = "text",
    order: int = 3,
    prune_thresholds: list[int] | None = None,
    limit_vocab: set[str] | list[str] | None = None,
    interpolate_unigrams: bool = True,
    vocab_pad: int = 0,
) -> DataFrame:
    """Full estimation as a distributed plan: returns a DataFrame
    (n int, gram array<string>, p double, gamma double) — interpolated
    probability and backoff weight (gamma; null when the gram is never a
    context). After the cached A1 counts, A3, A4 and A5 are one Arrow
    kernel each over a hash repartition — by last word, by (n, context),
    by last word: the reference's suffix, context and suffix sort orders —
    and the prune marks are one pass over the A3 output (one aggregate and
    one join when a lower order is pruned), so the job count does not grow
    with the order, pruned or not. The driver collects
    only the count-of-counts rows and the 1-row unigram sums; nothing
    corpus- or model-sized. A kernel streams its sorted partition one key
    at a time, so a Python worker holds the rows of its largest key — the
    commonest last word, in A3 a share of all raw windows — not a
    partition. Sinks may write the result as a parquet model table or
    collect it when broadcast-sized.

    ``prune_thresholds`` = lmplz ``--prune`` (one non-decreasing threshold per
    order; grams with raw count <= threshold are dropped, their mass folded
    into the context gamma — pipeline.cc:339-377 config wiring,
    adjust_counts.cc pruning marks). Pruning is THE mechanism that keeps a
    web-scale model model-sized: at 100 TB an unpruned order-3+ table is
    corpus-sized, a pruned one is vocabulary-shaped."""
    # --vocab_pad (lmplz_main.cc:99,151-152; pipeline.cc:281): pretend the
    # vocabulary has at least vocab_pad types, reserving uniform mass for
    # unseen words; requires unigram interpolation
    if vocab_pad and not interpolate_unigrams:
        raise ValueError("--vocab_pad requires --interpolate_unigrams")
    # A1 runs once: A3, the <s> unigram and the prune sums all read raw;
    # uncached, each reference re-scans and re-tokenizes the corpus
    raw = raw_window_counts(df, text_col, order).cache()
    counts = adjusted_counts(raw, order)
    adj = with_prune_flags(counts, raw, order, prune_thresholds, limit_vocab).cache()
    # uniform base 1/(vocab-1) (interpolate.hh:21-23). Vocabulary size
    # counts ALL types (pre-prune adjusted unigrams excl <s>), matching the
    # reference's corpus-count vocab size; ONE aggregation job yields both
    # the count-of-counts and the vocab size
    discounts, vocab_rows = _discount_and_vocab_stats(adj, order)
    table, g_eps = _initial_table(adj, discounts, order)
    g_eps = 0.0 if g_eps is None else g_eps
    uniform = 1.0 / max(vocab_pad, vocab_rows + 1, 1)  # + <unk>
    # order 1 (initial_probabilities.cc:218-250): interpolated (default)
    # p = u + gamma(eps) * uniform with <unk> a zeroton; SRI style
    # (--interpolate_unigrams 0) gives ALL the interpolation mass to <unk>:
    # p(w) = u(w), p(<unk>) = gamma(eps)
    if interpolate_unigrams:
        uni_add = unk_p = g_eps * uniform
    else:
        uni_add, unk_p = 0.0, g_eps
    # <unk> and <s> land in their word's partition like any unigram; the
    # kernel sets their p
    reserved = df.sparkSession.createDataFrame(
        [(["<unk>"], 1), (["<s>"], 1)], "gram array<string>, n int"
    )
    out = (
        _by_key(table.unionByName(reserved, allowMissingColumns=True), F.element_at("gram", -1))
        .mapInArrow(
            _interpolate_kernel(order, uniform, uni_add, unk_p), from_arrow_schema(_MODEL)
        )
    )
    # the caches must outlive the returned (lazy) plan; callers unpersist
    # them via this handle once the model is consumed
    out.cached_deps = [raw, adj]
    return out


def _arpa_line(g: tuple, p, gamma, n: int, order: int) -> str:
    """One model row as an ARPA record: p -> log10 p, -99 for a zero p and
    for <s>, which is never predicted (interpolate.hh:21-23); below the top
    order gamma -> log10 backoff, -0.0 (omitted) when the gram is never a
    context."""
    lp = math.log10(p) if p and p > 0 and g != ("<s>",) else -99.0
    if n == order:
        return arpa_record(lp, g, None)
    return arpa_record(lp, g, math.log10(gamma) if gamma is not None and gamma > 0 else -0.0)


def _unpersist_deps(model: DataFrame) -> None:
    """Release the caches estimate_df left behind for ``model``."""
    for d in getattr(model, "cached_deps", []):
        d.unpersist()


def _open_sections(out, done: int, upto: int) -> None:
    """Write the ``\\k-grams:`` headers for orders done+1..upto, each
    preceded by the blank line that closes the section before it."""
    for k in range(done + 1, upto + 1):
        if k > 1:
            out.write("\n")
        out.write(f"\\{k}-grams:\n")


def estimate_arpa_to_path(
    df: DataFrame,
    path: str,
    text_col: str = "text",
    order: int = 3,
    prune_thresholds: list[int] | None = None,
    limit_vocab: set[str] | list[str] | None = None,
    interpolate_unigrams: bool = True,
    vocab_pad: int = 0,
) -> dict[int, int]:
    """The ARPA emit, bounded in driver memory: the model is sorted
    DISTRIBUTEDLY, once, over ``(n, gram)`` (Spark range-partitioned sort)
    and streamed through the driver one partition at a time with
    ``toLocalIterator`` — nothing model-sized is ever collect()ed. The
    per-order counts are taken while streaming and the section headers
    written as ``n`` advances, into a body file next to ``path``; the
    ``\\data\\`` header is then written from those counts and the body
    appended after it. Returns the per-order counts (every order
    1..``order``, zero for an empty one). Atomic: tmp + rename."""
    model = estimate_df(
        df, text_col, order, prune_thresholds, limit_vocab,
        interpolate_unigrams, vocab_pad,
    )
    rows = model.select("n", "gram", "p", "gamma").orderBy("n", "gram")
    counts = {n: 0 for n in range(1, order + 1)}
    body, tmp = path + ".body.tmp", path + ".tmp"
    try:
        with open(body, "w") as out:
            done = 0
            for row in rows.toLocalIterator(prefetchPartitions=True):
                n = row["n"]
                if n > done:
                    _open_sections(out, done, n)
                    done = n
                counts[n] += 1
                out.write(_arpa_line(tuple(row["gram"]), row["p"], row["gamma"], n, order))
            _open_sections(out, done, order)
            out.write("\n\\end\\\n")
        with open(tmp, "w") as out, open(body) as src:
            out.write("\\data\\\n")
            for n in range(1, order + 1):
                out.write(f"ngram {n}={counts[n]}\n")
            out.write("\n")
            shutil.copyfileobj(src, out)
        os.replace(tmp, path)
    finally:
        if os.path.exists(body):
            os.remove(body)
        _unpersist_deps(model)
    return counts


def estimate_arpa(
    df: DataFrame,
    text_col: str = "text",
    order: int = 3,
    prune_thresholds: list[int] | None = None,
    limit_vocab: set[str] | list[str] | None = None,
    interpolate_unigrams: bool = True,
    vocab_pad: int = 0,
) -> str:
    """Estimate and return the ARPA text, written through
    ``estimate_arpa_to_path`` into a temporary directory."""
    with tempfile.TemporaryDirectory() as tmp:
        path = os.path.join(tmp, "model.arpa")
        estimate_arpa_to_path(
            df, path, text_col, order, prune_thresholds, limit_vocab,
            interpolate_unigrams, vocab_pad,
        )
        with open(path) as f:
            return f.read()
