"""lmplz-lite: interpolated modified Kneser-Ney LM estimation as a Spark
DataFrame dataflow.

This re-expresses the reference's streaming estimation pipeline
(/root/reference/src/cxx/lm/builder/pipeline.cc:339-377) Spark-first. Stage
mapping (SURVEY.md §2.4):

  A1 CorpusCount   -> explode <s>-truncated windows, groupBy(gram).count()
                      (corpus_count.cc; partial aggregation = the reference's
                      per-block hash dedupe + combiner A2); cached, so the
                      corpus is read and tokenized ONCE however many orders
                      A3 and the prune flags derive from it
  A3 AdjustCounts  -> continuation counts via groupBy(suffix) +
                      countDistinct(first word); n_1..n_4 statistics and
                      Chen-Goodman eq. 26 discounts
                      (adjust_counts.cc:47-74; <s>-initial grams keep raw
                      counts per adjust_counts.hh:33-56)
  A4 InitialProbs  -> per-context Window/groupBy sums: uninterpolated
                      u = (a - D(a))/sum, gamma = (D1 N1 + D2 N2 + D3 N3+)/sum
                      (initial_probabilities.cc)
  A5 Interpolate   -> orders ascending, join order-n with interpolated
                      order-(n-1) on the backoff suffix; unigram base is
                      uniform 1/(vocab-1) (interpolate.hh:21-23)
  J1               -> the gamma join is the suffix-sorted merge join of the
                      reference, expressed as a DataFrame equi-join (Spark
                      picks SMJ/broadcast after AQE)

The big-data half (counting + adjustment + per-context sums) stays
distributed. The final model is emitted as ARPA, which NGramModel.from_arpa
then loads for scoring parity with KenLM semantics: ``estimate_arpa``
collects it (vocabulary-sized, not corpus-sized); ``estimate_arpa_to_path``
sorts it once over (order, gram) and streams it through the driver a
partition at a time. Both release the caches ``estimate_df`` builds
(its ``cached_deps``) once the model is written.

Sentence-boundary conventions match corpus_count.cc:80-92: each sentence is
[<s>] + tokens + [</s>]; every non-<s> position yields one window of length
min(position+1, N) truncated at <s>. <s>/<unk>/</s> occurring in the INPUT
text are removed first (corpus_count.cc:175-179 forbids them).
"""

from __future__ import annotations

import io
import math
import os
import shutil

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..lm.arpa import ArpaSections, ProbBackoffNgram, ProbNgram, write_arpa
from ..ops.textstats import TOKEN_SPLIT

FALLBACK_DISCOUNTS = (0.0, 0.5, 1.0, 1.5)  # lmplz --discount_fallback defaults

RESERVED = ("<s>", "</s>", "<unk>")


def _sentence_windows(df: DataFrame, text_col: str, order: int) -> DataFrame:
    """One row per (window ending at each non-<s> position): column ``gram``
    (array<string>, length 1..order, truncated at <s>)."""
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
    return df.select(F.explode(grams).alias("gram"))


def raw_window_counts(df: DataFrame, text_col: str, order: int) -> DataFrame:
    """(gram array, n order, count) for all window lengths 1..N."""
    w = _sentence_windows(df, text_col, order)
    return (
        w.groupBy("gram")
        .agg(F.count("*").alias("count"))
        .withColumn("n", F.size("gram"))
    )


def _actual_counts(raw: DataFrame, n: int) -> DataFrame:
    """Raw occurrence count of each order-n gram, reconstructed as the sum of
    window counts whose length-n SUFFIX equals the gram — exactly the
    ``actual_counts`` accumulation of the reference's AdjustCounts
    (adjust_counts.cc:286-292 STEP 2: every full-stream entry adds its
    unmarked count to all its suffixes). Each corpus position lives in
    exactly one window row of ``raw``, so no double counting."""
    return (
        raw.filter(F.size("gram") >= n)
        .withColumn("sfx", F.slice(F.col("gram"), F.size("gram") - n + 1, n))
        .groupBy(F.col("sfx").alias("gram"))
        .agg(F.sum("count").alias("actual"))
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
    allowed. Composes with the count thresholds (either mark prunes)."""
    vocab_pruned = None
    if limit_vocab is not None:
        allowed = sorted(set(limit_vocab) | set(RESERVED))
        vocab_pruned = ~F.forall(F.col("gram"), lambda w: w.isin(*allowed))
        # protect the reserved unigrams themselves (index > 2 guard)
        vocab_pruned = vocab_pruned & ~(
            (F.col("n") == 1) & F.element_at("gram", 1).isin(*RESERVED)
        )
    if not prune_thresholds or all(t <= 0 for t in prune_thresholds):
        return adjusted.withColumn(
            "pruned",
            vocab_pruned if vocab_pruned is not None else F.lit(False),
        )
    if len(prune_thresholds) != order:
        raise ValueError(f"need {order} thresholds, got {prune_thresholds}")
    if any(
        prune_thresholds[i] > prune_thresholds[i + 1] for i in range(order - 1)
    ):
        raise ValueError(f"prune thresholds must be non-decreasing: {prune_thresholds}")
    parts = []
    for n in range(1, order + 1):
        t = int(prune_thresholds[n - 1])
        level = adjusted.filter(F.col("n") == n)
        if t <= 0:
            parts.append(level.withColumn("pruned", F.lit(False)))
            continue
        if n == order:
            # top order: the adjusted count IS the raw window count
            # (CollapseStream marks entries by their own count) — no join
            parts.append(level.withColumn("pruned", F.col("count") <= t))
            continue
        act = _actual_counts(raw, n)
        level = level.join(act, "gram", "left")
        pruned = F.coalesce(F.col("actual"), F.lit(0)) <= t
        if n == 1:
            pruned = pruned & ~F.element_at("gram", 1).isin(*RESERVED)
        parts.append(level.withColumn("pruned", pruned).drop("actual"))
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    if vocab_pruned is not None:
        out = out.withColumn("pruned", F.col("pruned") | vocab_pruned)
    return out


def adjusted_counts(raw: DataFrame, order: int) -> DataFrame:
    """A3: order-N grams keep raw counts; each lower order n gets
    continuation counts |{v : (v . g) in adjusted_(n+1)}| — cascading from
    the order above, as AdjustCounts derives all orders in one suffix-sorted
    pass (adjust_counts.hh:33-56) — except <s>-initial grams, which keep raw
    window counts (nothing can precede <s>). The <s> unigram itself carries
    the sentence count (its raw occurrence count)."""
    adj_above = raw.filter(F.col("n") == order).select("gram", "n", "count")
    parts = [adj_above]
    for n in range(order - 1, 0, -1):
        cont = (
            adj_above.withColumn("suffix", F.slice("gram", 2, n))
            .filter(F.element_at("suffix", 1) != "<s>")
            .groupBy(F.col("suffix").alias("gram"))
            .agg(F.count("*").alias("count"))  # rows are distinct grams => distinct v
            .withColumn("n", F.lit(n))
            .select("gram", "n", "count")
        )
        bos = raw.filter(
            (F.col("n") == n) & (F.element_at("gram", 1) == "<s>")
        ).select("gram", "n", "count")
        if n == 1:
            # <s> unigram: raw count = number of sentences = sum of <s>-initial
            # bigram window counts
            bos_uni = (
                raw.filter((F.col("n") == 2) & (F.element_at("gram", 1) == "<s>"))
                .agg(F.sum("count").alias("count"))
                .select(
                    F.array(F.lit("<s>")).alias("gram"),
                    F.lit(1).alias("n"),
                    F.col("count"),
                )
            )
            bos = bos.unionByName(bos_uni)
        adj_above = cont.unionByName(bos)
        parts.append(adj_above)
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def discount_stats(adjusted: DataFrame, order: int) -> dict[int, tuple]:
    """n_j statistics and Chen-Goodman eq. 26 discounts per order, with the
    lmplz fallback for degenerate data (adjust_counts.cc:40-74)."""
    rows = (
        adjusted.filter(F.col("count") <= 4)
        .groupBy("n", "count")
        .agg(F.count("*").alias("freq"))
        .collect()
    )
    njs = {n: {j: 0 for j in range(1, 5)} for n in range(1, order + 1)}
    for r in rows:
        njs[r["n"]][int(r["count"])] = r["freq"]
    return _discounts_from_njs(njs, order)


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


def initial_probabilities(adjusted: DataFrame, discounts: dict, order: int):
    """A4: per-order uninterpolated probs + per-context gammas.

    Returns (probs_df: gram,n,u ; gammas_df: ctx,n_ctx,gamma) where gamma is
    keyed by the CONTEXT gram (length n-1) it backs off from.

    Pruning semantics per initial_probabilities.cc:158-190 (AddRight): ALL
    grams (pruned included) contribute to the context denominator; the n1/n2/
    n3+ discount counters run over SURVIVING grams only (CutoffCount); the
    pruned grams' mass is folded into gamma ("Makes model sum to 1 with
    pruning"), so the conditional distribution stays normalized. Pruned grams
    are dropped from the probs output (PruneNGramStream)."""
    sc_disc = [
        (n, float(discounts[n][1]), float(discounts[n][2]), float(discounts[n][3]))
        for n in range(1, order + 1)
    ]
    disc_df = adjusted.sparkSession.createDataFrame(
        sc_disc, "n int, d1 double, d2 double, d3 double"
    )
    if "pruned" not in adjusted.columns:
        adjusted = adjusted.withColumn("pruned", F.lit(False))
    # the <s> unigram never receives probability mass (p(<s>) = 0,
    # interpolate.hh:21-23) and is excluded from unigram normalization —
    # verified against real lmplz output: unigram mass excl. <s> is exactly 1
    a = adjusted.filter(~((F.col("n") == 1) & (F.element_at("gram", 1) == "<s>")))
    a = a.join(F.broadcast(disc_df), "n")
    a = a.withColumn("ctx", F.slice("gram", 1, F.col("n") - 1))
    surv = ~F.col("pruned")
    grp = a.groupBy("n", "ctx").agg(
        F.sum("count").alias("denom"),
        F.sum(F.when(surv & (F.col("count") == 1), 1).otherwise(0)).alias("n1"),
        F.sum(F.when(surv & (F.col("count") == 2), 1).otherwise(0)).alias("n2"),
        F.sum(F.when(surv & (F.col("count") >= 3), 1).otherwise(0)).alias("n3p"),
        F.sum(F.when(F.col("pruned"), F.col("count")).otherwise(0)).alias("pruned_mass"),
        F.first("d1").alias("d1"),
        F.first("d2").alias("d2"),
        F.first("d3").alias("d3"),
    )
    gammas = grp.select(
        F.col("ctx").alias("gram"),
        (F.col("n") - 1).alias("n_ctx"),
        (
            (
                F.col("d1") * F.col("n1")
                + F.col("d2") * F.col("n2")
                + F.col("d3") * F.col("n3p")
                + F.col("pruned_mass")
            )
            / F.col("denom")
        ).alias("gamma"),
    )
    probs = (
        a.filter(surv)
        .join(grp.select("n", "ctx", "denom"), ["n", "ctx"])
        .withColumn(
            "D",
            F.when(F.col("count") >= 3, F.col("d3"))
            .when(F.col("count") == 2, F.col("d2"))
            .otherwise(F.col("d1")),
        )
        .select(
            "gram",
            "n",
            ((F.col("count") - F.col("D")) / F.col("denom")).alias("u"),
        )
    )
    return probs, gammas


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
    context). Nothing corpus- or model-sized is collected: A5 is a chain of
    per-order suffix joins (the reference's suffix-sorted merge, J1), so this
    scales to models that do not fit on the driver; sinks may write it as a
    parquet model table or collect it when broadcast-sized.

    ``prune_thresholds`` = lmplz ``--prune`` (one non-decreasing threshold per
    order; grams with raw count <= threshold are dropped, their mass folded
    into the context gamma — pipeline.cc:339-377 config wiring,
    adjust_counts.cc pruning marks). Pruning is THE mechanism that keeps a
    web-scale model model-sized: at 100 TB an unpruned order-3+ table is
    corpus-sized, a pruned one is vocabulary-shaped."""
    # A1 runs once: adjusted_counts reads raw once per order (and again for
    # the <s> unigram), the prune flags once more; uncached, each reference
    # re-scans and re-tokenizes the corpus (the filters push below the
    # aggregate, so no exchange is reused)
    raw = raw_window_counts(df, text_col, order).cache()
    adj = adjusted_counts(raw, order)
    adj = with_prune_flags(adj, raw, order, prune_thresholds, limit_vocab).cache()
    # scalars: uniform base 1/(vocab-1) (interpolate.hh:21-23) and gamma(eps).
    # Vocabulary size counts ALL types (pre-prune adjusted unigrams excl <s>),
    # matching the reference's corpus-count vocab size.  ONE aggregation
    # job yields both the count-of-counts and the vocab size (r7 — the
    # separate .count() cost an extra sequential wave over the cache).
    discounts, vocab_rows = _discount_and_vocab_stats(adj, order)
    probs, gammas = initial_probabilities(adj, discounts, order)
    probs = probs.cache()
    gammas = gammas.cache()
    # --vocab_pad (lmplz_main.cc:99,151-152; pipeline.cc:281): pretend the
    # vocabulary has at least vocab_pad types, reserving uniform mass for
    # unseen words; requires unigram interpolation
    if vocab_pad and not interpolate_unigrams:
        raise ValueError("--vocab_pad requires --interpolate_unigrams")
    uniform = 1.0 / max(vocab_pad, vocab_rows + 1, 1)  # + <unk>
    # gamma(eps) as a LAZY 1-row frame (r7 second pass — the former
    # collect() was one more sequential materialization wave over the
    # cached gammas; the broadcast cross join evaluates the same JVM
    # arithmetic inside the final job): g_eps_df has exactly one row,
    # coalescing the empty-filter case to 0.0 like the old Python default.
    # lazy checkpoint: the 1-row frame is cross-joined into p1/extra, whose
    # lineage is embedded in EVERY interpolation level — without truncation
    # the gammas→adjusted→raw subtree nests once more per level and the
    # order-5 plan tree explodes (driver-heap OOM observed in a pressured
    # shared session); the checkpoint cuts it to a 1-row RDD scan while
    # still materializing inside the first consuming job (no extra wave)
    g_eps_df = (
        gammas.filter(F.col("n_ctx") == 0)
        .agg(F.coalesce(F.first("gamma"), F.lit(0.0)).alias("_geps"))
        .localCheckpoint(eager=False)
    )
    # the checkpoint persists its RDD (the LogicalRDD under the frame) at
    # creation; this JavaRDD handle releases it with the caches
    g_eps_rdd = g_eps_df._jdf.queryExecution().logical().rdd().toJavaRDD()

    gam = gammas.select(
        F.col("gram").alias("g_ctx"), F.col("n_ctx"), F.col("gamma")
    )

    # order 1 (initial_probabilities.cc:218-250): interpolated (default)
    # p = u + gamma(eps) * uniform with <unk> a zeroton; SRI style
    # (--interpolate_unigrams 0) gives ALL the interpolation mass to <unk>:
    # p(w) = u(w), p(<unk>) = gamma(eps).  The g_eps*uniform product is the
    # same IEEE double multiply the old Python-side literal performed.
    if interpolate_unigrams:
        uni_add = F.col("_geps") * F.lit(uniform)
        unk_mass = F.col("_geps") * F.lit(uniform)
    else:
        uni_add = F.lit(0.0)
        unk_mass = F.col("_geps")
    p1 = (
        probs.filter(F.col("n") == 1)
        .crossJoin(F.broadcast(g_eps_df))
        .select("gram", (F.col("u") + uni_add).alias("p"))
    )
    extra = (
        df.sparkSession.range(1)
        .crossJoin(F.broadcast(g_eps_df))
        .select(
            F.array(F.lit("<unk>")).alias("gram"), unk_mass.alias("p")
        )
        .unionByName(
            df.sparkSession.range(1).select(
                F.array(F.lit("<s>")).alias("gram"),
                F.lit(0.0).alias("p"),
            )
        )
    )
    p1 = p1.join(extra.select("gram"), "gram", "left_anti").unionByName(extra)
    levels = [p1.withColumn("n", F.lit(1)).cache()]

    # orders 2..N: p_n = u_n + gamma(ctx) * p_{n-1}(suffix) — suffix join chain
    for n in range(2, order + 1):
        pn = probs.filter(F.col("n") == n)
        pn = pn.withColumn("ctx", F.slice("gram", 1, n - 1)).withColumn(
            "suffix", F.slice("gram", 2, n - 1)
        )
        pn = pn.join(
            gam.filter(F.col("n_ctx") == n - 1).select(
                F.col("g_ctx").alias("ctx"), F.col("gamma").alias("ctx_gamma")
            ),
            "ctx",
            "left",
        )
        lower = levels[n - 2].select(
            F.col("gram").alias("suffix"), F.col("p").alias("p_lower")
        )
        pn = pn.join(lower, "suffix", "left")
        pn = pn.select(
            "gram",
            (
                F.col("u")
                + F.coalesce(F.col("ctx_gamma"), F.lit(0.0))
                * F.coalesce(F.col("p_lower"), F.lit(uniform))
            ).alias("p"),
        ).withColumn("n", F.lit(n)).cache()
        levels.append(pn)

    out = levels[0]
    for lv in levels[1:]:
        out = out.unionByName(lv)
    out = out.join(
        gam.select(F.col("g_ctx").alias("gram"), "gamma"), "gram", "left"
    ).select("n", "gram", "p", "gamma")
    # the caches must outlive the returned (lazy) plan; callers unpersist
    # them via this handle once the model is consumed
    out.cached_deps = [raw, adj, probs, gammas, g_eps_rdd, *levels]
    return out


def estimate_arpa_sections(
    df: DataFrame,
    text_col: str = "text",
    order: int = 3,
    prune_thresholds: list[int] | None = None,
    limit_vocab: set[str] | list[str] | None = None,
    interpolate_unigrams: bool = True,
    vocab_pad: int = 0,
) -> ArpaSections:
    """Estimation -> ARPA sections (collects the final model-sized table;
    with pruning the collected table is vocabulary-shaped even at corpus
    scale — see estimate_df)."""
    model = estimate_df(
        df, text_col, order, prune_thresholds, limit_vocab,
        interpolate_unigrams, vocab_pad,
    )
    try:
        rows = model.collect()
    finally:
        _unpersist_deps(model)
    by_order: dict[int, list] = {}
    for r in rows:
        by_order.setdefault(r["n"], []).append(
            (tuple(r["gram"]), r["p"], r["gamma"])
        )

    sections = ArpaSections(counts=[])
    backoff_orders: list[list[ProbBackoffNgram]] = []
    top_records: list[ProbNgram] = []
    for n in range(1, order + 1):
        recs = sorted(by_order.get(n, []))
        sections.counts.append(len(recs))
        if n < order:
            out = []
            for g, p, gamma in recs:
                if g == ("<s>",):
                    lp = -99.0  # never predicted (interpolate.hh:21-23)
                else:
                    lp = math.log10(p) if p and p > 0 else -99.0
                log_bo = (
                    math.log10(gamma) if gamma is not None and gamma > 0 else -0.0
                )
                out.append(ProbBackoffNgram(lp, g, log_bo))
            backoff_orders.append(out)
        else:
            top_records = [
                ProbNgram(math.log10(p) if p and p > 0 else -99.0, g)
                for g, p, _ in recs
            ]
    sections.backoffs = backoff_orders
    sections.no_backoff = top_records
    return sections


def _arpa_line(g: tuple, p, gamma, n: int, order: int) -> str:
    """One ARPA record, byte-identical to estimate_arpa_sections+write_arpa
    (same -99/<s> sentinels, same %g rendering, same backoff-omission rule)."""
    if n < order:
        lp = -99.0 if g == ("<s>",) else (math.log10(p) if p and p > 0 else -99.0)
        log_bo = math.log10(gamma) if gamma is not None and gamma > 0 else -0.0
        if log_bo == 0.0 and not math.copysign(1.0, log_bo) < 0:
            return f"{lp:g}\t{' '.join(g)}\t0\n"
        if log_bo == 0.0:
            return f"{lp:g}\t{' '.join(g)}\n"
        return f"{lp:g}\t{' '.join(g)}\t{log_bo:g}\n"
    lp = math.log10(p) if p and p > 0 else -99.0
    return f"{lp:g}\t{' '.join(g)}\n"


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
    """Driver-memory-bounded ARPA emit for models larger than driver RAM:
    the model is sorted DISTRIBUTEDLY, once, over ``(n, gram)`` (Spark
    range-partitioned sort) and streamed through the driver one partition
    at a time with ``toLocalIterator`` — nothing model-sized is ever
    collect()ed. The per-order counts are taken while streaming and the
    section headers written as ``n`` advances, into a body file next to
    ``path``; the ``\\data\\`` header is then written from those counts and
    the body appended after it. Output is byte-identical to
    ``estimate_arpa`` (regression-tested). Returns the per-order counts
    (every order 1..``order``, zero for an empty one). Atomic: tmp +
    rename."""
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
    """Estimate and render the ARPA text."""
    sections = estimate_arpa_sections(
        df, text_col, order, prune_thresholds, limit_vocab,
        interpolate_unigrams, vocab_pad,
    )
    buf = io.StringIO()
    write_arpa(sections, buf)
    return buf.getvalue()
