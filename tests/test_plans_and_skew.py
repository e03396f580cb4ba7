"""Physical-plan quality gates (the 100x-scale questions asked explicitly):
predicate pushdown reaches the parquet scan, small sides broadcast, the hot
path stays in whole-stage codegen; salted repartitioning balances Zipf skew."""

import re
from collections import Counter

import numpy as np
import pytest
from pyspark.sql import functions as F

from kenlm_rs_spark.ops import partitioning as pt
from kenlm_rs_spark.ops import similarity, textstats as ts

SF = "/root/testdata/sf0.001"


def _plan(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def test_filter_pushdown_reaches_scan(spark):
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    q = docs.filter(F.col("lang") == "en").select("doc_id", "n_chars")
    plan = _plan(q)
    assert "PushedFilters" in plan and "lang" in plan.split("PushedFilters")[1][:200]
    # column pruning: text is not read
    read_schema = plan.split("ReadSchema")[1][:200]
    assert "text" not in read_schema


def test_small_side_broadcasts(spark):
    """r7 adaptive brute force: a handful of queries keeps the original
    broadcast join + interpreted fold (measured faster than an Arrow
    stage launch); above the crossover the query matrix ships into ONE
    Arrow kernel and no join remains."""
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    q = similarity.brute_force_topk(emb, emb.filter(F.col("vec_id") < 3), k=2)
    p = _plan(q)
    assert "BroadcastHashJoin" in p or "BroadcastNestedLoopJoin" in p
    big = similarity.brute_force_topk(
        emb, emb.filter(F.col("vec_id") < 100), k=2
    )
    pb = _plan(big)
    assert "ArrowEvalPython" in pb
    assert "Join" not in pb and "CartesianProduct" not in pb


def test_quality_features_codegen(spark):
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    q = docs.select(ts.symbol_ratio(F.col("text")).alias("r"))
    assert "codegen id" in _plan(q)  # formatted mode marks codegen'd ops


def test_salted_repartition_balances_zipf(spark):
    from kenlm_rs_spark.pipeline.corpus import generate_pages_local

    pdf = generate_pages_local(1500)[["url"]]
    df = spark.createDataFrame(pdf)
    # the raw domain distribution IS skewed (Zipf s=1.2)
    top_share = (
        df.withColumn("d", pt.url_domain(F.col("url")))
        .groupBy("d").count().orderBy(F.desc("count")).limit(1)
        .collect()[0]["count"] / 1500
    )
    assert top_share > 0.15  # mega-domain exists

    # url-hash repartitioning spreads rows evenly despite the skew
    parts = pt.repartition_by_url(df, 16)
    from pyspark.sql.functions import spark_partition_id

    sizes = [
        r["count"]
        for r in parts.select(spark_partition_id().alias("p"))
        .groupBy("p").count().collect()
    ]
    assert max(sizes) / (1500 / 16) < 1.5  # no partition above 1.5x average

    # two-level salted per-domain counts equal the unsalted truth
    got = {r["domain"]: r["docs"] for r in pt.salted_domain_counts(df).collect()}
    want = {
        r["d"]: r["count"]
        for r in df.withColumn("d", pt.url_domain(F.col("url")))
        .groupBy("d").count().collect()
    }
    assert got == want


def _skewed_keys(spark):
    """Zipf-like keys: a few heavy hitters and a long tail of singletons."""
    rng = np.random.default_rng(7)
    keys = [f"k{int(z)}" for z in rng.zipf(1.6, 3000)]
    return keys, spark.createDataFrame([(k,) for k in keys], "k string")


def test_hot_keys_match_python_count(spark):
    keys, df = _skewed_keys(spark)
    for frac in (0.01, 0.05):
        want = {k for k, c in Counter(keys).items() if c >= len(keys) * frac}
        got = set(pt.hot_keys(df, F.col("k"), frac))
        assert got == want and want


def test_hot_keys_plan_has_no_single_partition_window(spark, monkeypatch):
    """The total rides a broadcast 1-row aggregate: no Window, and the
    keyed (k, c) rows never meet in one partition — the only SinglePartition
    exchange carries the per-partition partial sums of that aggregate."""
    from pyspark.sql.classic.dataframe import DataFrame

    collected = []
    collect = DataFrame.collect

    def spy(self):
        collected.append(self)
        return collect(self)

    monkeypatch.setattr(DataFrame, "collect", spy)
    _, df = _skewed_keys(spark)
    pt.hot_keys(df, F.col("k"), 0.01)
    plan = collected[-1]._jdf.queryExecution().executedPlan().toString()
    final = plan.split("== Initial Plan ==")[0]
    assert "Window" not in final
    assert "BroadcastExchange" in final
    lines = final.splitlines()
    singles = [i for i, ln in enumerate(lines) if "Exchange SinglePartition" in ln]
    for i in singles:
        assert re.search(r"HashAggregate\(keys=\[\], functions=\[partial_", lines[i + 1])


def test_bucketed_join_has_no_shuffle(spark, tmp_path):
    """Co-located join: both sides bucketed on the key -> SMJ without
    Exchange (the repeated-join strategy for 100TB n-gram tables)."""
    from kenlm_rs_spark.ops import bucketing as bk

    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        orders = spark.read.parquet(f"{SF}/orders.parquet")
        lineitem = spark.read.parquet(f"{SF}/lineitem.parquet")
        bk.write_bucketed(orders, "b_orders", "o_orderkey", 8)
        bk.write_bucketed(
            lineitem.withColumnRenamed("l_orderkey", "o_orderkey"),
            "b_lineitem", "o_orderkey", 8,
        )
        j = bk.bucketed_join(spark, "b_orders", "b_lineitem", "o_orderkey")
        assert not bk.plan_has_shuffle(j), "bucketed join should not shuffle"
        # control: the same join on raw parquet DOES shuffle
        raw = orders.join(
            lineitem.withColumnRenamed("l_orderkey", "o_orderkey"), "o_orderkey"
        )
        assert bk.plan_has_shuffle(raw)
        assert j.count() == raw.count()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        spark.sql("DROP TABLE IF EXISTS b_orders")
        spark.sql("DROP TABLE IF EXISTS b_lineitem")


def test_lsh_jaccard_plan_no_cartesian(spark):
    """The composed blocked-verify dedup must contain only equi-joins —
    the LSH band join on (band, sig) and the candidate-to-shingle joins."""
    from kenlm_rs_spark.ops.dedup import lsh_jaccard_dedup

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    plan = _plan(lsh_jaccard_dedup(docs, shingle_n=3, num_hashes=8, bands=4,
                                   threshold=0.12))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_pruned_counts_single_scan_per_branch(spark):
    """with_prune_flags joins adjusted counts with the suffix-summed actual
    counts on the gram key — equi-join, no cartesian, no python in the plan."""
    from kenlm_rs_spark.builder.lmplz import (
        adjusted_counts,
        raw_window_counts,
        with_prune_flags,
    )

    docs = spark.read.parquet(f"{SF}/documents.parquet").select("text")
    raw = raw_window_counts(docs, "text", 2)
    out = with_prune_flags(adjusted_counts(raw, 2), raw, 2, [0, 1])
    plan = _plan(out)
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_dup3_udf_is_arrow_vectorized(spark):
    """The hot-path dup3 must run as ArrowEvalPython (vectorized), never
    row-at-a-time BatchEvalPython."""
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    plan = _plan(docs.select(ts.make_dup3_udf()(F.col("text")).alias("d")))
    assert "ArrowEvalPython" in plan
    assert "BatchEvalPython" not in plan


def test_script_profile_single_projection(spark):
    """script_profile is ONE narrow codegen projection — no shuffle, no
    join, no Python stage (the r5 plan audit, pinned)."""
    from kenlm_rs_spark.ops.scripts import script_profile

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    p = _plan(script_profile(docs))
    for op in ("Exchange", "Join", "ArrowEvalPython", "BatchEvalPython"):
        assert op not in p, op
    assert "codegen id" in p


def test_topic_tag_broadcasts_dictionary(spark):
    """The taxonomy dictionary joins broadcast; no cartesian product; the
    only sort-merge join is the uniform doc_id spine join."""
    from kenlm_rs_spark.ops.topics import topic_tag

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    p = _plan(topic_tag(docs))
    assert "BroadcastHashJoin" in p
    assert "CartesianProduct" not in p


def test_bitext_candidate_stage_arrow_kernel(spark):
    """r7: the brute-force candidate stage scores each source row against
    the (model-sized, driver-collected) target matrix in ONE Arrow kernel
    and explodes — the |src| x |tgt| join carrying both vectors per row is
    gone entirely: no nested-loop/cartesian join anywhere in the plan."""
    from kenlm_rs_spark.ops.bitext import mine_bitext

    emb = spark.read.parquet(f"{SF}/embeddings.parquet").withColumn(
        "embedding", F.col("embedding").cast("array<double>")
    )
    q = mine_bitext(
        emb.filter(F.col("vec_id") % 2 == 0),
        emb.filter(F.col("vec_id") % 2 == 1),
        k=3,
    )
    p = _plan(q)
    assert "ArrowEvalPython" in p
    assert "BroadcastNestedLoopJoin" not in p
    assert "CartesianProduct" not in p


def test_filter_ablation_single_aggregation(spark):
    """One corpus pass: a single aggregate (partial+final), the stack
    unpivot on the aggregate output, no join."""
    from kenlm_rs_spark.ops.ablation import filter_ablation

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    import re

    p = _plan(filter_ablation(docs, [("a", "length(text) < 100")]))
    assert "Join" not in p
    # exactly one shuffle node: the partial->final aggregate exchange
    # (formatted mode prints each node twice: tree + detail section)
    assert len(re.findall(r"\(\d+\) Exchange", p)) == 1


def test_lmplz_jobs_do_not_grow_with_order(spark, tmp_path):
    """A3, A4 and A5 are one kernel each over one repartition at any order,
    and the prune marks one pass over the A3 output: going from order 3 to
    order 5 adds at most a few jobs, pruned or not, where a per-order chain
    of joins adds about 13 per order (unpruned) or 3 (pruned)."""
    from kenlm_rs_spark.builder.lmplz import estimate_arpa_to_path
    from kenlm_rs_spark.pipeline.corpus import training_corpus

    df = spark.createDataFrame([(t,) for t in training_corpus("en", 300)], "text string")
    sc = spark.sparkContext
    for pruned in (False, True):
        jobs = {}
        for order in (3, 5):
            group = f"lmplz-jobs-order-{order}-pruned-{pruned}"
            sc.setJobGroup(group, group)
            try:
                estimate_arpa_to_path(
                    df, str(tmp_path / f"{order}.arpa"), order=order,
                    prune_thresholds=[0] + [1] * (order - 1) if pruned else None,
                )
            finally:
                sc.setLocalProperty("spark.jobGroup.id", None)
            jobs[order] = len(sc.statusTracker().getJobIdsForGroup(group))
        assert jobs[5] - jobs[3] <= 4, (pruned, jobs)


def test_lmplz_bytes_do_not_depend_on_partitioning(spark, tmp_path):
    """Each lmplz kernel assumes its key is local to one partition. Under
    1 and 7 shuffle partitions (AQE coalescing off, so 7 stay 7) a pruned,
    vocabulary-limited order-5 estimate writes the same bytes; a kernel
    keyed on less than it needs splits a key and changes them."""
    from kenlm_rs_spark.builder.lmplz import estimate_arpa_to_path

    docs = spark.read.parquet(f"{SF}/documents.parquet").select("text")
    top = {
        r["ngram"]
        for r in ts.ngram_counts(docs, 1)
        .orderBy(F.desc("count"), F.asc("ngram")).limit(20).collect()
    }
    keys = ("spark.sql.shuffle.partitions", "spark.sql.adaptive.coalescePartitions.enabled")
    saved = {k: spark.conf.get(k) for k in keys}
    arpas = []
    try:
        spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
        for parts in (1, 7):
            spark.conf.set("spark.sql.shuffle.partitions", str(parts))
            path = tmp_path / f"parts{parts}.arpa"
            estimate_arpa_to_path(
                docs, str(path), order=5,
                prune_thresholds=[0, 0, 1, 1, 1], limit_vocab=top,
            )
            arpas.append(path.read_bytes())
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)
    assert arpas[0] == arpas[1]


def _plan_node_ids(plan: str, node: str, needle: str) -> list[int]:
    """Operator ids (children numbered before parents) of the ``node``
    detail sections of a formatted plan that mention ``needle``."""
    ids = []
    for block in plan.split("\n\n"):
        m = re.match(r"\((\d+)\) (\w+)", block.strip())
        if m and m.group(2) == node and needle in block:
            ids.append(int(m.group(1)))
    return ids


_CAP = 3
# "alpha beta gamma" opens cap+1 docs: over the cap, so docs 0 and 2 share
# nothing countable; 0/1 and 2/3 share three shingles each below it
_CAP_TEXTS = [
    "alpha beta gamma one two three four",
    "alpha beta gamma one two three five",
    "alpha beta gamma six seven eight nine",
    "alpha beta gamma six seven eight ten",
    "zulu yankee xray",
]


@pytest.mark.parametrize("kind", ["shingle", "fingerprint"])
def test_posting_cap_applies_before_the_list(spark, kind):
    """A key in cap+1 docs never reaches collect_list: the frequency filter
    sits below the aggregate that builds the posting list, on the same
    exchange (two Exchanges, as before the filter moved), and the pairs
    equal a Python count over the keys within the cap."""
    from kenlm_rs_spark.ops.dedup import ngram_jaccard_pairs, shingle_table
    from kenlm_rs_spark.ops.winnow import winnow_candidate_pairs, winnow_table

    boiler = "boilerplate navigation footer text repeated "
    texts = _CAP_TEXTS if kind == "shingle" else [
        (boiler + t if i < _CAP + 1 else t) * 2 for i, t in enumerate(_CAP_TEXTS)
    ]
    df = spark.createDataFrame(list(enumerate(texts)), "doc_id long, text string")
    if kind == "shingle":
        out = ngram_jaccard_pairs(df, shingle_n=3, threshold=0.0, max_shingle_freq=_CAP)
        keys = shingle_table(df, "doc_id", "text", 3)
    else:
        out = winnow_candidate_pairs(df, max_fp_freq=_CAP, min_shared=1)
        keys = winnow_table(df, "doc_id", "text")
    p = _plan(out)  # before execution: AQE would add the final plan
    assert len(re.findall(r"\(\d+\) Exchange", p)) == 2
    cap_filter = _plan_node_ids(p, "Filter", "_freq")
    lists = _plan_node_ids(p, "ObjectHashAggregate", "collect_list")
    assert cap_filter and lists and max(cap_filter) < min(lists)

    docs_of: dict = {}
    for r in keys.collect():
        docs_of.setdefault(r[kind], set()).add(r["doc_id"])
    assert any(len(d) == _CAP + 1 for d in docs_of.values())
    shared: Counter = Counter()
    for d in docs_of.values():
        if 2 <= len(d) <= _CAP:
            ids = sorted(d)
            shared.update((a, b) for i, a in enumerate(ids) for b in ids[i + 1:])
    assert {(r["id_a"], r["id_b"]) for r in out.collect()} == set(shared)
    assert (0, 2) not in shared and (0, 1) in shared
