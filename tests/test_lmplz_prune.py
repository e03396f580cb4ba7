"""lmplz --prune semantics (VERDICT r01 item 2).

Reference laws verified here (cited in kenlm_rs_spark/builder/lmplz.py):
- prune decision on RAW counts, thresholds non-decreasing, <s>/</s>/<unk>
  unigrams protected (adjust_counts.cc:219-233, 265-283);
- discount statistics computed over ALL adjusted counts, pruned included
  (StatCollector.Add runs before the survivors are compacted);
- pruned mass folds into the context gamma so every conditional distribution
  still sums to exactly 1 (initial_probabilities.cc:163-190 "Makes model sum
  to 1 with pruning");
- byte-frozen regression fixture (fixtures/lms/pruned_sf0001_011.arpa).
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

SF = os.environ.get("SPARK_GRAFT_TEST_SF", "/root/testdata/sf0.001")
FIXTURE = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "fixtures", "lms", "pruned_sf0001_011.arpa",
)
PRUNE = [0, 1, 1]


@pytest.fixture(scope="module")
def docs(spark):
    p = os.path.join(SF, "documents.parquet")
    if not os.path.exists(p):
        pytest.skip("documents fixture missing")
    return spark.read.parquet(p).select("text")


@pytest.fixture(scope="module")
def pruned_model_df(spark, docs):
    from kenlm_rs_spark.builder.lmplz import estimate_df

    return estimate_df(docs, order=3, prune_thresholds=PRUNE).collect()


def test_surviving_set_is_raw_count_thresholded(spark, docs, pruned_model_df):
    from kenlm_rs_spark.builder.lmplz import raw_window_counts

    raw = raw_window_counts(docs, "text", 3)
    windows = [(tuple(r["gram"]), r["count"]) for r in raw.collect()]
    surviving = {
        (r["n"], tuple(r["gram"])) for r in pruned_model_df
    }
    for n in (2, 3):
        # an n-gram's raw count: every window adds its count to its
        # length-n suffix (each corpus position is one window)
        actual: dict[tuple, int] = {}
        for g, c in windows:
            if len(g) >= n:
                actual[g[-n:]] = actual.get(g[-n:], 0) + c
        got = {g for (nn, g) in surviving if nn == n}
        # every surviving gram clears the threshold...
        for g in got:
            assert actual.get(g, 0) > PRUNE[n - 1], (g, actual.get(g))
        # ...and every adjusted gram clearing it survives (suffix-closure
        # holds because thresholds are non-decreasing)
        from kenlm_rs_spark.builder.lmplz import adjusted_counts

        adj = {
            tuple(r["gram"])
            for r in adjusted_counts(raw, 3).filter(F.col("n") == n).collect()
        }
        expected = {g for g in adj if actual.get(g, 0) > PRUNE[n - 1]}
        assert got == expected


def test_pruned_conditionals_sum_to_one(pruned_model_df):
    """For every surviving context c: sum_w p(w|c) + gamma(c) * (1 -
    sum_w p_lower(w|suffix(c))) == 1 over the surviving children w — the
    pruned-mass-in-gamma law."""
    p = {tuple(r["gram"]): r["p"] for r in pruned_model_df}
    gamma = {
        tuple(r["gram"]): r["gamma"]
        for r in pruned_model_df
        if r["gamma"] is not None
    }
    by_ctx: dict[tuple, list[tuple]] = {}
    for r in pruned_model_df:
        g = tuple(r["gram"])
        if len(g) >= 2:
            by_ctx.setdefault(g[:-1], []).append(g)
    checked = 0
    for c, children in by_ctx.items():
        if c not in gamma:
            continue
        if c[0] == "<s>" and len(c) == 1:
            continue  # p(<s>) = 0 sentinel distorts the unigram-level sum
        mass = sum(p[g] for g in children)
        lower = sum(p[g[1:]] for g in children)
        total = mass + gamma[c] * (1.0 - lower)
        assert total == pytest.approx(1.0, abs=1e-9), (c, total)
        checked += 1
    assert checked > 50


def test_unpruned_flags_are_noop(spark, docs):
    """prune [0,0,0] must be byte-identical to no pruning at all."""
    from kenlm_rs_spark.builder.lmplz import estimate_arpa

    assert estimate_arpa(docs, order=3, prune_thresholds=[0, 0, 0]) == \
        estimate_arpa(docs, order=3)


def test_pruned_arpa_frozen_regression(spark, docs):
    from kenlm_rs_spark.builder.lmplz import estimate_arpa

    assert os.path.exists(FIXTURE), "run the freeze snippet in tools/ first"
    expected = open(FIXTURE).read()
    assert estimate_arpa(docs, order=3, prune_thresholds=PRUNE) == expected


def test_pruned_model_scores(spark, docs):
    import io

    from kenlm_rs_spark.lm.arpa import read_arpa
    from kenlm_rs_spark.lm.model import NGramModel

    m = NGramModel.from_arpa(read_arpa(io.StringIO(open(FIXTURE).read())))
    total, tokens, oov, ppl = m.perplexity("data table hash merge group".split())
    assert tokens == 6 and ppl > 1.0 and total < 0


def test_streaming_emit_forwards_vocab_pad_and_sri(spark, docs, tmp_path):
    """The emit honors --vocab_pad / --interpolate_unigrams (they were
    silently dropped once): the <unk> record carries log10 of the p that
    estimate_df gives it under the same arguments, which both options
    move."""
    import math

    from kenlm_rs_spark.builder.lmplz import estimate_arpa_to_path, estimate_df

    def unk_p(model):
        return next(r["p"] for r in model.collect() if tuple(r["gram"]) == ("<unk>",))

    default = unk_p(estimate_df(docs, order=2))
    for kw in ({"vocab_pad": 5000}, {"interpolate_unigrams": False}):
        p = unk_p(estimate_df(docs, order=2, **kw))
        assert p != default, kw
        path = tmp_path / "stream_kw.arpa"
        estimate_arpa_to_path(docs, str(path), order=2, **kw)
        unk = next(
            line for line in path.read_text().splitlines()
            if line.split("\t")[1:2] == ["<unk>"]
        )
        assert unk.split("\t")[0] == f"{math.log10(p):g}", kw


def test_order1_pruning_keeps_reserved_unigrams(spark):
    """Order 1 with a threshold: a word seen once is pruned, and <s>, </s>
    and <unk> stay even when </s> itself is seen only once."""
    from kenlm_rs_spark.builder.lmplz import estimate_arpa

    df = spark.createDataFrame([("a a b",)], "text string")
    words = {
        line.split("\t")[1]
        for line in estimate_arpa(df, order=1, prune_thresholds=[1]).splitlines()
        if "\t" in line
    }
    assert words == {"a", "</s>", "<s>", "<unk>"}


def test_limit_vocab_pruning(spark, docs):
    """lmplz --limit_vocab_file semantics: n-grams containing out-of-vocab
    words are pruned at every order; reserved symbols always allowed; the
    conditional distributions stay normalized (pruned mass in gamma)."""
    from kenlm_rs_spark.builder.lmplz import estimate_df
    from kenlm_rs_spark.ops import textstats as ts

    uni = ts.ngram_counts(docs, 1)
    vocab = {
        r["ngram"]
        for r in uni.orderBy(F.desc("count"), F.asc("ngram")).limit(15).collect()
    }
    rows = estimate_df(docs, order=3, limit_vocab=vocab).collect()
    allowed = vocab | {"<s>", "</s>", "<unk>"}
    for r in rows:
        assert set(r["gram"]) <= allowed, r["gram"]
    # some restriction actually happened, and all orders still populated
    ns = {r["n"] for r in rows}
    assert ns == {1, 2, 3}
    n_uni = sum(1 for r in rows if r["n"] == 1)
    assert n_uni <= len(vocab) + 3

    # normalization law under vocab pruning
    p = {tuple(r["gram"]): r["p"] for r in rows}
    gamma = {
        tuple(r["gram"]): r["gamma"] for r in rows if r["gamma"] is not None
    }
    by_ctx: dict[tuple, list[tuple]] = {}
    for r in rows:
        g = tuple(r["gram"])
        if len(g) >= 2:
            by_ctx.setdefault(g[:-1], []).append(g)
    checked = 0
    for c, children in by_ctx.items():
        if c not in gamma:
            continue
        mass = sum(p[g] for g in children)
        lower = sum(p[g[1:]] for g in children)
        assert mass + gamma[c] * (1.0 - lower) == pytest.approx(1.0, abs=1e-9), c
        checked += 1
    assert checked > 10


def test_monotonicity_enforced(spark, docs):
    from kenlm_rs_spark.builder.lmplz import estimate_df

    with pytest.raises(ValueError, match="non-decreasing"):
        estimate_df(docs, order=3, prune_thresholds=[0, 2, 1]).collect()


def test_sri_unigram_mode(spark, docs):
    """--interpolate_unigrams 0 (SRI): all interpolation mass goes to <unk>
    (initial_probabilities.cc:218-233); unigram mass excl <s> still exactly 1."""
    from kenlm_rs_spark.builder.lmplz import estimate_df

    rows = estimate_df(docs, order=2, interpolate_unigrams=False).collect()
    p1 = {tuple(r["gram"])[0]: r["p"] for r in rows if r["n"] == 1}
    default = {
        tuple(r["gram"])[0]: r["p"]
        for r in estimate_df(docs, order=2).collect()
        if r["n"] == 1
    }
    # SRI <unk> absorbs the full gamma mass -> strictly larger than default
    assert p1["<unk>"] > default["<unk>"] > 0
    # every real word is smaller than its interpolated twin by the same delta
    for w in p1:
        if w not in ("<unk>", "<s>"):
            assert p1[w] < default[w]
    # both modes normalize exactly over the unigram distribution (excl <s>)
    for dist in (p1, default):
        total = sum(v for k, v in dist.items() if k != "<s>")
        assert total == pytest.approx(1.0, abs=1e-9)


def test_vocab_pad(spark, docs):
    """--vocab_pad: uniform base becomes 1/max(pad, types+1), reserving mass
    for unseen words; padding shrinks interpolated unigram probs and the
    retained unigram mass drops below 1 by exactly the phantom reservation."""
    from kenlm_rs_spark.builder.lmplz import estimate_df

    base = {
        tuple(r["gram"])[0]: r["p"]
        for r in estimate_df(docs, order=2).collect()
        if r["n"] == 1
    }
    n_types = len(base) - 1  # excl <s>; incl <unk> and </s>
    pad = n_types * 4
    padded = {
        tuple(r["gram"])[0]: r["p"]
        for r in estimate_df(docs, order=2, vocab_pad=pad).collect()
        if r["n"] == 1
    }
    for w in base:
        if w != "<s>":
            assert padded[w] < base[w], w
    mass_base = sum(v for k, v in base.items() if k != "<s>")
    mass_pad = sum(v for k, v in padded.items() if k != "<s>")
    assert mass_base == pytest.approx(1.0, abs=1e-9)
    assert mass_pad < 1.0 - 1e-6  # phantom types hold the rest

    with pytest.raises(ValueError, match="interpolate_unigrams"):
        estimate_df(docs, order=2, vocab_pad=10, interpolate_unigrams=False)


def test_order5_pruned_estimation_normalizes_and_scores(spark, docs):
    """Production-shaped order (lmplz default territory is 3-6): order-5
    estimation with pruning must keep every surviving conditional
    distribution normalized (pruned-mass-in-gamma at four context depths)
    and produce a loadable, scorable ARPA."""
    import io

    from kenlm_rs_spark.builder.lmplz import estimate_arpa, estimate_df
    from kenlm_rs_spark.lm.arpa import read_arpa
    from kenlm_rs_spark.lm.model import NGramModel

    rows = estimate_df(
        docs, order=5, prune_thresholds=[0, 0, 1, 1, 1]
    ).collect()
    ns = {r["n"] for r in rows}
    assert ns == {1, 2, 3, 4, 5}

    p = {tuple(r["gram"]): r["p"] for r in rows}
    gamma = {
        tuple(r["gram"]): r["gamma"] for r in rows if r["gamma"] is not None
    }
    by_ctx: dict[tuple, list[tuple]] = {}
    for r in rows:
        g = tuple(r["gram"])
        if len(g) >= 2:
            by_ctx.setdefault(g[:-1], []).append(g)
    checked_depth = {1: 0, 2: 0, 3: 0, 4: 0}
    for c, children in by_ctx.items():
        if c not in gamma or (c[0] == "<s>" and len(c) == 1):
            continue
        mass = sum(p[g] for g in children)
        lower = sum(p[g[1:]] for g in children)
        total = mass + gamma[c] * (1.0 - lower)
        assert total == pytest.approx(1.0, abs=1e-9), (c, total)
        checked_depth[len(c)] += 1
    # normalization must actually be exercised at every context depth
    for depth, n_checked in checked_depth.items():
        assert n_checked > 0, f"no contexts checked at depth {depth}"

    arpa = estimate_arpa(docs, order=5, prune_thresholds=[0, 0, 1, 1, 1])
    m = NGramModel.from_arpa(read_arpa(io.StringIO(arpa)))
    assert m.order == 5
    total, tokens, oov, ppl = m.perplexity("data table hash merge group".split())
    assert tokens == 6 and ppl > 1.0 and total < 0


def test_order5_estimated_model_binary_roundtrip(spark, docs, tmp_path):
    """The full production chain at order 5: Spark estimation -> ARPA ->
    KenLM-format binaries (probing, trie, bhiksha array-trie) -> loader ->
    scores bit-identical to the from_arpa model."""
    import io

    import numpy as np

    from kenlm_rs_spark.builder.lmplz import estimate_arpa
    from kenlm_rs_spark.lm.arpa import read_arpa
    from kenlm_rs_spark.lm.binwrite import write_probing, write_trie
    from kenlm_rs_spark.lm.model import NGramModel
    from kenlm_rs_spark.lm.score import score_texts

    arpa = estimate_arpa(docs, order=5, prune_thresholds=[0, 0, 1, 1, 1])
    ref = NGramModel.from_arpa(read_arpa(io.StringIO(arpa)))
    texts = [
        "data table hash merge group",
        "the quick brown fox",
        "completely zzz unseen tokens",
        "",
    ]
    expect = score_texts(ref, texts)["log10_prob"]
    outs = []
    for name, kw in (
        ("p.bin", dict(writer="probing")),
        ("t.bin", dict(writer="trie")),
        ("a.bin", dict(writer="trie", bhiksha_bits=64)),
    ):
        path = str(tmp_path / name)
        sections = read_arpa(io.StringIO(arpa))
        if kw["writer"] == "probing":
            write_probing(sections, path)
        else:
            write_trie(sections, path, bhiksha_bits=kw.get("bhiksha_bits"))
        got = score_texts(NGramModel.load(path), texts)["log10_prob"]
        assert np.array_equal(got, expect), name
        outs.append(path)
    # bhiksha file is never larger than the plain trie (pointer compression)
    assert os.path.getsize(outs[2]) <= os.path.getsize(outs[1]) + 64
