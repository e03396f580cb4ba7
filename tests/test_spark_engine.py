"""Spark-side engine tests: broadcast scoring, lmplz normalization, filter
operators, dedup/similarity ops, extraction parity, multimodal plumbing."""

import io
import math

import numpy as np
import pytest
from pyspark.sql import functions as F

from kenlm_rs_spark.builder import filter as arpa_filter
from kenlm_rs_spark.builder.lmplz import estimate_arpa
from kenlm_rs_spark.lm.arpa import read_arpa
from kenlm_rs_spark.lm.model import NGramModel
from kenlm_rs_spark.ops import dedup, multimodal, similarity
from kenlm_rs_spark.pipeline.extract import extract_text, extract_text_py
from kenlm_rs_spark.pipeline.scrub import SCRUB_RULES, scrub_text
from kenlm_rs_spark.spark.scoring import broadcast_model, score_with_model

REF = "/root/reference"


def test_broadcast_scoring_matches_local(spark):
    model = NGramModel.load(f"{REF}/test_data/test.bin")
    bc = broadcast_model(spark, model)
    texts = [
        "i have a good deal of will you remember",
        "some day achieve toast zzz",
        "",
    ]
    df = spark.createDataFrame([(t,) for t in texts], ["text"])
    rows = {
        r["text"]: r
        for r in score_with_model(df, bc).select("text", "lm.*").collect()
    }
    from kenlm_rs_spark.lm.score import score_texts

    local = score_texts(model, texts, bos=True, eos=True)
    for i, t in enumerate(texts):
        assert rows[t]["log10_prob"] == pytest.approx(float(local["log10_prob"][i]))
        assert rows[t]["tokens"] == int(local["tokens"][i])
        assert rows[t]["oov"] == int(local["oov"][i])


def test_lmplz_normalizes(spark):
    sents = ["a b c", "a b d", "b c a", "c a b", "a b c", "d a b"]
    df = spark.createDataFrame([(s,) for s in sents], ["text"])
    arpa = estimate_arpa(df, order=3)
    m = NGramModel.from_arpa(read_arpa(io.StringIO(arpa)))
    vocab = [w for w in m.words if w != "<s>"]

    def mass(ctx, bos=False):
        st = m.bos_state() if bos else m.null_state()
        for w in ctx:
            _, st = m.score_word_given_state(st, w)
        return sum(10 ** m.full_score(st, m.get_word_idx(w))[0] for w in vocab)

    assert mass([]) == pytest.approx(1.0, abs=5e-5)
    assert mass([], bos=True) == pytest.approx(1.0, abs=5e-5)
    assert mass(["a"]) == pytest.approx(1.0, abs=5e-5)
    assert mass(["a", "b"]) == pytest.approx(1.0, abs=5e-5)


def test_lmplz_vocab_rows_skip_bos_and_null_first_token(spark):
    """vocab_rows counts unigram types whose first token is neither <s>
    nor NULL."""
    from kenlm_rs_spark.builder.lmplz import _discount_and_vocab_stats

    adjusted = spark.createDataFrame(
        [(1, 3, ["<s>"]), (1, 2, ["a"]), (1, 1, [None])],
        "n int, count long, gram array<string>",
    )
    _, vocab_rows = _discount_and_vocab_stats(adjusted, 1)
    assert vocab_rows == 1


def test_arpa_filter_ops(spark):
    sections = read_arpa(f"{REF}/test_data/arpa/lm_small.arpa")
    df = arpa_filter.arpa_to_df(spark, sections)
    assert df.count() == 12 + 13 + 12

    kept = arpa_filter.vocab_filter(df, ["i", "have", "a"])
    grams = {tuple(r["ngram"]) for r in kept.collect()}
    assert ("i", "have") in grams
    assert ("i", "have", "a") in grams
    assert all(
        set(g) <= {"i", "have", "a", "<s>", "</s>", "<unk>"} for g in grams
    )

    ctx = arpa_filter.context_filter(df, ["i", "have"])
    cgrams = {tuple(r["ngram"]) for r in ctx.collect()}
    assert ("i", "have", "a") in cgrams  # context (i,have) passes, last word free
    assert ("have", "a", "good") not in cgrams

    uni = arpa_filter.union_filter(df, [["i"], ["good", "deal"]])
    ugrams = {tuple(r["ngram"]) for r in uni.collect()}
    assert ("i",) in ugrams and ("good", "deal") in ugrams

    multi = arpa_filter.multiple_output_filter(df, {"s1": ["i"], "s2": ["good"]})
    by_sent = {
        (r["sentence_id"], tuple(r["ngram"])) for r in multi.collect()
    }
    assert ("s1", ("i",)) in by_sent and ("s2", ("good",)) in by_sent

    # round-trip back to sections
    rt = arpa_filter.df_to_sections(arpa_filter.arpa_to_df(spark, sections))
    assert rt.counts == sections.counts


def test_dedup_exact_and_jaccard(spark):
    rows = [
        (1, "the quick brown fox jumps over the lazy dog"),
        (2, "the  quick brown fox jumps over the lazy dog"),  # same tokens
        (3, "the quick brown fox jumps over the lazy cat today"),
        (4, "completely different words entirely here now"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    groups = dedup.exact_duplicates(df)
    g2 = [r for r in groups.collect() if r["group_size"] == 2]
    assert len(g2) == 1 and g2[0]["keep_id"] == 1

    pairs = dedup.ngram_jaccard_pairs(df, shingle_n=2, threshold=0.4).collect()
    pairset = {(r["id_a"], r["id_b"]) for r in pairs}
    assert (1, 2) in pairset
    assert (1, 4) not in pairset

    sigs = {r["doc_id"]: r for r in dedup.minhash_signatures(df, shingle_n=2).collect()}
    same = sum(1 for i in range(16) if sigs[1][f"mh{i}"] == sigs[2][f"mh{i}"])
    assert same == 16  # identical shingle sets (whitespace collapsed)
    sim12 = sum(1 for i in range(16) if sigs[1][f"mh{i}"] == sigs[3][f"mh{i}"])
    sim14 = sum(1 for i in range(16) if sigs[1][f"mh{i}"] == sigs[4][f"mh{i}"])
    assert sim12 > sim14

    lsh = dedup.minhash_lsh_pairs(df, shingle_n=2, num_hashes=16, bands=4)
    assert (1, 2) in {(r["id_a"], r["id_b"]) for r in lsh.collect()}


def test_cosine_topk_matches_numpy(spark):
    rng = np.random.default_rng(5)
    vecs = rng.normal(size=(20, 8)).astype(np.float32)
    df = spark.createDataFrame(
        [(i, [float(x) for x in vecs[i]]) for i in range(20)],
        "vec_id long, embedding array<float>",
    )
    res = similarity.brute_force_topk(df, df.filter(F.col("vec_id") == 0), k=3)
    got = [(r["match_id"], r["cosine"]) for r in res.orderBy("rank").collect()]
    sims = vecs @ vecs[0] / (np.linalg.norm(vecs, axis=1) * np.linalg.norm(vecs[0]))
    order = [i for i in np.argsort(-sims) if i != 0][:3]
    assert [g[0] for g in got] == [int(i) for i in order]
    for (mid, cos), i in zip(got, order):
        assert cos == pytest.approx(float(sims[i]), abs=5e-5)


def test_extract_parity_spark_vs_python(spark):
    htmls = [
        b"<html><head><style>p{}</style></head><body><p>Hello &amp; welcome</p><script>var x=1;</script></body></html>",
        b"<p>a</p><p>b</p>",
        "caf\xe9 <b>bold</b>".encode("utf-8"),
    ]
    df = spark.createDataFrame([(h,) for h in htmls], "html binary")
    got = [r[0] for r in df.select(extract_text(F.col("html"))).collect()]
    want = [extract_text_py(h) for h in htmls]
    assert got == want
    assert want[0] == "Hello & welcome"


def test_scrub_rules(spark):
    txt = "mail a.b@c.org or +1-555-123-4567 ip 10.0.0.1 ssn 123-45-6789 badword1!"
    df = spark.createDataFrame([(txt,)], ["text"])
    out = df.select(scrub_text(F.col("text")).alias("s")).collect()[0]["s"]
    assert "<EMAIL>" in out and "<PHONE>" in out and "<IP>" in out
    assert "<ID>" in out and "<TOXIC>" in out
    assert "a.b@c.org" not in out


def test_multimodal_plumbing(spark):
    df = spark.createDataFrame(
        [(1, b"imagebytes" * 100), (2, b"x"), (3, None)],
        "doc_id long, payload binary",
    )
    meta = {r["doc_id"]: r for r in multimodal.image_metadata(df).collect()}
    assert meta[1]["channels"] == 3 and meta[1]["format"] == "fake/deterministic"
    assert meta[3]["format"] == "undecodable"
    feats = {r["doc_id"]: r for r in multimodal.image_features(df, dim=16).collect()}
    assert len(feats[1]["feature"]) == 16
    assert feats[1]["feat_dim"] == 16
    # determinism
    feats2 = {r["doc_id"]: r for r in multimodal.image_features(df, dim=16).collect()}
    assert feats[1]["feature"] == feats2[1]["feature"]


def test_ivf_ann_topk(spark):
    """IVF-Flat: every returned neighbor must be a true cosine match drawn
    from the probed lists, ranks contiguous, and — on clustered data where
    the true NNs share the query's list — recall@k vs brute force is high."""
    rng = np.random.default_rng(11)
    # 3 well-separated clusters of 40 vectors each, ids 0..119
    centers = rng.normal(size=(3, 16)) * 10
    vecs = np.vstack(
        [centers[c] + rng.normal(size=(40, 16)) for c in range(3)]
    ).astype(np.float32)
    df = spark.createDataFrame(
        [(i, [float(x) for x in vecs[i]]) for i in range(len(vecs))],
        "vec_id long, embedding array<float>",
    ).withColumn("embedding", F.col("embedding").cast("array<double>"))
    queries = df.filter(F.col("vec_id") < 3)
    got = similarity.ivf_ann_topk(
        df, queries, dim=16, k=5, centroid_stride=11, n_probe=3
    ).collect()
    by_q = {}
    for r in got:
        by_q.setdefault(r["query_id"], []).append(r)
    sims = (vecs @ vecs.T) / np.outer(
        np.linalg.norm(vecs, axis=1), np.linalg.norm(vecs, axis=1)
    )
    for qid, rows in by_q.items():
        rows.sort(key=lambda r: r["rank"])
        assert [r["rank"] for r in rows] == list(range(1, len(rows) + 1))
        assert all(r["match_id"] != qid for r in rows)
        # cosines must be the true cosines (exact kernel inside probed lists)
        for r in rows:
            assert r["cosine"] == pytest.approx(
                float(sims[qid, r["match_id"]]), abs=1e-6
            )
        # recall vs brute force: clustered data keeps true NNs in-list
        truth = [
            int(i) for i in np.argsort(-sims[qid]) if i != qid
        ][:5]
        overlap = len(set(truth) & {r["match_id"] for r in rows})
        assert overlap >= 4, (qid, truth, [r["match_id"] for r in rows])


def test_ivf_ann_no_cartesian_corpus_join(spark):
    """The corpus side must join candidates via broadcast on cluster id —
    never a corpus x corpus cartesian."""
    rng = np.random.default_rng(3)
    vecs = rng.normal(size=(60, 8)).astype(np.float32)
    df = spark.createDataFrame(
        [(i, [float(x) for x in vecs[i]]) for i in range(60)],
        "vec_id long, embedding array<double>",
    )
    q = similarity.ivf_ann_topk(
        df, df.filter(F.col("vec_id") < 2), dim=8, k=3,
        centroid_stride=7, n_probe=2,
    )
    plan = q._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan
