"""Duplicated-span statistics and removal (ops/spans.py): hand-computed
fractions, hashed==string path equivalence, the short-doc null edge, and
NULL text in span removal."""


def test_duplicated_span_stats_hand(spark):
    from kenlm_rs_spark.ops.spans import duplicated_span_stats

    docs = spark.createDataFrame(
        [
            # doc 1 and 2 share the span "a b c": both of its positions dup
            (1, "a b c x y"),       # spans: "a b c", "b c x", "c x y"
            (2, "q a b c r"),       # spans: "q a b", "a b c", "b c r"
            (3, "u v w z t"),       # unique spans only
            (4, "a b"),             # shorter than n: zero spans
        ],
        "doc_id long, text string",
    )
    got = {
        r["doc_id"]: r for r in duplicated_span_stats(docs, n=3).collect()
    }
    assert (got[1]["n_spans"], got[1]["n_dup_spans"]) == (3, 1)
    assert got[1]["dup_span_frac"] == round(1 / 3, 9)
    assert (got[2]["n_spans"], got[2]["n_dup_spans"]) == (3, 1)
    assert (got[3]["n_spans"], got[3]["n_dup_spans"]) == (3, 0)
    assert got[3]["dup_span_frac"] == 0.0
    assert (got[4]["n_spans"], got[4]["n_dup_spans"]) == (0, 0)
    assert got[4]["dup_span_frac"] is None


def test_duplicated_span_stats_within_doc_repeat(spark):
    """A span repeated WITHIN one doc counts as duplicated (Lee et al.
    'occurs more than once' is corpus-wide including self-repeats)."""
    from kenlm_rs_spark.ops.spans import duplicated_span_stats

    docs = spark.createDataFrame(
        [(1, "a b c d a b c")], "doc_id long, text string"
    )
    # 3-spans: "a b c", "b c d", "c d a", "d a b", "a b c" -> "a b c" x2
    got = duplicated_span_stats(docs, n=3).collect()[0]
    assert got["n_spans"] == 5 and got["n_dup_spans"] == 2


def test_duplicated_span_stats_hashed_equivalence(spark):
    from kenlm_rs_spark.ops.spans import duplicated_span_stats

    docs = spark.createDataFrame(
        [
            (i, f"tok{i % 7} tok{(i + 1) % 7} tok{(i + 2) % 7} "
                f"tok{(i * 3) % 11} tok{(i * 5) % 11} tok{(i * 7) % 13}")
            for i in range(60)
        ],
        "doc_id long, text string",
    )
    a = sorted(map(tuple, duplicated_span_stats(docs, n=4).collect()))
    b = sorted(
        map(tuple, duplicated_span_stats(docs, n=4, hashed=True).collect())
    )
    assert a == b


def test_remove_duplicated_spans_null_text(spark):
    """A NULL text cleans to '' with nothing removed; the duplicated span
    is cut from every occurrence but the first."""
    from kenlm_rs_spark.ops.spans import remove_duplicated_spans

    docs = spark.createDataFrame(
        [(1, "a b c x"), (2, "q a b c"), (3, None)],
        "doc_id long, text string",
    )
    got = {
        r["doc_id"]: (r["cleaned_text"], r["n_removed"])
        for r in remove_duplicated_spans(docs, n=3).collect()
    }
    assert got == {1: ("a b c x", 0), 2: ("q", 3), 3: ("", 0)}
