"""Tests of the benchmark itself (no Spark session): seeded generators, the
output checks against corrupted outputs, the event-log parser, and the
BENCHMARK.json contract. Run: python3 -m pytest perfbench/tests -q"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import numpy as np
import pytest

from perfbench import checks, gen
from perfbench.eventlog import Tracer, parse_event_log, self_times, total

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
EN_ARPA = os.path.join(ROOT, "fixtures", "lms", "en.arpa")


# ---------------------------------------------------------------- generators

def test_generators_are_deterministic_per_seed():
    assert gen.page_rows(3, 50) == gen.page_rows(3, 50)
    assert gen.page_rows(3, 50) != gen.page_rows(4, 50)
    train = gen.vocab_docs(5, 20)
    assert train == gen.vocab_docs(5, 20) and train != gen.vocab_docs(6, 20)
    assert gen.heldout_docs(5, train, 30) == gen.heldout_docs(5, train, 30)
    assert gen.web_pages(7, 200) == gen.web_pages(7, 200)
    assert gen.web_pages(7, 200) != gen.web_pages(8, 200)


def test_page_window_keeps_the_corpus_mix():
    for seed in (0, 1, 99):
        ids = [r["row_id"] for r in gen.page_rows(seed, 40)]
        assert ids[0] % 40 == 0
        assert sorted(i % 10 for i in ids) == sorted(list(range(10)) * 4)
        assert sum(r["text"] is None for r in gen.page_rows(seed, 40)) == 5


def test_vocab_generator_has_a_large_vocabulary():
    words = {w for d in gen.vocab_docs(1, 300) for w in d.split()}
    assert len(words) > 15_000


def test_web_pages_carry_near_copies_at_the_cited_rate():
    n = 4000
    pages, base = gen.web_pages(1, n), gen.page_rows(1, n)
    assert [p["row_id"] for p in pages] == [p["row_id"] for p in base]
    with_text = [i for i in range(n) if base[i]["text"] is not None]
    assert all(pages[i]["text"] is None for i in range(n) if i not in set(with_text))
    copies = [i for i in with_text if pages[i]["text"] != base[i]["text"]]
    assert abs(len(copies) / len(with_text) - gen.NEAR_DUP_FRAC) < 0.01
    # every copy is within the edit budget of some earlier page
    for i in copies:
        words = pages[i]["text"].split(" ")
        assert any(
            len(src) == len(words)
            and sum(a != b for a, b in zip(src, words)) <= gen.NEAR_DUP_MAX_EDIT * len(words) + 1
            for src in (pages[j]["text"].split(" ") for j in with_text if j < i)
        )


# ---------------------------------------------------------------- checks

@pytest.fixture(scope="module")
def en_model():
    from kenlm_rs_spark.lm.model import NGramModel

    return NGramModel.load(EN_ARPA)


def _scored_rows(model, texts):
    from kenlm_rs_spark.lm.score import score_texts

    res = score_texts(model, texts)
    return [
        {"text_scrubbed": t, "lang_pred": "en", "log10_prob": float(res["log10_prob"][i]),
         "tokens": int(res["tokens"][i]), "oov": int(res["oov"][i]), "ppl": float(res["ppl"][i])}
        for i, t in enumerate(texts)
    ]


def test_score_check_rejects_a_flipped_ppl(en_model):
    texts = [p["text"] for p in gen.page_rows(2, 40) if p["text"] and p["lang"] == "en"]
    rows = _scored_rows(en_model, texts)
    models = {"en": en_model}
    assert checks.check_scores(rows, models, "en", "lang_pred") == []
    bad = [dict(r) for r in rows]
    bad[3]["ppl"] = float(np.nextafter(np.nextafter(bad[3]["ppl"], np.inf), np.inf))
    assert len(checks.check_scores(bad, models, "en", "lang_pred")) == 1
    bad = [dict(r) for r in rows]
    bad[0]["log10_prob"] += 1e-3
    assert len(checks.check_scores(bad, models, "en", "lang_pred")) == 1


def test_decision_digest_sees_one_changed_decision():
    rows = [{"url": f"u{i}", "keep": i % 2 == 0, "drop_reason": None if i % 2 == 0 else "ppl_tail"}
            for i in range(10)]
    flipped = [dict(r) for r in rows]
    flipped[4].update(keep=False, drop_reason="too_short")
    assert checks.decision_digest(rows) == checks.decision_digest(list(reversed(rows)))
    assert checks.decision_digest(rows) != checks.decision_digest(flipped)


def test_arpa_checks_reject_a_dropped_line(tmp_path):
    header, _ = checks.read_arpa_plain(EN_ARPA)
    assert checks.check_arpa(EN_ARPA, header) == []
    assert checks.check_normalization(EN_ARPA, 3, seed=0) == []
    lines = open(EN_ARPA).read().split("\n")
    dropped = tmp_path / "dropped.arpa"
    dropped.write_text("\n".join(lines[:20] + lines[21:]))
    assert checks.check_arpa(str(dropped), header)


def test_normalization_check_rejects_a_changed_probability(tmp_path):
    text = open(EN_ARPA).read().replace("\n-2.38431\tal\t", "\n-2.28431\tal\t", 1)
    changed = tmp_path / "changed.arpa"
    changed.write_text(text)
    assert checks.check_normalization(str(changed), 3, seed=0)


def _dedup_case():
    base = gen.vocab_docs(9, 3)
    texts = {1: base[0], 2: base[0].replace(base[0].split()[5], "zzz", 1), 3: base[1],
             4: base[1], 5: base[2], 6: base[0]}
    pairs = []
    for a in texts:
        for b in texts:
            if a < b:
                sa, sb = checks.shingles(texts[a]), checks.shingles(texts[b])
                j = len(sa & sb) / len(sa | sb)
                if j >= 0.5:
                    pairs.append((a, b, len(sa & sb), j))
    clusters = [(d, c, d == c) for d, c in checks.union_find((a, b) for a, b, _, _ in pairs).items()]
    return texts, pairs, clusters


def test_dedup_check_rejects_a_split_cluster():
    texts, pairs, clusters = _dedup_case()
    assert {c for _, c, _ in clusters} == {1, 3}
    sample = list(range(len(pairs)))
    assert checks.check_dedup(pairs, clusters, texts, sample) == []
    split = [(d, d if d == 6 else c, d == 6 or s) for d, c, s in clusters]
    assert checks.check_dedup(pairs, split, texts, sample)
    wrong = [(a, b, c + 1, j) for a, b, c, j in pairs]
    assert checks.check_dedup(wrong, clusters, texts, sample)


# ---------------------------------------------------------------- event log

def test_event_log_parser_on_a_tiny_log(tmp_path):
    def task(stage, run_ms, read):
        return {"Event": "SparkListenerTaskEnd", "Stage ID": stage, "Task Metrics": {
            "Executor Run Time": run_ms, "Executor CPU Time": run_ms * 500_000, "JVM GC Time": 10,
            "Disk Bytes Spilled": 0, "Shuffle Write Metrics": {"Shuffle Bytes Written": 2_000_000},
            "Shuffle Read Metrics": {"Remote Bytes Read": 0, "Local Bytes Read": 1_000_000},
            "Input Metrics": {"Records Read": read}}}

    events = [
        {"Event": "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart", "executionId": 0,
         "physicalPlanDescription": "FileScan parquet Location: InMemoryFileIndex(1 paths)[file:/w/pages]"},
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Stage IDs": [0, 1],
         "Properties": {"spark.jobGroup.id": "layer.a", "spark.sql.execution.id": "0"}},
        {"Event": "SparkListenerStageCompleted", "Stage Info": {"Stage ID": 0}},
        {"Event": "SparkListenerStageCompleted", "Stage Info": {"Stage ID": 1}},
        task(0, 1000, 7), task(1, 500, 3),
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Stage IDs": [2], "Properties": {}},
        {"Event": "SparkListenerStageCompleted", "Stage Info": {"Stage ID": 2}},
        task(2, 250, 100),
    ]
    log = tmp_path / "local-1"
    log.write_text("\n".join(json.dumps(e) for e in events) + "\n")
    groups = parse_event_log(str(log), {"pages": "/w/pages]"})
    a = groups["layer.a"]
    assert (a["jobs"], a["stages"], a["tasks"]) == (1, 2, 2)
    assert a["executor_run_s"] == pytest.approx(1.5)
    assert a["executor_cpu_s"] == pytest.approx(0.75)
    assert a["shuffle_write_mb"] == pytest.approx(4.0)
    assert a["shuffle_read_mb"] == pytest.approx(2.0)
    assert a["records_read"] == {"pages": 10}
    assert groups["(none)"]["tasks"] == 1 and groups["(none)"]["records_read"] == {}
    assert total(groups, ["layer.a", "(none)"])["tasks"] == 3


def test_tracer_spans_and_self_times():
    tr = Tracer()
    with tr.span("job"):
        with tr.span("child"):
            pass
    assert [(s["name"], s["parent"]) for s in tr.spans] == [("child", "job"), ("job", None)]
    spans = [
        {"name": "child", "parent": "job", "start": 1.0, "end": 3.0},
        {"name": "job", "parent": None, "start": 0.0, "end": 5.0},
    ]
    assert self_times(spans) == {"child": 2.0, "job": 3.0}


# ---------------------------------------------------------------- contract

def test_benchmark_json_gives_set_up_the_largest_bound():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    assert bounds["setup_s"] == max(bounds.values()) <= 0.25


def test_runner_refuses_a_directory_without_the_program(tmp_path):
    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "filter_web", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=60,
    )
    assert proc.returncode != 0 and proc.stdout == ""
