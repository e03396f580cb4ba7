"""Seeded inputs for the workloads. The seed is the benchmark's own
argument; the program under test only ever sees the generated rows.

- Web pages come from ``pipeline.corpus.generate_row``. The row-id window
  starts at ``WINDOW * seed``; ``WINDOW`` is a multiple of 40, so every
  window keeps the corpus mix of ``row_id % 10`` quality strata and
  ``row_id % 8`` NULL-text rows.
- ``web_pages`` adds seeded near-copies of earlier pages, the shape fuzzy
  dedup exists for; the unmodified corpus has almost none. Their rate and
  edit size follow the NearDup measurement of Lee et al., "Deduplicating
  Training Data Makes Language Models Better" (ACL 2022): 3.04% of the
  training documents of C4, a quality-filtered Common Crawl snapshot, are
  near-duplicates, where near means a token edit similarity of at least
  0.8. Each copy replaces a share of up to 20% of its source's words with
  other words of that source; drawing that share uniformly is this
  benchmark's assumption, the measurement fixes only the cut.
- ``vocab_docs`` is a large-vocabulary text generator for the LM build: a
  Zipf draw over a 2M-rank word space rendered as syllable strings, so a
  few hundred documents already hold tens of thousands of word types.
  ``heldout_docs`` stitches spans of those documents together with a few
  fresh draws, so scoring hits every n-gram order and meets some OOVs.
"""

from __future__ import annotations

import numpy as np

WINDOW = 40_000  # row ids per seed; a multiple of 40 (strata %10, NULL text %8)
MAX_SEED = 100_000  # keeps warc_ts (base + row_id seconds) far below year 9999

_SYLLABLES = ["ka", "lo", "mi", "ne", "ru", "ta", "vi", "so", "pe", "du",
              "ga", "hi", "jo", "be", "fu", "ze", "wa", "yo", "ci", "xe"]
VOCAB_RANKS = 2_000_000
ZIPF_A = 1.05
NEAR_DUP_FRAC = 0.0304  # pages with text that are a near-copy of an earlier one
NEAR_DUP_MAX_EDIT = 0.2  # largest share of a copy's words replaced


def row_offset(seed: int) -> int:
    return WINDOW * (seed % MAX_SEED)


def page_rows(seed: int, n: int) -> list[dict]:
    from kenlm_rs_spark.pipeline.corpus import generate_row

    off = row_offset(seed)
    return [generate_row(off + i) for i in range(n)]


def _word(rank: int) -> str:
    out = []
    r = int(rank) + 1
    while r:
        r, d = divmod(r, len(_SYLLABLES))
        out.append(_SYLLABLES[d])
    return "".join(out)


def vocab_docs(seed: int, n: int, mean_len: int = 110) -> list[str]:
    """``n`` documents of Zipf-distributed words."""
    rng = np.random.Generator(np.random.Philox(key=[seed % MAX_SEED, 11]))
    docs = []
    for _ in range(n):
        length = int(rng.integers(mean_len // 2, mean_len * 3 // 2))
        ranks = rng.zipf(ZIPF_A, length) % VOCAB_RANKS
        docs.append(" ".join(_word(r) for r in ranks))
    return docs


def heldout_docs(seed: int, train: list[str], n: int, fresh_frac: float = 0.1) -> list[str]:
    rng = np.random.Generator(np.random.Philox(key=[seed % MAX_SEED, 12]))
    words = [d.split(" ") for d in train]
    docs = []
    for _ in range(n):
        out = []
        for _ in range(int(rng.integers(8, 20))):
            src = words[int(rng.integers(0, len(words)))]
            lo = int(rng.integers(0, max(1, len(src) - 12)))
            out += src[lo:lo + int(rng.integers(3, 13))]
        for j in np.flatnonzero(rng.random(len(out)) < fresh_frac):
            out[int(j)] = _word(rng.zipf(ZIPF_A) % VOCAB_RANKS)
        docs.append(" ".join(out))
    return docs


def web_pages(seed: int, n: int) -> list[dict]:
    """``page_rows`` where NEAR_DUP_FRAC of the pages with text carry a
    near-copy of an earlier such page's text instead of their own."""
    pages = page_rows(seed, n)
    rng = np.random.Generator(np.random.Philox(key=[seed % MAX_SEED, 21]))
    with_text = [p for p in pages if p["text"] is not None]
    for i in range(1, len(with_text)):
        if rng.random() >= NEAR_DUP_FRAC:
            continue
        words = with_text[int(rng.integers(0, i))]["text"].split(" ")
        k = max(1, round(len(words) * rng.uniform(0, NEAR_DUP_MAX_EDIT)))
        for j in rng.choice(len(words), min(k, len(words)), replace=False):
            words[int(j)] = words[int(rng.integers(0, len(words)))]
        with_text[i]["text"] = " ".join(words)
    return pages
