"""Per-repetition output checks. Each returns a list of error strings; an
empty list means the output passed. They recompute results with plain
Python (or the sequential ``NGramModel`` state machine), never with the
code path being timed.
"""

from __future__ import annotations

import hashlib
import math
import re

import numpy as np

_TOKEN_SPLIT = re.compile("[\x00\t\n\r ]+")


def tokens(text: str | None) -> list[str]:
    return [t for t in _TOKEN_SPLIT.split(text or "") if t]


def sequential_score(model, text: str | None):
    """(log10_prob as float32, tokens, oov, ppl) from the token-by-token
    state machine, with <s> context and </s> scored."""
    total, n, oov, ppl = model.perplexity(tokens(text), bos=True, eos=True)
    return np.float32(total), n, oov, ppl


def check_scores(rows, models: dict, default_lang: str | None = None,
                 lang_col: str | None = None) -> list[str]:
    """Rows carry text_scrubbed (or text), log10_prob, tokens, oov, ppl; the
    model is ``models[row[lang_col]]`` (unknown languages fall back to
    ``default_lang``), or the single model when ``lang_col`` is None.
    log10_prob, tokens and oov must be bit-exact. ppl may differ in the
    last place: the batch scorer takes the power with NumPy, the state
    machine with ``math.pow``, and the two round apart on some inputs."""
    errors = []
    for r in rows:
        if lang_col is None:
            model = next(iter(models.values()))
        else:
            model = models.get(r[lang_col]) or models[default_lang]
        text = r.get("text_scrubbed", r.get("text"))
        want = sequential_score(model, text)
        got = (np.float32(r["log10_prob"]), r["tokens"], r["oov"], r["ppl"])
        if got[0] != want[0] or got[1:3] != want[1:3] or not _within_ulp(got[3], want[3]):
            errors.append(f"score mismatch for {text[:40]!r}: got {got}, want {want}")
    return errors


def _within_ulp(a: float, b: float) -> bool:
    return a == b or abs(a - b) <= math.ulp(b)


def decision_digest(rows) -> str:
    """Order-free digest of (url, keep, drop_reason)."""
    h = hashlib.sha256()
    for url, keep, reason in sorted((r["url"], bool(r["keep"]), r["drop_reason"] or "") for r in rows):
        h.update(f"{url}\t{keep}\t{reason}\n".encode())
    return h.hexdigest()


# ---------------------------------------------------------------- ARPA

def read_arpa_plain(path: str):
    """(header counts, records per order as {gram tuple: (log10 p, log10 bo)})."""
    header: dict[int, int] = {}
    orders: dict[int, dict] = {}
    cur = None
    with open(path) as f:
        for line in f:
            line = line.rstrip("\n")
            if line.startswith("ngram "):
                n, c = line[6:].split("=")
                header[int(n)] = int(c)
            elif line.startswith("\\") and line.endswith("-grams:"):
                cur = int(line[1:-7])
                orders[cur] = {}
            elif line == "\\end\\":
                cur = None
            elif cur is not None and line:
                parts = line.split("\t")
                bo = float(parts[2]) if len(parts) > 2 else 0.0
                orders[cur][tuple(parts[1].split(" "))] = (float(parts[0]), bo)
    return header, orders


def check_arpa(path: str, counts: dict[int, int]) -> list[str]:
    """Header counts equal both the records present and the counts the
    builder returned."""
    header, orders = read_arpa_plain(path)
    errors = []
    for n in sorted(set(header) | set(orders) | set(counts)):
        got = len(orders.get(n, {}))
        if not header.get(n) == got == counts.get(n):
            errors.append(f"order {n}: header {header.get(n)}, records {got}, builder {counts.get(n)}")
    return errors


def context_mass(orders: dict, ctx: tuple) -> float:
    """Σ_w P(w | ctx) over the vocabulary (excluding <s>) by backoff."""
    top = max(orders)

    def logp(w, c):
        rec = orders.get(len(c) + 1, {}).get(c + (w,))
        if rec is not None:
            return rec[0]
        if not c:
            return -99.0
        bo = orders.get(len(c), {}).get(c)
        return (bo[1] if bo else 0.0) + logp(w, c[1:])

    ctx = ctx[-(top - 1):] if top > 1 else ()
    return math.fsum(10.0 ** logp(g[0], ctx) for g in orders[1] if g[0] != "<s>")


def check_normalization(path: str, n_contexts: int, seed: int, tol: float = 5e-5) -> list[str]:
    """Σ_w P(w|ctx) = 1 within ``tol`` for seeded sample contexts of every
    order below the top. ARPA keeps 6 significant digits of each log10, so a
    probability reached through two backoffs is only exact to about
    3 x 5e-6 x ln(10) relative; the fixture LMs already sit 1.3e-6 off."""
    _, orders = read_arpa_plain(path)
    rng = np.random.default_rng(seed)
    errors = []
    for n in range(1, max(orders)):
        grams = sorted(g for g in orders[n] if g[-1] != "</s>")
        for i in rng.choice(len(grams), min(n_contexts, len(grams)), replace=False):
            mass = context_mass(orders, grams[int(i)])
            if abs(mass - 1.0) > tol:
                errors.append(f"context {grams[int(i)]}: mass {mass!r}")
    return errors


# ---------------------------------------------------------------- dedup

def shingles(text: str | None, n: int = 3) -> set[str]:
    toks = tokens(text)
    return {" ".join(toks[i:i + n]) for i in range(len(toks) - n + 1)}


def union_find(pairs) -> dict:
    """node -> minimum node id of its connected component."""
    parent: dict = {}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        parent.setdefault(a, a)
        parent.setdefault(b, b)
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {v: find(v) for v in parent}


def check_dedup(pairs, clusters, texts: dict, sample: list[int],
                threshold: float = 0.5, shingle_n: int = 3) -> list[str]:
    """``pairs``: (id_a, id_b, common, jaccard); ``clusters``: (doc_id,
    cluster_id, is_survivor); ``sample``: indices into ``pairs`` whose
    Jaccard is recomputed from ``texts``."""
    errors = []
    for i in sample:
        a, b, common, jac = pairs[i]
        sa, sb = shingles(texts[a], shingle_n), shingles(texts[b], shingle_n)
        want_common = len(sa & sb)
        want = want_common / (len(sa) + len(sb) - want_common)
        if a >= b or common != want_common or jac != want or jac < threshold:
            errors.append(f"pair {(a, b)}: got ({common}, {jac!r}), want ({want_common}, {want!r})")
    want_cl = union_find((a, b) for a, b, _, _ in pairs)
    got_cl = {d: c for d, c, _ in clusters}
    if got_cl != want_cl:
        diff = sorted(k for k in set(got_cl) | set(want_cl) if got_cl.get(k) != want_cl.get(k))
        errors.append(f"{len(diff)} docs in the wrong cluster, e.g. {diff[:5]}")
    bad = [d for d, c, s in clusters if s != (d == c)]
    if bad:
        errors.append(f"survivor flag wrong for {bad[:5]}")
    return errors
