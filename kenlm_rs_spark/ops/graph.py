"""Web link-graph analytics: href extraction, degree statistics, and
PageRank (Page et al. 1999, "The PageRank Citation Ranking").

A web-corpus pipeline uses the link graph for spam/quality signals
(in-degree, reciprocal-link farms, PageRank mass) next to the text-level
filters. The reference engine has no graph operators; these follow the
repo's iterative-operator pattern (ops/components.py).

Scale shape (100 TB):
- ``extract_links``: a narrow codegen projection (regexp_extract_all +
  explode) — no shuffle until the caller aggregates.
- ``degree_stats``: two uniform-key groupBys (src, dst) + one outer join
  on node. Mega-hub skew on dst is the salted-aggregation shape
  (ops/partitioning.py) if a single host dominates.
- ``pagerank``: per iteration ONE shuffle (the per-destination
  contribution groupBy, (dst, decimal) rows only); the iteration state is
  SPARSE — just that contribution-sum table plus two driver scalars (the
  rank of contribution-less nodes, and the dangling-mass scalar), since
  rank_t(v) = round(base/N + damping*(coalesce(S_t(v),0) + ds_{t-1}), 9)
  reconstructs every rank bit-exactly.  The node table is joined ONCE at
  the end, not per iteration.  Edges are the big table and are re-used
  unshuffled each round (join on src is broadcast-able only when nodes
  fit — at web scale both sides shuffle-hash on node id, and
  pre-bucketing edges by src makes every round's join co-located).
  Lineage is truncated with localCheckpoint like ops/components.py.

Engine-exact iteration (the repo's float-parity discipline): each edge
contribution is round(rank/out_deg, 9) cast DECIMAL(38,9) BEFORE the sum,
so the per-destination aggregation is order-independent and bit-equal
across engines; the new rank is round(base + damping*sum, 9) — one
IEEE-exact add/multiply chain on already-rounded values. Dangling-node
mass (out_deg = 0) is dropped by default, the standard map-reduce
simplification; ranks then sum to < 1 but the ordering signal is
unchanged. ``dangling="redistribute"`` instead folds the dangling mass
back uniformly each iteration (Page et al. 1999 §2.7's strongly-preferred
variant when rank VALUES are consumed absolutely, not just the order):
dsum = Σ over out_deg-0 nodes of rank::DECIMAL(38,9) (exact — ranks are
already round-9 doubles; the sum splits exactly into the in-S part plus
count*k because decimal addition is exact), ds = round(dsum::DOUBLE/N, 9)
— ONE scalar per iteration, collected from a 1-row JVM job (every round()
is a JVM expression; collected doubles transfer exactly) — and the update
becomes round(base/N + damping*(contrib + ds), 9). Ranks then sum to 1 up
to round-9 truncation. The edge table is untouched, so the 100 TB shape
is identical.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from . import collect_bounded

#: Broadcast the node-sized side of every per-iteration PageRank join when
#: the graph has at most this many nodes (known exactly on the driver —
#: pagerank counts them anyway for 1/N).  Ranks/contrib rows are ~24 bytes,
#: so 4M nodes ≈ 100 MB broadcast — comfortably inside executors; above the
#: bound the joins fall back to the shuffled shape (pre-bucketing edges by
#: src is the documented web-scale move).  Scale-ADAPTIVE by node count,
#: not tuned to a core count (guide §3.1: pick the strategy deliberately
#: when the real size is known and estimates are not).
PAGERANK_BROADCAST_MAX_NODES = int(
    os.environ.get("KENLM_PAGERANK_BROADCAST_MAX_NODES", "4000000")
)

#: Hybrid local execution bound (the ops/bpe.py precedent, guide §8:
#: decide on driver-sized state locally).  A distinct edge table at or
#: under this row count (~32 MB of (long, long) at the default) is
#: collected ONCE and the synchronous iteration runs on the driver via
#: the bit-exact decimal twin `_pagerank_local`; wall time for small
#: graphs is otherwise pure per-iteration stage latency (5 iterations x
#: several scheduling barriers), not data.  Above the bound the
#: distributed plan below runs unchanged — scale-adaptive on the real
#: edge count, never on core count.
PAGERANK_LOCAL_MAX_EDGES = int(
    os.environ.get("KENLM_PAGERANK_LOCAL_MAX_EDGES", "2000000")
)


def _r9(x: float):
    """Spark's round(double, 9) twin.  Catalyst's Round goes through
    BigDecimal.valueOf(double) — the SHORTEST decimal string of the
    double (Double.toString), NOT its exact binary expansion — then
    setScale(9, HALF_UP).  Python's repr() is the same shortest
    round-trip decimal, so Decimal(repr(x)) mirrors the JVM chain; using
    Decimal(x) (the exact expansion) diverges on half-way boundaries —
    caught by test_pagerank_local_matches_distributed during
    development."""
    from decimal import ROUND_HALF_UP, Decimal

    return float(
        Decimal(repr(x)).quantize(Decimal("1e-9"), rounding=ROUND_HALF_UP)
    )


def _dec9(x: float):
    """Spark's cast(double AS decimal(38,9)) twin — Spark's Decimal also
    wraps BigDecimal.valueOf(double) (shortest string), then HALF_UP to
    scale 9."""
    from decimal import ROUND_HALF_UP, Decimal

    return Decimal(repr(x)).quantize(Decimal("1e-9"), rounding=ROUND_HALF_UP)


def _jvm_double(d) -> float:
    """BigDecimal.doubleValue twin for compact scale-9 decimals: OpenJDK
    returns (double)unscaledLong / 1.0e9 — ONE IEEE division, which is
    NOT always the correctly-rounded decimal→double conversion that
    Python's float(Decimal) performs (1-ulp divergences surfaced in
    test_pagerank_local_matches_distributed).  Both operands are exactly
    representable here (|unscaled| < 2^52 for any in-bound graph)."""
    return float(int(d.scaleb(9).to_integral_value())) / 1.0e9


def _pagerank_local(
    edge_rows, n_iter: int, damping: float, dangling: str
) -> list:
    """Driver-side bit-exact twin of the distributed iteration: every
    float op is the same IEEE double op in the same order, every round is
    the HALF_UP decimal quantize of functions.round, every per-destination
    sum is an exact decimal sum (order-independent, like DECIMAL(38,9)),
    and decimal->double conversions are correctly rounded on both sides.
    Verified bit-equal to the distributed path by
    tests/test_graph.py::test_pagerank_local_matches_distributed and by
    the driver oracle rows (the DuckDB twin is a third implementation)."""
    from decimal import Decimal

    out_deg: dict = {}
    nodes = set()
    adj: dict = {}
    for s, d in edge_rows:
        nodes.add(s)
        nodes.add(d)
        out_deg[s] = out_deg.get(s, 0) + 1
        adj.setdefault(s, []).append(d)
    n = len(nodes)
    if n == 0:  # empty graph -> empty result, like the distributed path
        return []
    base = 1.0 - damping
    k0 = _r9(1.0 / float(n))
    ranks = {v: k0 for v in nodes}
    dang = [v for v in nodes if v not in out_deg]
    zero = Decimal(0).quantize(Decimal("1e-9"))
    for _ in range(n_iter):
        sums: dict = {}
        for s, deg in out_deg.items():
            c = _dec9(_r9(ranks[s] / deg))
            for d in adj[s]:
                sums[d] = sums.get(d, zero) + c
        if dangling == "redistribute":
            dsum = sum((_dec9(ranks[v]) for v in dang), zero)
            ds = _r9(_jvm_double(dsum) / float(n))
            ranks = {
                v: _r9(
                    base / float(n)
                    + damping * (_jvm_double(sums.get(v, zero)) + ds)
                )
                for v in nodes
            }
        else:
            ranks = {
                v: _r9(
                    base / float(n) + damping * _jvm_double(sums.get(v, zero))
                )
                for v in nodes
            }
    return sorted(ranks.items())

# href="..." / href='...' — attribute form only, tag-agnostic (matches <a>,
# <link>, <area>); the canonicalization/scheme filter composes downstream
# (ops/urls.canonical_url).
HREF_RE = r"""href=["']([^"']+)["']"""


def extract_links(
    df: DataFrame, html_col: str = "html", id_col: str = "doc_id"
) -> DataFrame:
    """(doc_id, href) per href attribute occurrence, document order
    preserved in ``pos``. Pure codegen (regexp_extract_all + posexplode)."""
    return df.select(
        F.col(id_col).alias("doc_id"),
        F.posexplode(
            F.regexp_extract_all(
                F.col(html_col).cast("string"), F.lit(HREF_RE), 1
            )
        ).alias("pos", "href"),
    )


def degree_stats(
    edges: DataFrame, src: str = "src", dst: str = "dst"
) -> DataFrame:
    """Per-node out-degree and in-degree over a distinct edge set."""
    e = edges.select(
        F.col(src).cast("long").alias("src"), F.col(dst).cast("long").alias("dst")
    ).distinct()
    out_d = e.groupBy(F.col("src").alias("node")).agg(
        F.count("*").cast("long").alias("out_deg")
    )
    in_d = e.groupBy(F.col("dst").alias("node")).agg(
        F.count("*").cast("long").alias("in_deg")
    )
    return (
        out_d.join(in_d, "node", "full_outer")
        .select(
            "node",
            F.coalesce("out_deg", F.lit(0)).alias("out_deg"),
            F.coalesce("in_deg", F.lit(0)).alias("in_deg"),
        )
    )


def pagerank(
    edges: DataFrame,
    n_iter: int = 5,
    damping: float = 0.85,
    src: str = "src",
    dst: str = "dst",
    checkpoint: bool = True,
    dangling: str = "drop",
) -> DataFrame:
    """(node, rank) after ``n_iter`` synchronous iterations from the
    uniform start round(1/N, 9). See module docstring for the exact
    arithmetic contract (shared with the unrolled SQL twin,
    __spark_entry__.pagerank_iter_sql). ``dangling``: "drop" (default)
    loses the mass of out-degree-0 nodes; "redistribute" folds it back
    uniformly each iteration (scalar cross join — see module docstring)."""
    if n_iter < 0:
        raise ValueError("n_iter must be >= 0")
    if dangling not in ("drop", "redistribute"):
        raise ValueError("dangling must be 'drop' or 'redistribute'")
    spark = edges.sparkSession
    e = edges.select(
        F.col(src).cast("long").alias("src"), F.col(dst).cast("long").alias("dst")
    ).distinct()
    # hybrid local execution (the ops/bpe.py shape, guide §8): when the
    # DISTINCT edge table fits the driver bound, collect it once (bounded
    # by limit(cap+1)) and run the synchronous iteration via the bit-exact
    # decimal twin — for small graphs the distributed loop's wall time is
    # per-iteration stage latency, not data.  Above the bound nothing is
    # collected and the distributed plan below runs unchanged.
    if PAGERANK_LOCAL_MAX_EDGES > 0:
        head = collect_bounded(e, PAGERANK_LOCAL_MAX_EDGES)
        if head is not None:
            ranks_local = _pagerank_local(
                list(zip(*(c.to_pylist() for c in head.columns))),
                n_iter,
                damping,
                dangling,
            )
            out = spark.createDataFrame(
                ranks_local, "node long, rank double"
            )
            out.cached_deps = []
            return out
    e = e.persist()
    # ONE fused aggregation yields every loop-invariant node fact (r7 second
    # pass, guide §2.4): node set = distinct(src ∪ dst), out-degree = count
    # of rows where the node is the src, dangling set = out_deg 0 — the
    # former union+distinct exchange, separate out-degree groupBy, and
    # dangling anti-join collapse into this single exchange over 2 rows/edge.
    node_deg = (
        e.select(
            F.explode(
                F.array(
                    F.struct(F.col("src").alias("node"), F.lit(1).alias("o")),
                    F.struct(F.col("dst").alias("node"), F.lit(0).alias("o")),
                )
            ).alias("x")
        )
        .select("x.node", "x.o")
        .groupBy("node")
        .agg(F.sum("o").cast("long").alias("out_deg"))
        .persist()
    )
    cnt = node_deg.agg(
        F.count("*").alias("n"),
        F.sum((F.col("out_deg") == 0).cast("long")).alias("n_dang"),
    ).collect()[0]
    n, n_dang = cnt["n"], cnt["n_dang"] or 0
    # node-sized sides (contribution sums, dangling set) are broadcast when
    # the exact node count permits: the edge table then never shuffles in
    # the iteration (BroadcastHashJoin on its cached partitions) — only
    # the per-destination contribution aggregation exchanges, and those
    # rows are (dst, decimal) pairs, not edges (guide §2.3/§3.1)
    bcast = n <= PAGERANK_BROADCAST_MAX_NODES
    _b = F.broadcast if bcast else (lambda df: df)
    dang_nodes = node_deg.filter(F.col("out_deg") == 0).select("node")
    e_deg = e.join(
        _b(
            node_deg.filter(F.col("out_deg") > 0).select(
                F.col("node").alias("src"), "out_deg"
            )
        ),
        "src",
    ).persist()
    base = 1.0 - damping  # teleport mass; divided by N in the update

    # Sparse iteration state (r7 second pass): ranks_t is fully determined
    # by S_t (the per-destination contribution sums of iteration t-1 — at
    # most node-sized, only nodes WITH in-edges) plus two loop scalars:
    #   k0   = uniform start round(1/N, 9) (a constant-folded expression)
    #   ds_t = dangling mass of iteration t (redistribute only) — a LAZY
    #          1-row frame, broadcast-cross-joined wherever the old dense
    #          update read its scalar; no driver round trip per iteration
    #          (interleaved A/B vs the collect()-per-iteration variant:
    #          pairwise faster in 5 of 6 rounds).
    # rank_t(v) = round(base/N + damping*(coalesce(S_t(v),0) + ds_{t-1}), 9)
    # — the identical expression the dense update join used to materialize,
    # so every value is bit-equal; the former per-iteration nodes⋈contrib
    # left join and full-ranks checkpoint disappear and the node table is
    # joined once at the end.  Every round() stays a JVM expression.
    def _one_row(*cols):
        return spark.range(1).select(*cols)

    k0 = F.round(F.lit(1.0) / F.lit(float(n)), 9)

    def rank_expr(ds_col):
        # drop path (ds_col None): missing s gives round(base/N + d*0.0, 9)
        # — the constant the old dense update produced for those nodes
        inner = F.coalesce(F.col("s").cast("double"), F.lit(0.0))
        if ds_col is not None:
            inner = inner + ds_col
        return F.round(
            F.lit(base) / F.lit(float(n)) + F.lit(damping) * inner, 9
        )

    def k_expr(ds_col):
        # rank of a node absent from S_t: coalesce gave 0.0, + ds as-is
        return F.round(
            F.lit(base) / F.lit(float(n))
            + F.lit(damping) * (F.lit(0.0) + ds_col),
            9,
        )

    S = None  # iteration-0 ranks are the uniform k0 for every node
    ds_prev = None  # 1-row (ds) frame of the PREVIOUS iteration
    zero_ds = _one_row(
        F.round(
            F.lit(0).cast("decimal(38,9)").cast("double") / F.lit(float(n)), 9
        ).alias("ds")
    )
    for it in range(n_iter):
        if dangling == "redistribute":
            # ds_t from ranks_t: exact DECIMAL(38,9) mass of the dangling
            # nodes = sum over dang∩S_t of rank_t + (missing count) * k_t —
            # decimal addition is exact, so the split equals the old
            # whole-set sum bit-for-bit.  count * k stays EXACT at scale 9
            # as decimal(20,0) x decimal(10,9) (precision 31 — a
            # (38,9)x(38,9) product is clipped to scale 6 by Spark's
            # allowPrecisionLoss rule).  With no dangling nodes ds is the
            # constant round(0/N, 9) — skip the machinery entirely.
            if n_dang == 0:
                ds_cur = zero_ds
            elif S is None:
                dsum = F.lit(n_dang).cast("decimal(20,0)") * k0.cast(
                    "decimal(10,9)"
                )
                ds_cur = _one_row(
                    F.round(
                        dsum.cast("double") / F.lit(float(n)), 9
                    ).alias("ds")
                )
            else:
                # every dangling node appears as a dst (it has no
                # out-edges, so it is in the node set via in-edges only),
                # hence dang ⊆ S_t and the semi-join is never empty here
                ds_cur = (
                    S.join(_b(dang_nodes), "node", "leftsemi")
                    .crossJoin(
                        F.broadcast(
                            ds_prev.select(F.col("ds").alias("_dsp"))
                        )
                    )
                    .agg(
                        F.coalesce(
                            F.sum(
                                rank_expr(F.col("_dsp")).cast("decimal(38,9)")
                            ),
                            F.lit(0).cast("decimal(38,9)"),
                        ).alias("dsum_in"),
                        F.count("*").alias("cnt_in"),
                    )
                    .crossJoin(
                        F.broadcast(
                            ds_prev.select(F.col("ds").alias("_dsp"))
                        )
                    )
                    .select(
                        # the ADD must stay at SCALE 9: a (38,9)+(31,9)
                        # add needs precision 39 and Spark's precision-
                        # loss rule silently clips the result to scale 8,
                        # dropping the 9th decimal of the mass (caught by
                        # the bit-exact local twin's dense-parity test).
                        # Both operands are bounded by the total rank
                        # mass (~1), so the exact downcasts to (20,9)
                        # can never overflow.
                        (
                            F.col("dsum_in").cast("decimal(20,9)")
                            + (
                                (F.lit(n_dang) - F.col("cnt_in")).cast(
                                    "decimal(20,0)"
                                )
                                * k_expr(F.col("_dsp")).cast("decimal(10,9)")
                            ).cast("decimal(20,9)")
                        ).alias("dsum")
                    )
                    .select(
                        F.round(
                            F.col("dsum").cast("double") / F.lit(float(n)), 9
                        ).alias("ds")
                    )
                )
                if checkpoint:
                    # ds_cur is read by the next contribution pass AND the
                    # next dangling fold — truncate so the 1-row agg runs
                    # once, not per consumer
                    ds_cur = ds_cur.localCheckpoint(eager=False)
        else:
            ds_cur = None
        if S is None:
            contrib = e_deg.select(
                "dst",
                F.round(k0 / F.col("out_deg"), 9)
                .cast("decimal(38,9)")
                .alias("c"),
            )
        else:
            j = e_deg.join(_b(S), e_deg.src == S.node, "left")
            if ds_prev is not None:
                j = j.crossJoin(
                    F.broadcast(ds_prev.select(F.col("ds").alias("_dsp")))
                )
                rank_col = rank_expr(F.col("_dsp"))
            else:
                rank_col = rank_expr(None)
            contrib = j.select(
                "dst",
                F.round(rank_col / F.col("out_deg"), 9)
                .cast("decimal(38,9)")
                .alias("c"),
            )
        S_next = (
            contrib.groupBy("dst")
            .agg(F.sum("c").alias("s"))
            .select(F.col("dst").alias("node"), "s")
        )
        # lineage truncation (r7 A/B, measured on sf0.1): the redistribute
        # path consumes S twice per iteration (dangling fold + contribution
        # join) — truncate every round; the plain path is a linear chain —
        # truncate every 8th round only, bounding plan depth for large
        # n_iter without per-round materialization overhead.
        if checkpoint and (
            dangling == "redistribute" or (it + 1) % 8 == 0
        ):
            S_next = S_next.localCheckpoint(eager=False)
        S, ds_prev = S_next, ds_cur
    nodes = node_deg.select("node")
    if S is None:
        ranks = nodes.select("node", k0.alias("rank"))
    elif ds_prev is not None:
        ranks = (
            nodes.join(_b(S), "node", "left")
            .crossJoin(F.broadcast(ds_prev.select(F.col("ds").alias("_dsp"))))
            .select("node", rank_expr(F.col("_dsp")).alias("rank"))
        )
    else:
        ranks = nodes.join(_b(S), "node", "left").select(
            "node", rank_expr(None).alias("rank")
        )
    ranks.cached_deps = [e, e_deg, node_deg]
    return ranks


# <a ...href="...">anchor</a> — href + inner text captured by ONE pattern so
# the two regexp_extract_all passes align positionally (arrays_zip). Inner
# text stops at the first '<' (no nested markup), the common-crawl-practical
# subset; both quote styles accepted, attributes may precede/follow href.
ANCHOR_RE = r"""<a [^>]*?href=["']([^"']+)["'][^>]*>([^<]*)</a>"""


def extract_anchors(
    df: DataFrame, html_col: str = "html", id_col: str = "doc_id"
) -> DataFrame:
    """(doc_id, pos, href, anchor) per <a> occurrence — pure codegen: the
    SAME regex run once per capture group, zipped positionally (identical
    match set, so the arrays always align). Anchor text is a search/quality
    signal aggregated per TARGET page (anchor_text_topk)."""
    html = F.col(html_col).cast("string")
    pairs = F.arrays_zip(
        F.regexp_extract_all(html, F.lit(ANCHOR_RE), 1).alias("href"),
        F.regexp_extract_all(html, F.lit(ANCHOR_RE), 2).alias("anchor"),
    )
    return df.select(
        F.col(id_col).alias("doc_id"), F.posexplode(pairs).alias("pos", "z")
    ).select("doc_id", "pos", F.col("z.href").alias("href"), F.col("z.anchor").alias("anchor"))


def anchor_text_topk(anchors: DataFrame, k: int = 3) -> DataFrame:
    """Top-k anchor texts per target href by occurrence count, ties broken
    on anchor text ascending (deterministic, engine-portable).

    Scale shape: the corpus-sized explode collapses in ONE uniform-key
    groupBy (href, anchor) with map-side combine; the window then runs on
    the distinct-anchor table, whose per-href partitions are bounded by
    anchor-text diversity, not by link popularity (a mega-hub with 10^9
    in-links and 50 distinct anchor strings is a 50-row partition). A
    pathological href with millions of DISTINCT anchors is the salted
    two-phase aggregation shape (ops/partitioning.py) — cap with a
    HAVING count >= floor first at 10^12."""
    from pyspark.sql import Window

    cnt = anchors.groupBy("href", "anchor").agg(
        F.count("*").cast("long").alias("n")
    )
    w = Window.partitionBy("href").orderBy(F.col("n").desc(), F.col("anchor"))
    return (
        cnt.withColumn("rnk", F.row_number().over(w).cast("long"))
        .filter(F.col("rnk") <= k)
    )
