"""Connected components over a pair table — the step that turns near-dup
PAIRS (MinHash/LSH, SimHash, embedding-LSH — ops/dedup.py, ops/similarity.py)
into dedup CLUSTERS with one canonical survivor per cluster, i.e. the
standard production shape of fuzzy dedup (MinHashLSH -> components ->
keep min id per component).

Algorithm: iterative min-label propagation to a fixpoint —
``label(v) <- min(label(v), min over neighbors u of label(u))`` per round.
Rounds needed = graph diameter; near-dup graphs are unions of near-cliques
(tiny diameter), so convergence is typically 2-4 rounds. Each round is one
shuffle join (edges x labels on dst) + one groupBy(src) + one left join —
all on uniform id keys. Lineage is truncated every round with an eager
localCheckpoint, so 10^2 rounds would still not blow the plan up; the
convergence check is a count() on the changed set (one scalar per round,
nothing corpus-sized collects).

If propagation has not converged after ``max_iter`` rounds (an adversarial
long-path graph — templated spam with sliding mutations is exactly this
shape), the function AUTO-ESCALATES to the two-phase large-star/small-star
algorithm (Kiveris et al. 2014, "Connected Components in MapReduce and
Beyond"), which contracts each component to a star around its minimum node
in O(log^2 n) rounds regardless of diameter, instead of killing a long job
with an exception (VERDICT r4 item 5). The escalation is seeded with the
labels already computed — (v, label(v)) is always an intra-component edge,
so partial progress is kept, never thrown away.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from . import collect_bounded

#: Hybrid local execution bound (the ops/bpe.py / ops/graph.py shape,
#: guide §8): a pair table at or under this row count is collected once
#: (bounded by limit(cap+1)) and resolved with driver-side union-find —
#: the result (component = min node id, an INTEGER fact) is exact by
#: definition, so unlike the float twins there is no parity surface at
#: all.  Near-dup pair tables are collision-sized, orders of magnitude
#: smaller than the corpus; above the bound the iterative plan below
#: runs unchanged.
COMPONENTS_LOCAL_MAX_EDGES = int(
    os.environ.get("KENLM_COMPONENTS_LOCAL_MAX_EDGES", "2000000")
)


def _components_local(edge_rows) -> list:
    """(node, min-id-of-component) via union-find with path compression —
    the exact fixpoint the iterative/min-label and large-star/small-star
    paths converge to."""
    parent: dict = {}

    def find(x):
        r = x
        while parent[r] != r:
            r = parent[r]
        while parent[x] != r:
            parent[x], x = r, parent[x]
        return r

    for a, b in edge_rows:
        for v in (a, b):
            if v not in parent:
                parent[v] = v
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[rb] = ra
    comp_min: dict = {}
    for v in parent:
        r = find(v)
        if r not in comp_min or v < comp_min[r]:
            comp_min[r] = v
    return sorted((v, comp_min[find(v)]) for v in parent)


def _canon(e: DataFrame) -> DataFrame:
    """Canonical undirected edge set: (a=min, b=max), no self loops, distinct."""
    return (
        e.select(
            F.least("a", "b").alias("a"), F.greatest("a", "b").alias("b")
        )
        .filter(F.col("a") != F.col("b"))
        .distinct()
    )


def _large_star(e: DataFrame) -> DataFrame:
    """large-star(u): connect every neighbor v > u to min(Gamma(u) + {u}).
    Kiveris et al. 2014 §3: strictly-larger neighbors re-point at the local
    minimum; component membership is preserved, long paths halve."""
    bidir = e.select(F.col("a").alias("u"), F.col("b").alias("v")).union(
        e.select(F.col("b").alias("u"), F.col("a").alias("v"))
    )
    m = bidir.groupBy("u").agg(
        F.least(F.min("v"), F.first("u")).alias("m")
    )
    out = (
        bidir.filter(F.col("v") > F.col("u"))
        .join(m, "u")
        .select(F.col("v").alias("a"), F.col("m").alias("b"))
    )
    return _canon(out)


def _small_star(e: DataFrame) -> DataFrame:
    """small-star(u): orient edges (u=max -> v=min); connect u and all its
    smaller neighbors to min(Gamma(u) + {u}). With large-star, drives every
    component to a star rooted at its minimum node."""
    o = _canon(e).select(F.col("b").alias("u"), F.col("a").alias("v"))
    m = o.groupBy("u").agg(F.min("v").alias("m"))
    out = (
        o.join(m, "u")
        .select(F.col("v").alias("a"), F.col("m").alias("b"))
        .union(m.select(F.col("u").alias("a"), F.col("m").alias("b")))
    )
    return _canon(out)


def _star_components(edges: DataFrame, max_rounds: int = 100) -> DataFrame:
    """(node, component) via alternating large-star/small-star to a
    fixpoint. Each round is two groupBys + two joins on uniform id keys;
    O(log^2 n) rounds worst case (in practice ~log n), so ``max_rounds``
    = 100 is unreachable for any physical graph — it only guards an
    infinite loop under a logic bug."""
    nodes = (
        edges.select(F.col("a").alias("node"))
        .union(edges.select(F.col("b").alias("node")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    e = _canon(edges).localCheckpoint(eager=True)
    for _ in range(max_rounds):
        new_e = _small_star(_large_star(e)).localCheckpoint(eager=True)
        n_old, n_new = e.count(), new_e.count()
        if n_old == n_new and new_e.exceptAll(e).count() == 0:
            e = new_e
            break
        e = new_e
    else:  # pragma: no cover - would need a logic bug to reach
        raise RuntimeError(
            f"large-star/small-star did not reach a fixpoint in "
            f"{max_rounds} rounds — this exceeds the Kiveris et al. "
            "O(log^2 n) bound and indicates a bug, not a hard graph"
        )
    # fixpoint edge set = (child, root) star edges, root = component min
    star = e.select(F.col("b").alias("node"), F.col("a").alias("component"))
    return nodes.join(star, "node", "left").select(
        "node", F.coalesce("component", F.col("node")).alias("component")
    )


def connected_components(
    edges: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
    max_iter: int = 25,
) -> DataFrame:
    """(node, component) for every node appearing in ``edges``; component =
    the minimum node id of the node's connected component (deterministic
    canonical representative). Falls back to large-star/small-star if
    min-label propagation is still changing after ``max_iter`` rounds."""
    if max_iter < 1:
        raise ValueError(f"max_iter must be >= 1, got {max_iter}")
    # hybrid local path (guide §8): collect the raw pair table when it
    # fits the driver bound and resolve exactly with union-find — the
    # min-label fixpoint is an integer fact, identical by definition
    src_t = edges.schema[src_col].dataType
    if COMPONENTS_LOCAL_MAX_EDGES > 0 and src_t == edges.schema[dst_col].dataType:
        head = collect_bounded(
            edges.select(F.col(src_col).alias("a"), F.col(dst_col).alias("b")),
            COMPONENTS_LOCAL_MAX_EDGES,
        )
        if head is not None and not any(c.null_count for c in head.columns):
            from pyspark.sql.types import StructField, StructType

            schema = StructType(
                [
                    StructField("node", src_t, False),
                    StructField("component", src_t, False),
                ]
            )
            return edges.sparkSession.createDataFrame(
                _components_local(zip(*(c.to_pylist() for c in head.columns))), schema
            )
    e = (
        edges.select(F.col(src_col).alias("src"), F.col(dst_col).alias("dst"))
        .union(
            edges.select(F.col(dst_col).alias("src"), F.col(src_col).alias("dst"))
        )
        .distinct()
    )
    # r7: lazy checkpoints — each round's changed-count action materializes
    # the round's checkpoint as part of its own job (eager=True ran one
    # full extra job per table per round just to materialize; measured as
    # half the rounds' wall time on the tiny label tables)
    e = e.localCheckpoint(eager=False)
    labels = None
    for it in range(max_iter):
        if labels is None:
            # round 1 shortcut (r7 second pass): labels_0 is the identity,
            # so the neighbor-minimum is just min(dst) per src and every
            # node IS a src (e is bidirectional) — one groupBy replaces
            # the separate label-table init (a distinct exchange) AND the
            # round's two joins; labels_1(v) = least(v, min-neighbor)
            new_labels = (
                e.groupBy("src")
                .agg(F.min("dst").alias("nbr_component"))
                .select(
                    F.col("src").alias("node"),
                    F.least(F.col("src"), F.col("nbr_component")).alias(
                        "component"
                    ),
                    (F.col("nbr_component") < F.col("src")).alias("_chg"),
                )
                .localCheckpoint(eager=False)
            )
        else:
            nbr_min = (
                e.join(labels, e.dst == labels.node)
                .groupBy("src")
                .agg(F.min("component").alias("nbr_component"))
            )
            # r7: the changed-count used to be a separate join of new vs
            # old labels (one extra shuffle join per round); the old
            # component is already on the row here, so carry a change flag
            # through the checkpoint and count it off the cached
            # partitions instead
            new_labels = (
                labels.join(nbr_min, labels.node == nbr_min.src, "left")
                .select(
                    "node",
                    F.least(
                        F.col("component"),
                        F.coalesce("nbr_component", F.col("component")),
                    ).alias("component"),
                    (
                        F.coalesce("nbr_component", F.col("component"))
                        < F.col("component")
                    ).alias("_chg"),
                )
                .localCheckpoint(eager=False)
            )
        changed = new_labels.filter(F.col("_chg")).count()
        labels = new_labels.select("node", "component")
        if changed == 0:
            return labels
    # Propagation stalled on a long-diameter graph: escalate to
    # large-star/small-star, seeded with the progress made so far —
    # label(v) is the id of a node in v's component, so (v, label(v))
    # edges preserve components while shortcutting the paths already
    # collapsed by propagation.
    seed = e.select(F.col("src").alias("a"), F.col("dst").alias("b")).union(
        labels.filter(F.col("node") != F.col("component")).select(
            F.col("node").alias("a"), F.col("component").alias("b")
        )
    )
    return _star_components(seed)


def dedup_clusters(
    pairs: DataFrame, id_a: str = "id_a", id_b: str = "id_b"
) -> DataFrame:
    """(doc_id, cluster_id, is_survivor) from a near-dup pair table:
    cluster_id = min doc id of the connected component, survivor = the
    member that IS that minimum (keep-one-per-cluster dedup policy)."""
    comp = connected_components(pairs, src_col=id_a, dst_col=id_b)
    return comp.select(
        F.col("node").alias("doc_id"),
        F.col("component").alias("cluster_id"),
        (F.col("node") == F.col("component")).alias("is_survivor"),
    )
