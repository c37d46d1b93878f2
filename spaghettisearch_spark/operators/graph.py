"""Graph utilities for dedup pipelines: connected components over a
candidate-pair edge list.

A near-dup pipeline ends by GROUPING verified pairs into clusters and
electing one canonical doc per cluster (keep-min). Pairs alone can't do
that — (a,b), (b,c) must collapse to one cluster {a,b,c} — so this is
iterative min-label propagation as DataFrame joins, the same shape as
PageRank's power iteration:

    label(v) <- min(label(v), min over neighbors' labels, label(label(v)))

until a fixpoint. The third term is POINTER JUMPING (path halving): a
node adopts its current representative's own label, so the distance to
the component minimum halves every round — O(log diameter) rounds
instead of O(diameter) (a 300-node chain converges in ~9 rounds, not
299). Each round is two joins + one groupBy shuffle.

``connected_components_star`` is the skew-resistant alternative:
alternating large-star/small-star edge rewiring (Kiveris et al.,
"Connected Components in MapReduce and Beyond", SoCC'14). Min-label
propagation keeps every edge live until global convergence, so the
giant component's full edge set hits one reducer's groupBy(node) every
round; star operations REWRITE the edge set toward (min, v) star edges
— a hub's spokes collapse to parent pointers after one large-star, and
the per-round shuffle shrinks with the frontier. Same output contract,
cross-asserted in tests; pick it when component sizes are unbounded
(web-scale dedup graphs).

Oracle: a Python union-find (tests/test_textops.py) — identical cluster
ids (min doc id per component).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# rounds the last connected_components_star call took (test telemetry)
LAST_STAR_ROUNDS: int = 0


def connected_components(
    pairs: DataFrame,
    a_col: str = "id_a",
    b_col: str = "id_b",
    max_iters: int = 50,
) -> DataFrame:
    """pairs(a, b) undirected -> (id, component) with component = the
    minimum id in the connected component (deterministic canonical
    representative — the keep-doc of a dedup cluster)."""
    edges = (
        pairs.select(F.col(a_col).alias("src"), F.col(b_col).alias("dst"))
        .unionByName(
            pairs.select(F.col(b_col).alias("src"), F.col(a_col).alias("dst"))
        )
        .distinct()
        .cache()
    )
    labels = (
        edges.select(F.col("src").alias("id"))
        .distinct()
        .select("id", F.col("id").alias("component"))
        .localCheckpoint()
    )
    converged = False
    for _ in range(max_iters):
        # candidate label from neighbors: min over incoming components
        from_nbrs = (
            edges.join(labels, edges["src"] == labels["id"])
            .select(F.col("dst").alias("id"), F.col("component").alias("nbr"))
            .groupBy("id")
            .agg(F.min("nbr").alias("nbr_min"))
        )
        # pointer jumping: adopt the representative's own label too
        rep = labels.select(
            F.col("id").alias("component"), F.col("component").alias("rep_min")
        )
        updated = (
            labels.join(from_nbrs, "id", "left")
            .join(rep, "component", "left")
            .select(
                "id",
                F.least(
                    F.col("component"),
                    F.coalesce("nbr_min", F.col("component")),
                    F.coalesce("rep_min", F.col("component")),
                ).alias("component"),
                (
                    F.least(
                        F.coalesce("nbr_min", F.col("component")),
                        F.coalesce("rep_min", F.col("component")),
                    )
                    < F.col("component")
                ).alias("changed"),
            )
        )
        # lazy checkpoint: the count below materializes it — one job per
        # round instead of checkpoint + count each recomputing the joins
        updated = updated.localCheckpoint(eager=False)
        n_changed = updated.filter(F.col("changed")).count()
        labels = updated.drop("changed")
        if n_changed == 0:
            converged = True
            break
    edges.unpersist()
    if not converged:
        raise RuntimeError(
            f"connected_components did not converge in {max_iters} rounds "
            "(pointer jumping needs ~log2(diameter) rounds — raise max_iters)"
        )
    return labels


def _canon(edges: DataFrame) -> DataFrame:
    """Canonical undirected edge set: (a, b) with a < b, no self-loops."""
    return (
        edges.filter(F.col("a") != F.col("b"))
        .select(
            F.least("a", "b").alias("a"), F.greatest("a", "b").alias("b")
        )
        .distinct()
    )


def _star_round(edges: DataFrame, small: bool) -> DataFrame:
    """One large-star / small-star rewiring (Kiveris et al., SoCC'14).

    large-star: gather each node u's full neighborhood (both edge
    directions), m = min(N(u) ∪ {u}); rewire every LARGER neighbor
    v > u to (v, m). small-star: orient edges large→small so each node
    gathers only its smaller neighbors, m = min(N(u) ∪ {u}); rewire
    every v ∈ N(u) (and u itself) to m. Both preserve connectivity;
    alternation converges to per-component stars rooted at the minimum.
    """
    if small:
        adj = edges.select(F.col("b").alias("u"), F.col("a").alias("v"))
    else:
        adj = edges.select(F.col("a").alias("u"), F.col("b").alias("v")).unionAll(
            edges.select(F.col("b").alias("u"), F.col("a").alias("v"))
        )
    m = adj.groupBy("u").agg(F.min("v").alias("nmin"))
    m = m.select("u", F.least("u", "nmin").alias("m"))
    joined = adj.join(m, "u")
    if small:
        out = joined.select(F.col("v").alias("a"), F.col("m").alias("b")).unionAll(
            m.select(F.col("u").alias("a"), F.col("m").alias("b"))
        )
    else:
        out = joined.filter(F.col("v") > F.col("u")).select(
            F.col("v").alias("a"), F.col("m").alias("b")
        )
    return _canon(out)


def connected_components_star(
    pairs: DataFrame,
    a_col: str = "id_a",
    b_col: str = "id_b",
    max_iters: int = 50,
) -> DataFrame:
    """Same contract as connected_components — (id, component) with
    component = the minimum id in the component — via alternating
    large-star/small-star edge REWIRING instead of label propagation.

    Why this is the web-scale shape: label propagation carries the
    original edge set through every round, so a giant component keeps
    hammering one reducer; star rounds rewrite edges toward (min, v)
    parent pointers, collapsing a B-spoke hub to B parent edges in one
    large-star and shrinking the live edge set monotonically toward one
    star per component (O(log n) rounds, Kiveris Thm 4.1). Convergence
    is detected by the canonical edge set's (count, xxhash-xor)
    signature going stable — one tiny action per round."""
    global LAST_STAR_ROUNDS
    edges = _canon(
        pairs.select(F.col(a_col).alias("a"), F.col(b_col).alias("b"))
    ).localCheckpoint()
    nodes = (
        edges.select(F.col("a").alias("id"))
        .unionAll(edges.select(F.col("b").alias("id")))
        .distinct()
    )
    sig = None
    converged = False
    for it in range(max_iters):
        edges = _star_round(edges, small=False)
        # lazy: the signature aggregate below materializes the round
        edges = _star_round(edges, small=True).localCheckpoint(eager=False)
        row = edges.select(F.xxhash64("a", "b").alias("h")).agg(
            F.count("*").alias("n"),
            F.expr("bit_xor(h)").alias("h"),  # order-insensitive, no overflow
        ).first()
        new_sig = (row["n"], row["h"])
        if new_sig == sig:
            LAST_STAR_ROUNDS = it + 1
            converged = True
            break
        sig = new_sig
    if not converged:
        raise RuntimeError(
            f"connected_components_star did not converge in {max_iters} rounds"
        )
    # at the fixpoint every edge is (component_min, v): label v by its
    # minimum neighbor; component minima label themselves
    labels = (
        edges.select(F.col("b").alias("id"), F.col("a").alias("nbr"))
        .groupBy("id")
        .agg(F.min("nbr").alias("component"))
    )
    return nodes.join(labels, "id", "left").select(
        "id", F.coalesce("component", F.col("id")).alias("component")
    )
