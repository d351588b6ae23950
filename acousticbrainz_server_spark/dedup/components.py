"""Connected components over a near-duplicate pair graph → dedup clusters.

Pairwise near-dup detection (MinHash/SimHash/n-gram paths in this package)
yields edges; deduplication needs GROUPS — every document labelled with its
cluster (the minimum doc id reachable through near-dup edges), so a pipeline
can keep one canonical doc per cluster.  The reference dedups exact content
only (db/data.py:250-262); transitive near-dup clustering is the
training-data-pipeline extension of that.

Algorithm: iterative min-label propagation.  Start label(v) = v; each round
every vertex takes the min of its own label and its neighbours' labels; stop
when a round changes nothing.  Rounds = O(component diameter) — near-dup
components are small and dense (they exist because their members are copies
of each other), so this converges in a handful of rounds; the driver checks
an exact changed-count per round (one action) and stops early.  For
adversarially long path-shaped graphs the loop AUTOMATICALLY falls back to
the large-star/small-star alternation (:func:`connected_components_star`,
after Kiveris et al., "Connected Components in MapReduce and Beyond"),
which contracts any graph in O(log² n) rounds regardless of diameter.

Each round is one shuffle: edges ⋈ labels (on src) → groupBy dst min.  Edge
relation is symmetrized once up front; labels carry (vertex, label) only.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

_INTEGRAL_TYPES = {"tinyint", "smallint", "int", "bigint"}


def _require_integral_ids(fn_name: str, **named_cols) -> None:
    """Both CC variants label components with the MIN NODE ID AS LONG — a
    non-integral id type would cast to NULL silently instead of failing
    (round-4 advice).  Fail loudly up front instead."""
    for desc, (df, col) in named_cols.items():
        dt = df.schema[col].dataType.simpleString()
        if dt not in _INTEGRAL_TYPES:
            raise TypeError(
                f"{fn_name}: {desc} column {col!r} must be an integral type "
                f"(component labels are min-id longs), got {dt}"
            )


def connected_components(
    nodes: DataFrame,
    edges: DataFrame,
    id_col: str = "id",
    src_col: str = "src",
    dst_col: str = "dst",
    max_iter: int = 20,
) -> DataFrame:
    """(id, component) — component = min node id reachable via edges.

    ``nodes``: one row per vertex.  ``edges``: undirected pairs (either
    orientation, duplicates allowed).  Isolated vertices keep their own id
    as component.
    """
    _require_integral_ids(
        "connected_components",
        node_id=(nodes, id_col),
        edge_src=(edges, src_col),
        edge_dst=(edges, dst_col),
    )
    # duplicate edges are harmless under the min-aggregate, so there is no
    # distinct() here.  Folding one into the exchange below (in place, since
    # hash(a) satisfies the (a, b) clustering) and handing it the banding
    # join's raw pairs lost to the producer's own dedup shuffle on
    # neardup_cluster_assign: sf0.1, 6 interleaved trials, min 5.82 vs
    # 5.12 s, slower in 6/6 pairs and more CPU in 5/6 (VERDICT1AB.json).
    #
    # symmetrize with ONE pass (explode of both orientations), not a
    # self-union: a union reads the edge subtree twice, and when the caller
    # hands a non-materialized pipeline (e.g. the banding join) each branch
    # would re-execute the whole producer — measured r13: the unioned
    # raw-pairs variant was ~25% SLOWER than paying a separate dedup
    # shuffle, entirely from that double execution.
    # The explode runs the producer once and doubles rows in place.
    #
    # hash-partition by the per-round join key ONCE at cache time (guide
    # §2.4, remove shuffles outright): the cached relation's partitioning is
    # visible to the planner, so every round's edges ⋈ labels join reuses it
    # and only the O(|V|) label vector is exchanged — the O(|E|) relation
    # never reshuffles after this one exchange.  Width = the session's
    # shuffle partitioning (scale-adaptive; the join requires the counts to
    # match for the exchange to be elided).
    sym = (
        edges.select(
            F.explode(
                F.array(
                    F.struct(F.col(src_col).alias("a"), F.col(dst_col).alias("b")),
                    F.struct(F.col(dst_col).alias("a"), F.col(src_col).alias("b")),
                )
            ).alias("e")
        )
        .select("e.a", "e.b")
        .repartition("a")
        .cache()
    )
    # only vertices that HAVE edges iterate; isolated vertices (the vast
    # majority of any near-dup graph) are singleton components by definition
    # and rejoin at the end — the fixpoint loop runs on the edge-touched
    # subgraph only.
    #
    # localCheckpoint each round: an iteration references `labels` twice,
    # so without lineage truncation the logical plan doubles per round —
    # O(2^iters) analysis blow-up.  The checkpoint materializes one
    # (vertex, label) pair per edge-touched node and makes every round's
    # plan constant-size.  (Cluster deployments would use a reliable
    # checkpoint dir to also survive executor loss.)  eager=False
    # throughout (r12): the fixpoint-test aggregate below is the action
    # that materializes each checkpoint — one job per round, not two.
    #
    # init label(v) = min(v, min Γ(v)): the first hook's least() computed in
    # the same aggregate that enumerates the vertex set — one materialized
    # round saved vs label(v) = v (measured: 6 -> 5 rounds at the sf0.1
    # near-dup graph).  Any init that is a member id of v's own component
    # and >= the component min converges to the identical fixpoint.
    labels = (
        sym.groupBy(F.col("a").alias("v"))
        .agg(F.least(F.col("v"), F.min("b")).cast("long").alias("lbl"))
    ).localCheckpoint(eager=False)

    def _hook_and_jump(lab):
        # hook: min label over {self} ∪ neighbourhood, as ONE union+aggregate
        # (r12; replaces the groupBy + left-join pair — same semantics:
        # min(own, min over in-neighbours), one join fewer per round).  The
        # (b, lbl) stream partially aggregates map-side, so the exchange
        # carries ~|V| rows, not |E|.
        relab = (
            sym.join(lab, sym["a"] == lab["v"])
            .select(F.col("b").alias("v"), "lbl")
            .unionByName(lab.select("v", "lbl"))
            .groupBy("v")
            .agg(F.min("lbl").alias("lbl"))
        )
        # pointer jump: v -> lbl(lbl(v)).  Every label is itself a vertex of
        # the subgraph (it is the min id seen so far), so the self-join
        # shortcuts label chains — path-shaped components converge in
        # O(log diameter) materialized rounds instead of O(diameter).
        return relab.join(
            relab.select(F.col("v").alias("lbl"), F.col("lbl").alias("lbl2")),
            "lbl",
            "left",
        ).select("v", F.coalesce(F.col("lbl2"), F.col("lbl")).alias("lbl"))

    converged = False
    try:
        prev_sum = labels.agg(F.sum("lbl")).first()[0]
        for _ in range(max_iter):
            # one hook+jump per materialized round: composing extra steps per
            # checkpoint was measured 2-5x SLOWER warm in r11 AND re-confirmed
            # r12 on the leaner round shape (steps-per-ckpt=2: 8-9 s vs 3-4 s —
            # the composed join tree pays superlinear analysis/codegen and the
            # pointer jump already collapses label chains), so the round count
            # stays O(log diameter) with the cheapest possible per-round plan
            new_labels = _hook_and_jump(labels).localCheckpoint(eager=False)
            # labels only ever decrease (least of own + neighbour min), so the
            # fixpoint test is "sum unchanged" — one scan of the checkpointed
            # relation, no self-join
            new_sum = new_labels.agg(F.sum("lbl")).first()[0]
            labels = new_labels
            if new_sum == prev_sum:
                converged = True
                break
            prev_sum = new_sum
    finally:
        # every per-round action materialized the lazy checkpoints, so the
        # labels relation no longer references the cache; unpersisting in
        # finally means a raising per-round action cannot leak the cached
        # symmetrized edge relation for the session lifetime (r12 ADVICE)
        sym.unpersist()
    if not converged:
        # partially-converged labels are WRONG labels — never return them
        # silently.  A diameter > max_iter graph is exactly what the
        # large-star/small-star alternation contracts in O(log² n) rounds,
        # so fall back to it (same contract, proven round bound) instead of
        # failing the job.
        return connected_components_star(
            nodes, edges, id_col=id_col, src_col=src_col, dst_col=dst_col
        )
    components = labels.select(F.col("v").alias(id_col), F.col("lbl").alias("component"))
    singletons = nodes.select(F.col(id_col)).join(
        components.select(id_col), id_col, "left_anti"
    ).select(F.col(id_col), F.col(id_col).cast("long").alias("component"))
    return components.union(singletons)


def _canon(df: DataFrame) -> DataFrame:
    """Canonical directed edge set: (a > b), deduped, no self-loops."""
    return (
        df.filter(F.col("a") != F.col("b"))
        .select(F.greatest("a", "b").alias("a"), F.least("a", "b").alias("b"))
        .distinct()
    )


def _large_star(edges: DataFrame) -> DataFrame:
    """Large-star: every node links its LARGER neighbours to its minimum.

    For each u over the symmetrized neighbourhood: m = min(Γ(u) ∪ {u});
    emit (v, m) for v ∈ Γ(u), v > u.  (Kiveris et al., §3.)
    """
    sym = edges.select("a", "b").union(edges.select(F.col("b").alias("a"), F.col("a").alias("b")))
    mins = sym.groupBy("a").agg(F.min("b").alias("_mb"))
    m = mins.select("a", F.least(F.col("a"), F.col("_mb")).alias("m"))
    return (
        sym.join(m, "a")
        .filter(F.col("b") > F.col("a"))
        .select(F.col("b").alias("a"), F.col("m").alias("b"))
    )


def _small_star(edges: DataFrame) -> DataFrame:
    """Small-star: every node re-points its SMALLER neighbours (and itself)
    at the minimum of that set.

    Input directed (a > b); for each a: m = min(Γ⁻(a)); emit (v, m) for
    v ∈ Γ⁻(a) ∪ {a}, v ≠ m.  (Kiveris et al., §3.)
    """
    mins = edges.groupBy("a").agg(F.min("b").alias("m"))
    to_small = edges.join(mins, "a").filter(F.col("b") != F.col("m")).select(
        F.col("b").alias("a"), F.col("m").alias("b")
    )
    to_self = mins.select("a", F.col("m").alias("b"))
    return to_small.union(to_self)


def connected_components_star(
    nodes: DataFrame,
    edges: DataFrame,
    id_col: str = "id",
    src_col: str = "src",
    dst_col: str = "dst",
    max_rounds: int = 50,
) -> DataFrame:
    """(id, component) via large-star/small-star alternation — the
    long-diameter escape hatch for :func:`connected_components`.

    Each round is two grouped aggregations + joins over the edge relation
    and provably contracts any graph in O(log² n) rounds (Kiveris et al.,
    "Connected Components in MapReduce and Beyond", SoCC'14 — public
    algorithm, independent implementation), vs min-label propagation's
    O(diameter).  Preferred when components can be path-shaped (chains of
    borderline near-dups); the default hook+jump loop wins on the short,
    dense components real near-dup graphs produce.

    At 100 TB: the edge relation shrinks toward one star edge per non-root
    node; every round's shuffles are edge-partitioned (never node-adjacency
    materialized), and localCheckpoint truncates the per-round lineage.
    """
    _require_integral_ids(
        "connected_components_star",
        node_id=(nodes, id_col),
        edge_src=(edges, src_col),
        edge_dst=(edges, dst_col),
    )
    cur = _canon(
        edges.select(F.col(src_col).alias("a"), F.col(dst_col).alias("b"))
    ).localCheckpoint(eager=True)

    def _sig(df: DataFrame):
        # (count, xor-of-row-hashes): order-insensitive, overflow-free (ANSI
        # mode rejects a sum of 2^63-scale hashes).  A cheap PRE-FILTER only:
        # a 64-bit xor can collide between different edge sets, so a matching
        # signature is CONFIRMED with an exact anti-join below before the
        # loop terminates (round-4 advice — the fixpoint test is now exact).
        return df.agg(
            F.count(F.lit(1)).alias("n"), F.bit_xor(F.xxhash64("a", "b")).alias("h")
        ).first()

    prev = _sig(cur)
    converged = False
    for _ in range(max_rounds):
        # star rounds change edge ORIENTATION toward component minima; the
        # canonical form stabilizes exactly at the star fixpoint
        nxt = _canon(_small_star(_large_star(cur))).localCheckpoint(eager=True)
        sig = _sig(nxt)
        if (sig["n"], sig["h"]) == (prev["n"], prev["h"]):
            # exact confirmation: equal distinct-set sizes + empty (cur \ nxt)
            # anti-join ⇒ set equality.  One extra join on the already-shrunk
            # star relation, paid once at the fixpoint (or on the
            # astronomically rare xor collision, where the loop continues).
            if cur.join(nxt, ["a", "b"], "left_anti").isEmpty():
                cur = nxt
                converged = True
                break
        cur = nxt
        prev = sig
    if not converged:
        raise RuntimeError(
            f"connected_components_star did not converge in {max_rounds} rounds — "
            "this exceeds the O(log² n) bound and indicates a bug, not a data issue"
        )
    # fixpoint edges are (v, component_min) stars; roots appear only as b
    members = cur.select(F.col("a").alias(id_col), F.col("b").alias("component"))
    roots = cur.select(F.col("b").alias(id_col)).distinct().withColumn(
        "component", F.col(id_col).cast("long")
    )
    labelled = members.union(roots.select(id_col, "component"))
    singletons = (
        nodes.select(F.col(id_col))
        .join(labelled.select(id_col), id_col, "left_anti")
        .select(F.col(id_col), F.col(id_col).cast("long").alias("component"))
    )
    return labelled.union(singletons)


def neardup_clusters(
    docs: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
) -> DataFrame:
    """(doc_id, cluster_id, cluster_size) from near-dup candidate pairs.

    ``cluster_id`` = min doc_id in the connected component; singletons get
    their own id with size 1.  Downstream dedup keeps ``doc_id ==
    cluster_id`` rows as canonicals.
    """
    comp = connected_components(
        docs.select(id_col),
        pairs,
        id_col=id_col,
        src_col="doc_a",
        dst_col="doc_b",
    )
    sizes = comp.groupBy("component").agg(F.count(F.lit(1)).alias("cluster_size"))
    return (
        comp.join(sizes, "component")
        .select(
            F.col(id_col),
            F.col("component").alias("cluster_id"),
            F.col("cluster_size"),
        )
    )
