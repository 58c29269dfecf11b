"""Connected-components clustering of near-duplicate pairs.

Near-dup detection emits PAIRS; a pipeline needs CLUSTERS (keep one doc
per transitive group: a~b and b~c must collapse a, b, c together even
when a~c was never emitted). This is the standard second stage after
MinHash/Jaccard pair generation.

Algorithm: iterative min-label propagation (the Pregel/GraphX "small
component id wins" scheme) — every node starts labeled with its own id;
each round, a node takes the minimum label among itself and its
neighbors; converged when no label changes. Rounds needed = graph
diameter, and near-dup graphs are unions of small dense cliques, so
convergence is fast (2-3 rounds in practice).

Scale: each round is one join (edges ⋈ labels, both hash-partitioned
on node id) + one min-aggregate — all distributed, no driver-side graph.
The symmetrized edge list is materialized once and each round's labels
once per round, both with ``localCheckpoint(eager=True)``, so every
round's plan has constant size; only the per-round label sum crosses
to the driver. This is the same shape GraphX's connectedComponents
runs; implemented directly on DataFrames to stay in Catalyst/Tungsten.

The reference has no multi-row operator at all (SURVEY §2.1), let alone
an iterative one; this extends its dedup-adjacent surface (primary-keys
intent, pkg/db/types.go:10-13) to transitive duplicate groups.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def connected_components(edges: DataFrame) -> DataFrame:
    """(id, label) for every node appearing in ``edges``; ``label`` is
    the minimum node id reachable from ``id`` (= the cluster's canonical
    id). Raises if not converged within 25 rounds (diameter
    bound; near-dup graphs converge in a handful)."""
    # The symmetric edge list is static: partition it on the join key
    # and materialize it once. Every round's edges ⋈ labels then
    # re-shuffles ONLY the labels side (|edges| ≫ |nodes|), and no
    # round's plan carries the lineage of ``edges`` (for dedup, the
    # whole MinHash pipeline). The distinct() after repartition("a")
    # dedups within the a-partitions, so one shuffle serves both.
    sym = (
        edges.select(F.col("doc_a").alias("a"), F.col("doc_b").alias("b"))
        .union(edges.select(F.col("doc_b").alias("a"), F.col("doc_a").alias("b")))
        .repartition("a")
        .distinct()
        .localCheckpoint(eager=True)
    )
    # Initialize labels at the ROUND-1 fixpoint state directly:
    # label₀(v) = min({v} ∪ neighbors(v)) is exactly what one
    # propagation round over labels=id computes, so folding it into the
    # init is one aggregate over the (already partitioned) edge list
    # instead of a full join+agg round — measured ~1 s off dup_clusters
    # at sf0.1, same fixpoint by induction.
    labels = (
        sym.select(F.col("a").alias("id"), F.least("a", "b").alias("label"))
        .groupBy("id")
        .agg(F.min("label").alias("label"))
        .localCheckpoint(eager=True)
    )
    # Each round is ONE join + ONE aggregate: a node's new label is the
    # min over {its own label} ∪ {neighbors' labels}, expressed as
    # union + min-groupBy (vs the textbook join-groupBy-join-back, which
    # pays a second shuffle-join per round). The labels side carries a
    # shuffle_hash hint: at scale it is corpus-derived (every node in a
    # near-dup pair), so a Catalyst size misestimate must never promote
    # it to a broadcast build (SCALING.md, same class as the LSH band
    # join OOM).
    #
    # Lineage: the round references the previous labels twice (union
    # side and join side), so without truncation the logical tree
    # doubles every round and analysis time grows exponentially with
    # the diameter — persist() bounds execution, not analysis.
    # localCheckpoint(eager=True) cuts each generation to a one-node
    # plan, so every round plans in constant time.
    #
    # Convergence: labels only ever decrease, so the exact sum of all
    # labels is strictly monotone decreasing until the fixpoint — one
    # DECIMAL(38,0) aggregate per round, with no join back to the
    # previous generation. Seeding it from the init labels (already the
    # round-1 state) lets components of diameter ≤ 1 — the common
    # near-dup clique case — converge after ONE verification round.
    def label_sum(df: DataFrame):
        return df.agg(F.sum(F.col("label").cast("decimal(38,0)"))).collect()[0][0]

    total_prev = label_sum(labels)
    for _ in range(25):
        contrib = sym.join(
            labels.hint("shuffle_hash"), sym["a"] == labels["id"]
        ).select(F.col("b").alias("id"), "label")
        labels = (
            labels.unionByName(contrib)
            .groupBy("id")
            .agg(F.min("label").alias("label"))
            .localCheckpoint(eager=True)
        )
        total = label_sum(labels)
        if total == total_prev:
            return labels
        total_prev = total
    raise RuntimeError("connected_components: no fixpoint in 25 rounds")


def assign_clusters(all_ids: DataFrame, edges: DataFrame) -> DataFrame:
    """Every id in ``all_ids`` mapped to its duplicate-cluster canonical
    id (its own id when it is in no pair) — the join-back table the
    pipeline filters on (keep rows where doc_id == cluster_id)."""
    labels = connected_components(edges)
    # labels is corpus-derived (every paired doc) — never broadcast it.
    return (
        all_ids.select("doc_id")
        .join(labels.hint("shuffle_hash"), all_ids["doc_id"] == labels["id"], "left")
        .select(
            "doc_id",
            F.coalesce("label", F.col("doc_id")).alias("cluster_id"),
        )
    )


def graph_pagerank(pairs: DataFrame, iters: int = 2) -> DataFrame:
    """PageRank over the undirected near-dup graph — centrality-ranked
    duplicates (the canonical-pick signal "which copy is the hub";
    min-id CC keeps the smallest id, this keeps the most-connected).

    Power iteration in PURE BIGINT so a fixed ``iters`` unrolls to
    identical arithmetic in any engine (both Spark's `div` and
    DuckDB's `//` truncate, and every operand here is positive, so
    floor == trunc on both): ranks start at 1e6 micro-units, each
    round a node emits ``rank div degree`` along every edge and
    collects ``150000 + (850 · Σ incoming) div 1000`` — the damping
    d=0.85 with a CONSTANT teleport term (un-normalized formulation:
    no 1/N division, which would not be integer-exact). Symmetrized
    edges mean every node has in-edges, so no dangling-mass term.

    Scale shape: per round, one src-keyed shuffle_hash join (ranks ⋈
    edges) and one partial-agged dst-keyed sum — both linear in
    |edges|; nothing collects to the driver, and ``iters`` is a small
    literal constant so the lazy plan stays linear in it (the
    BPE/CC literal-loop pattern). Returns (doc_id, degree,
    rank_micro).
    """
    edges = pairs.select(
        F.col("doc_a").alias("e_src"), F.col("doc_b").alias("e_dst")
    ).unionAll(
        pairs.select(F.col("doc_b").alias("e_src"), F.col("doc_a").alias("e_dst"))
    )
    deg = edges.groupBy("e_src").agg(F.count(F.lit(1)).alias("degree"))
    ranks = deg.select(
        F.col("e_src").alias("node"),
        F.lit(1000000).cast("bigint").alias("rank_micro"),
    )
    for _ in range(iters):
        contrib = ranks.join(
            deg.hint("shuffle_hash"), ranks["node"] == deg["e_src"]
        ).select("node", F.expr("rank_micro div degree").alias("c"))
        ranks = (
            edges.join(
                contrib.hint("shuffle_hash"),
                edges["e_src"] == contrib["node"],
            )
            .groupBy("e_dst")
            .agg(F.sum("c").alias("s"))
            .select(
                F.col("e_dst").alias("node"),
                (F.lit(150000) + F.expr("(850 * s) div 1000"))
                .cast("bigint")
                .alias("rank_micro"),
            )
        )
    return deg.join(ranks.hint("shuffle_hash"), deg["e_src"] == ranks["node"]).select(
        F.col("node").alias("doc_id"), "degree", "rank_micro"
    )


def _canon_edges(edges: DataFrame) -> DataFrame:
    """Distinct undirected edges, canonically (larger, smaller), no
    self-loops."""
    return (
        edges.select(
            F.greatest(F.col("doc_a"), F.col("doc_b")).alias("u"),
            F.least(F.col("doc_a"), F.col("doc_b")).alias("v"),
        )
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )


def _large_star(e: DataFrame) -> DataFrame:
    """Large-star: every node u connects its LARGER neighbors to
    m(u) = min({u} ∪ Γ(u)). One symmetrize + one min-aggregate + one
    keyed join — all hash-partitioned on the center node."""
    sym = e.select("u", "v").unionAll(
        e.select(F.col("v").alias("u"), F.col("u").alias("v"))
    )
    mins = sym.groupBy("u").agg(
        F.least(F.first("u"), F.min("v")).alias("m")
    )
    out = (
        sym.filter(F.col("v") > F.col("u"))
        .join(mins.hint("shuffle_hash"), "u")
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
    )
    return out.filter(F.col("u") != F.col("v")).distinct()


def _small_star(e: DataFrame) -> DataFrame:
    """Small-star: every node u connects its SMALLER neighbors (and
    itself) to m(u) = min(Γ⁻(u) ∪ {u}). Edges arrive canonical
    (u > v), so Γ⁻ is just the v column."""
    mins = e.groupBy("u").agg(F.min("v").alias("m"))
    with_m = e.join(mins.hint("shuffle_hash"), "u")
    out = with_m.select(F.col("v").alias("u"), F.col("m").alias("v")).unionAll(
        mins.select(F.col("u"), F.col("m").alias("v"))
    )
    return (
        out.filter(F.col("u") != F.col("v"))
        .select(
            F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
        )
        .distinct()
    )


def connected_components_star(edges: DataFrame) -> DataFrame:
    """(id, label) by the ALTERNATING large-star/small-star algorithm
    (Kiveris et al., "Connected Components in MapReduce and Beyond",
    SoCC'14): converges in O(log² n) rounds REGARDLESS of graph
    diameter, where min-label propagation (connected_components) needs
    diameter rounds — the scale hedge for adversarial shapes (long
    chains of borderline near-dups, web-graph tendrils). For the usual
    near-dup clique soup both converge in 2-3 rounds and min-label's
    cheaper round wins (500 triangles, 1,500 pairs, 4 CPUs, warm:
    0.8-1.1 s against 2.0-2.2 s); pick per workload.

    Each round is two map-reduce steps (min-aggregate + keyed join,
    hash-partitioned on the center node). Fixpoint test: same edge
    count AND an empty one-sided exceptAll — exact, two bounded
    actions per round, no checksum collisions. At the fixpoint every
    component is a star (child → root, root < child), read off as the
    label table; equality with min-label CC and the O(log) round count
    on a 400-diameter path are pinned in tests/test_dedup.py.

    Lineage discipline (measured, not theoretical): each round's plan
    references the previous round's DAG ~4× (symmetrize + min-agg +
    join), so Catalyst's tree-expansion of the shared DAG grows
    EXPONENTIALLY in the round count — with plain persist() the 400-
    node path graph hit 35 s/round by round 3 and OOMed the driver on
    ANALYSIS alone (the cache bounds execution, not the logical tree).
    ``localCheckpoint(eager=True)`` truncates lineage every round,
    holding per-round planning cost constant. On a real cluster a
    reliable ``checkpoint()`` directory buys the same truncation plus
    executor-loss recovery; local checkpoint is the right single-node
    trade."""
    e = _canon_edges(edges).localCheckpoint(eager=True)
    n_prev = e.count()
    for _ in range(30):
        new_e = _small_star(_large_star(e)).localCheckpoint(eager=True)
        n_new = new_e.count()
        if n_new == n_prev and new_e.exceptAll(e).limit(1).count() == 0:
            e = new_e
            break
        e, n_prev = new_e, n_new
    else:
        raise RuntimeError(
            "connected_components_star: no fixpoint in 30 rounds"
        )
    # stars: every edge is (child, root); roots label themselves
    return e.select(
        F.col("u").alias("id"), F.col("v").alias("label")
    ).unionAll(
        e.select(F.col("v").alias("id"), F.col("v").alias("label"))
    ).distinct()


def assign_clusters_star(all_ids: DataFrame, edges: DataFrame) -> DataFrame:
    """assign_clusters with the star-contraction CC (same output
    contract: every id mapped to its cluster's min id, singletons to
    themselves)."""
    labels = connected_components_star(edges)
    return (
        all_ids.select("doc_id")
        .join(labels.hint("shuffle_hash"), all_ids["doc_id"] == labels["id"], "left")
        .select(
            "doc_id",
            F.coalesce("label", F.col("doc_id")).alias("cluster_id"),
        )
    )


def label_propagation(edges: DataFrame, rounds: int = 2) -> DataFrame:
    """Synchronous deterministic label propagation (LPA) over the
    undirected near-dup graph: every node starts labeled with its own
    id; each round it adopts its neighbors' MOST FREQUENT label,
    breaking ties by the smaller label. Unlike connected components
    (which merges everything reachable), LPA converges toward DENSE
    groups — on a dup graph it separates template-spam cliques that a
    borderline bridge pair would fuse into one CC.

    Determinism: classic LPA breaks frequency ties randomly; this
    variant pins (count DESC, label ASC), so a FIXED round count
    unrolls to identical arithmetic in any engine — the oracle is a
    chained-CTE mirror (the dup_graph_pagerank pattern). Each round is
    one edges ⋈ labels join (both sides node-keyed, labels side
    shuffle_hash — corpus-derived, never broadcast) and one
    (node, label) count + min(struct) argmax, all partial-agged. The
    symmetrized edge list every round reads is materialized once with
    ``localCheckpoint(eager=True)``, which leaves nothing cached.
    Returns (id, community) for every node with ≥1 edge."""
    sym = (
        edges.select(F.col("doc_a").alias("u"), F.col("doc_b").alias("v"))
        .unionAll(edges.select(F.col("doc_b").alias("u"), F.col("doc_a").alias("v")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    labels = sym.select(F.col("u").alias("id"), F.col("u").alias("lbl")).distinct()
    for _ in range(rounds):
        counts = (
            sym.join(labels.hint("shuffle_hash"), sym["v"] == labels["id"])
            .groupBy(sym["u"].alias("nid"), "lbl")
            .agg(F.count(F.lit(1)).alias("c"))
        )
        best = F.struct((-F.col("c")).alias("nc"), F.col("lbl").alias("l"))
        labels = (
            counts.groupBy("nid")
            .agg(F.min(best).alias("b"))
            .select(F.col("nid").alias("id"), F.col("b.l").alias("lbl"))
        )
    return labels.select("id", F.col("lbl").alias("community"))
