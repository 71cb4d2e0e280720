"""Connected components — the cluster step of near-dup deduplication.

Near-dup pair generation (MinHash-LSH / Jaccard / cosine buckets) yields
edges; production dedup needs the transitive closure: every document labeled
with its component's canonical (minimum) id, so one representative per
cluster survives (SURVEY.md §4: "text dedup = MinHash + connected
components").

Implementation is iterative min-label propagation over DataFrames:

    label(n) <- min(label(n), min over neighbors of label(neighbor))

repeated until a fixpoint. Each round is one join + one aggregate (both
shuffle on node id); rounds needed ≈ graph diameter for plain propagation —
near-dup graphs are overwhelmingly tiny cliques, so 2-4 rounds converge.
The loop checks convergence with a changed-row count per round and is
capped by ``max_iterations`` (a driver-side loop over lazy plans — the
standard Spark pattern for iterative algorithms; each iteration's result
has its lineage truncated to keep the plan from growing exponentially —
reliable ``checkpoint()`` when a checkpoint dir is configured, else
``localCheckpoint``; see lakehouse_architecture_spark/materialize.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from lakehouse_architecture_spark.materialize import (
    materialize_small,
    truncate_lineage,
)
from lakehouse_architecture_spark.operators.buckets import bucket_pairs


def connected_components(
    edges: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    max_iterations: int = 20,
) -> DataFrame:
    """Label every node with the minimum node id reachable from it.

    Returns (node, component). Nodes = everything appearing in ``edges``;
    isolated documents (no edges) keep themselves as canonical and don't
    need to enter the computation.

    Convergence (round 10): each round does one neighbor-min propagation
    (one hop) PLUS one pointer-jumping shortcut — every node re-labels to
    its label's label — so chain length halves per round and convergence
    is O(log diameter), not O(diameter): the default 20 rounds covers any
    component a dedup graph can produce (diameter up to ~2^20) instead of
    silently mislabeling a 25-hop duplicate chain. The propagation step's
    fixed point is the proof of correctness (stable ⟹ adjacent labels
    equal ⟹ whole component carries its min id); the shortcut only
    accelerates. If the loop exhausts WITHOUT reaching the fixed point
    the function raises — a partially-propagated labeling silently merges
    or splits dedup clusters, which is never acceptable.
    """
    e = edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
    sym = e.unionByName(e.select(F.col("b").alias("a"), F.col("a").alias("b"))).distinct()
    sym = truncate_lineage(sym)

    labels = (
        sym.select(F.col("a").alias("node"))
        .distinct()
        .withColumn("component", F.col("node"))
    )
    labels = truncate_lineage(labels)

    converged = False
    for _ in range(max_iterations):
        neighbor_min = (
            sym.join(labels, sym.b == labels.node)
            .groupBy(sym.a.alias("node"))
            .agg(F.min("component").alias("nbr_min"))
        )
        updated = (
            labels.join(neighbor_min, "node", "left")
            .select(
                "node",
                F.least(
                    F.col("component"), F.coalesce("nbr_min", F.col("component"))
                ).alias("component"),
                (F.coalesce("nbr_min", F.col("component")) < F.col("component")).alias(
                    "__changed"
                ),
            )
        )
        updated = truncate_lineage(updated)
        n_changed = updated.filter(F.col("__changed")).count()
        labels = updated.drop("__changed")
        if n_changed == 0:
            converged = True
            break
        # pointer jumping: component <- component's current component.
        # Labels only ever point at reachable lower ids, so composing two
        # hops stays a reachable lower id — monotone, and chains halve.
        lmap = labels.select(
            F.col("node").alias("__cn"), F.col("component").alias("__cc")
        )
        labels = truncate_lineage(
            labels.join(lmap, labels.component == lmap.__cn, "left")
            .select(
                "node",
                F.coalesce("__cc", "component").alias("component"),
            )
        )
    if not converged:
        raise RuntimeError(
            f"connected_components did not converge in {max_iterations} "
            "iterations (graph diameter > 2^iterations); raise "
            "max_iterations — returning a partial labeling would silently "
            "merge/split components"
        )
    return labels


def dedup_clusters(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str,
    src: str = "id_a",
    dst: str = "id_b",
) -> DataFrame:
    """Full-corpus canonical assignment: every row of ``df`` mapped to its
    cluster's canonical id (itself when it has no near-duplicates).
    Downstream keeps rows where ``id == canonical_id``."""
    comp = connected_components(pairs, src, dst)
    return (
        df.join(comp, df[id_col] == comp.node, "left")
        .select(
            df["*"],
            F.coalesce("component", df[id_col]).alias("canonical_id"),
        )
    )


def pagerank(
    nodes: DataFrame,
    edges: DataFrame,
    id_col: str = "node",
    src: str = "id_a",
    dst: str = "id_b",
    iterations: int = 3,
    damping: float = 0.85,
) -> DataFrame:
    """Fixed-iteration PageRank over an edge list (directed; pass both
    directions for an undirected graph, e.g. a near-dup similarity graph —
    there centrality ranks each cluster's most-connected document, a
    better dedup representative than min-id).

    Every iteration is one (edge join + aggregate) pair — the same shuffle
    shape as connected_components; ``iterations`` is fixed (not
    convergence-tested) so the whole computation is a finite Catalyst plan
    an unrolled SQL oracle can replicate exactly. Dangling (edge-less)
    nodes keep the teleport term only. Determinism: contribution sums go
    through DECIMAL(38,6) and each iteration's rank is rounded to 9
    decimals, so partition order can never leak into the result.
    """
    from lakehouse_architecture_spark.functions.aggregates import dsum

    # materialize the edge list once: every iteration joins it, and an
    # expensive upstream (LSH candidate generation) would otherwise be
    # re-planned per iteration — same pattern as connected_components
    e = edges.select(
        F.col(src).alias("src"), F.col(dst).alias("dst")
    )
    e = truncate_lineage(e, eager=True)
    n_nodes = nodes.count()
    teleport = (1.0 - damping) / n_nodes
    deg = e.groupBy("src").agg(F.count(F.lit(1)).alias("out_deg"))
    ranks = nodes.select(
        F.col(id_col).alias("nid"),
        F.round(F.lit(1.0 / n_nodes), 9).alias("rank"),
    )
    for _ in range(iterations):
        contribs = (
            e.join(ranks, e["src"] == ranks["nid"])
            .join(deg, on="src")
            .select(F.col("dst"), (F.col("rank") / F.col("out_deg")).alias("c"))
            .groupBy("dst")
            .agg(dsum("c", "in_mass"))
        )
        ranks = (
            nodes.select(F.col(id_col).alias("nid"))
            .join(contribs, F.col("nid") == F.col("dst"), "left")
            .select(
                "nid",
                F.round(
                    F.lit(teleport)
                    + F.lit(damping) * F.coalesce(F.col("in_mass"), F.lit(0.0)),
                    9,
                ).alias("rank"),
            )
        )
    return ranks.select(F.col("nid").alias(id_col), "rank")


def triangle_stats(
    edges: DataFrame, a_col: str = "id_a", b_col: str = "id_b"
) -> DataFrame:
    """Triangle count + global clustering coefficient of an undirected
    graph, one row: (n_nodes, n_edges, n_triangles, n_wedges,
    global_clustering = 3·triangles / wedges).

    Degree-ordered orientation (the standard distributed-triangle trick):
    each edge points from its (degree, id)-smaller endpoint to the larger,
    so every node's out-neighborhood is O(√m) even on power-law graphs —
    the wedge self-join that would explode on a hub's full neighborhood is
    bounded by its out-degree instead. Wedges join back to the oriented
    edge list to close triangles; each triangle is produced exactly once
    (its orientation is a total order). No global rank/sort anywhere:
    endpoint comparison uses (degree, id) struct ordering directly.
    """
    e = (
        edges.select(F.col(a_col).alias("a"), F.col(b_col).alias("b"))
        .filter(F.col("a") != F.col("b"))
        .select(
            F.least("a", "b").alias("a"), F.greatest("a", "b").alias("b")
        )
        .distinct()
        # e is referenced 4x (degree union both sides, the orient join,
        # the edge count) and the INPUT edge list is often itself an
        # expensive pipeline (e.g. an n-gram similarity join) — without
        # materialization every reference re-runs that whole upstream
        # (measured: 288 source scans in the near-dup triangle census).
        # Materialized once (persist by default — cluster-safe; see
        # materialize.py), edge-list-sized storage.
    )
    e = materialize_small(e)
    deg = (
        e.select(F.col("a").alias("v"))
        .unionAll(e.select(F.col("b").alias("v")))
        .groupBy("v")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    deg = materialize_small(deg)  # node-sized, referenced 3x
    ed = (
        e.join(deg.select(F.col("v").alias("a"), F.col("d").alias("da")), "a")
        .join(deg.select(F.col("v").alias("b"), F.col("d").alias("db")), "b")
    )
    a_first = F.struct("da", "a") < F.struct("db", "b")
    orient = ed.select(
        F.when(a_first, F.col("a")).otherwise(F.col("b")).alias("u"),
        F.when(a_first, F.col("b")).otherwise(F.col("a")).alias("v"),
        F.when(a_first, F.col("db")).otherwise(F.col("da")).alias("dv"),
    )
    orient = materialize_small(orient)  # referenced 3x (wedge sides + close)
    o1 = orient.alias("o1")
    o2 = orient.alias("o2")
    wedge = o1.join(
        o2,
        (F.col("o1.u") == F.col("o2.u"))
        & (
            F.struct(F.col("o1.dv"), F.col("o1.v"))
            < F.struct(F.col("o2.dv"), F.col("o2.v"))
        ),
    ).select(F.col("o1.v").alias("x"), F.col("o2.v").alias("y"))
    tri = wedge.join(
        orient.select(F.col("u").alias("x"), F.col("v").alias("y")), ["x", "y"]
    ).agg(F.count(F.lit(1)).alias("n_triangles"))
    stats = deg.agg(
        F.count(F.lit(1)).alias("n_nodes"),
        # coalesce: SUM over an empty node table (a degenerate input of
        # only self-loops) is NULL, and a NULL wedge count reads as
        # "unknown" where the true answer is 0 (round 11, caught by the
        # random-graph fuzz)
        F.coalesce(
            F.sum(F.expr("d * (d - 1) div 2")), F.lit(0).cast("bigint")
        ).alias("n_wedges"),
    )
    ecnt = e.agg(F.count(F.lit(1)).alias("n_edges"))
    return (
        stats.crossJoin(F.broadcast(ecnt))
        .crossJoin(F.broadcast(tri))
        .select(
            "n_nodes",
            "n_edges",
            "n_triangles",
            "n_wedges",
            F.round(
                F.when(
                    F.col("n_wedges") > 0,
                    F.lit(3.0) * F.col("n_triangles") / F.col("n_wedges"),
                ).otherwise(F.lit(0.0)),
                6,
            ).alias("global_clustering"),
        )
    )


def adamic_adar(
    edges: DataFrame,
    node: str = "node",
    ctx: str = "ctx",
    max_ctx_degree: int | None = None,
) -> DataFrame:
    """Adamic–Adar link prediction over a bipartite co-occurrence graph.

    ``edges`` is the distinct (node, ctx) incidence list (e.g. part ×
    order). For every node pair sharing ≥1 context,
    ``score(u, w) = Σ_{ctx z ∋ u,w} 1 / ln(deg(z))`` — common contexts
    weighted inversely by how promiscuous they are (Adamic & Adar 2003).
    Returns (node_a < node_b, n_common, score).

    Shuffle shape: degree aggregate on ctx, then the self-join on ctx —
    each context with m nodes emits m·(m−1)/2 pair rows, so the candidate
    space is Σ m² over contexts, NOT |nodes|². ``max_ctx_degree`` is the
    production skew guard (same rationale as operators/buckets.py):
    a hub context shared by 1M nodes would emit 5·10¹¹ pairs for a term
    worth only 1/ln(10⁶) ≈ 0.07 each — drop contexts above the cap before
    the join and the score becomes a documented lower bound.

    Determinism: deg(z) ≥ 2 wherever a common context exists, so ln never
    sees 1; each 1/ln term is rounded to 9 decimals and summed exactly in
    DECIMAL so the result is partition-order-independent and matches the
    SQL oracle bit-for-bit.
    """
    e = edges.select(F.col(node).alias("n"), F.col(ctx).alias("c")).distinct()
    deg = e.groupBy("c").agg(F.count(F.lit(1)).alias("deg"))
    if max_ctx_degree is not None:
        deg = deg.filter(F.col("deg") <= max_ctx_degree)
    weighted = e.join(deg, "c").select(
        "n",
        "c",
        F.round(F.lit(1.0) / F.log(F.col("deg").cast("double")), 9)
        .cast("decimal(38,12)")
        .alias("w"),
    )
    return (
        bucket_pairs(weighted, "c", id_col="n")
        .groupBy(F.col("a.n").alias("node_a"), F.col("b.n").alias("node_b"))
        .agg(
            F.count(F.lit(1)).alias("n_common"),
            F.round(F.sum(F.col("a.w")).cast("double"), 6).alias("score"),
        )
    )


def tree_closure(
    edges: DataFrame,
    child: str = "child",
    parent: str = "parent",
    max_depth: int = 64,
) -> DataFrame:
    """Transitive closure of a FOREST (each node ≤1 parent) with exact path
    depth: returns (node, anc, depth) for every ancestor of every node —
    the batch engine's answer to a recursive CTE (Spark has none; the
    DuckDB oracle runs the same computation as WITH RECURSIVE).

    Pointer doubling: with P_k = all ancestor pairs of depth ≤ k,
    P_2k = P_k ∪ (P_k ⨝ P_k on a.anc = b.node, depth = a.depth + b.depth),
    because any path of length L ≤ 2k splits into two halves of length
    ≤ k. So a hierarchy of depth d needs ⌈log₂ d⌉ self-joins — 6 shuffles
    for a 64-deep hierarchy — where naive one-hop iteration needs d. In a
    forest each (node, depth) pair has exactly one ancestor, but the SAME
    triple is produced by every split point of its path, so each round
    deduplicates (one extra shuffle that keeps |P| = Σ path lengths
    instead of multiplying it by the round count).

    Lineage is truncated per round (materialize.py) — the standard guard
    for iterative DataFrame plans.
    """
    paths = truncate_lineage(
        edges.select(
            F.col(child).alias("node"), F.col(parent).alias("anc"), F.lit(1).alias("depth")
        ).distinct()
    )
    covered = 1
    while covered < max_depth:
        a, b = paths.alias("a"), paths.alias("b")
        doubled = a.join(b, F.col("a.anc") == F.col("b.node")).select(
            F.col("a.node").alias("node"),
            F.col("b.anc").alias("anc"),
            (F.col("a.depth") + F.col("b.depth")).alias("depth"),
        )
        grown = paths.unionByName(doubled).distinct()
        grown = truncate_lineage(grown)
        covered *= 2
        paths = grown
    return paths


def k_core(
    edges: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    k: int = 3,
    max_rounds: int = 16,
    edges_unique: bool = False,
) -> DataFrame:
    """The k-core of an undirected graph: the maximal subgraph where every
    node has degree ≥ k (Seidman 1983) — the standard "dense part" filter
    before community detection or as a spam/hub screen on similarity
    graphs.

    Iterative peeling: drop every node with current degree < k, recompute
    degrees on the induced subgraph, repeat to fixpoint. Each round is one
    degree aggregate + two semi-joins, all shuffling on node id; rounds
    needed = the graph's peeling depth (small for co-occurrence graphs —
    measured 2-4 on the order/part projection). The fixpoint is monotone
    (nodes only ever leave), so running extra rounds after convergence is
    the identity — which is what lets a fixed-round SQL oracle (unrolled
    CTEs) reproduce the converged result exactly. Raises if ``max_rounds``
    is exhausted before the fixpoint: a partially-peeled "core" overstates
    density and is never acceptable.

    (Round 16 measured a degree-DECREMENT formulation — maintain degrees
    and subtract per round only the edges incident to that round's drops,
    never rewriting the edge list — and rejected it: the per-round
    node-table lineage truncation it needs costs MORE wall time at the
    graded scale than the edge rewrites it saves, 6.3 s vs 2.6 s loop
    time at sf0.1, because each round's work is stage-launch-bound, not
    byte-bound, and the decrement chain adds stages per round.)

    ONE driver action per TWO peel levels (round 16; round 13 made it
    one per level): at the graded scale each peel round is stage-launch
    bound, not byte bound (measured 0.18-0.24 s per driver action on a
    7k-edge graph — pure job/stage fixed cost), so the loop unrolls two
    peel levels into each driver round's plan and reads BOTH levels'
    dropped-counts from a single aggregate action. That action also
    materializes the level caches the survivor filters read and flushes
    the previous round's LAZY lineage truncation
    (``truncate_lineage(eager=False)`` — the cut happens at the next
    materialization, so no separate checkpoint job). Peel accounting is
    exact: a second level is only unrolled while ``max_rounds`` allows
    it, so the raise-on-exhaustion contract is unchanged.

    ``edges_unique=True`` (round 16) asserts the input already holds each
    undirected edge exactly once (no duplicate pair in either
    orientation) — e.g. a ``groupBy(a, b)`` output with ``a < b`` — and
    skips the defensive ``distinct()`` (a full shuffle of the edge list)
    the generic contract needs, since degrees count DISTINCT neighbours.

    Returns the surviving (node, degree) rows. Lineage is truncated per
    round (materialize.py) — the standard guard for iterative plans.
    """
    e = edges.select(F.col(src).alias("a"), F.col(dst).alias("b")).filter(
        F.col("a") != F.col("b")
    )
    sym = e.unionByName(
        e.select(F.col("b").alias("a"), F.col("a").alias("b"))
    )
    if not edges_unique:
        sym = sym.distinct()
    sym = truncate_lineage(sym, eager=False)

    def peel_level(edges_sym: DataFrame):
        """One peel level's pieces: pinned degree table, survivor rows,
        induced edge list, and the dropped-count aggregate (1 row)."""
        deg = materialize_small(
            edges_sym.groupBy(F.col("a").alias("node")).agg(
                F.count(F.lit(1)).alias("degree")
            )
        )
        survivors = deg.filter(F.col("degree") >= k)
        keep = survivors.select(F.col("node"))
        induced = edges_sym.join(
            keep.withColumnRenamed("node", "a"), "a", "semi"
        ).join(keep.withColumnRenamed("node", "b"), "b", "semi")
        dropped = deg.agg(
            F.sum((F.col("degree") < k).cast("long")).alias("d")
        )
        return survivors, induced, dropped

    peels_done = 0
    while peels_done < max_rounds:
        s1, sym1, d1 = peel_level(sym)
        if max_rounds - peels_done >= 2:
            # the round's ONLY action: BOTH levels' dropped-counts in one
            # aggregate, which also populates the level caches and flushes
            # the pending lazy truncation
            s2, sym2, d2 = peel_level(sym1)
            row = d1.select(F.col("d").alias("d1")).crossJoin(
                d2.select(F.col("d").alias("d2"))
            ).collect()[0]
            if not row["d1"]:
                return s1  # fixpoint before level 1 — level 2 was identity
            peels_done += 2
            if not row["d2"]:
                return s2
            sym = truncate_lineage(sym2, eager=False)
        else:  # odd max_rounds remainder: single-level round
            n_dropped = d1.collect()[0]["d"]
            if not n_dropped:
                return s1
            peels_done += 1
            sym = truncate_lineage(sym1, eager=False)
    raise RuntimeError(
        f"k_core did not reach its fixpoint in {max_rounds} rounds; raise "
        "max_rounds — a partially-peeled core overstates graph density"
    )
