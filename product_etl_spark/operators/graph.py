"""Iterative graph operators over edge DataFrames — the
GraphFrames-free versions of the two algorithms a data-curation
pipeline actually reaches for: connected components lives in
``dedup.connected_components`` (duplicate clusters); this module adds
PageRank (authority scoring over link/transition graphs — e.g.
ranking crawl hosts by link authority before sampling, the CommonCrawl
curation recipe) and label propagation (community detection over the
same edges).

Scale shape (both): state is one (node, value) frame partitioned by
node id; each round is join-on-src + groupBy-dst — two hash shuffles
keyed on node id, no driver-side state beyond the iteration counter,
``localCheckpoint`` per round to cut the growing lineage exactly like
``connected_components``. Rounds are O(diameter)/O(n_iters), each a
constant number of stages regardless of graph size.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def pagerank(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    n_iters: int = 10,
    damping: float = 0.85,
    weight: str | None = None,
) -> DataFrame:
    """Weighted PageRank: (node, rank), sum(rank) == n_nodes.

    Standard power iteration: each round every node distributes
    ``damping * rank`` along its out-edges (proportional to edge
    weight when given) and every node receives ``1 - damping`` base
    rank. Dangling nodes (no out-edges) redistribute their damped
    rank uniformly — the classic correction, computed as a 1-row
    broadcast scalar, so total rank stays exactly n_nodes and the
    result is partitioning-independent.
    """
    w_col = F.col(weight).cast("double") if weight else F.lit(1.0)
    e = edges.select(
        F.col(src).alias("src"), F.col(dst).alias("dst"), w_col.alias("w")
    )
    out_w = e.groupBy("src").agg(F.sum("w").alias("out_w"))
    # Materialize ONCE: e and out_w feed every power-iteration round
    # (and the dangling-mass probe); without the checkpoint each of
    # the n_iters actions re-executes the caller's upstream edge DAG
    # (q114 derives edges from a window over events — 10 re-runs).
    e = (
        e.join(out_w, "src")
        .select("src", "dst", (F.col("w") / F.col("out_w")).alias("share"))
        .localCheckpoint(eager=True)
    )
    out_w = out_w.localCheckpoint(eager=True)
    nodes = (
        e.select(F.col("src").alias("node"))
        .unionByName(e.select(F.col("dst").alias("node")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    n_nodes = nodes.count()
    ranks = nodes.withColumn("rank", F.lit(1.0))
    for _ in range(n_iters):
        contribs = (
            e.join(ranks, e.src == ranks.node)
            .select("dst", (F.col("rank") * F.col("share")).alias("c"))
            .groupBy("dst")
            .agg(F.sum("c").alias("in_rank"))
        )
        # dangling mass: rank held by nodes with no out-edges
        dangling = (
            ranks.join(out_w, ranks.node == out_w.src, "leftanti")
            .agg(F.coalesce(F.sum("rank"), F.lit(0.0)).alias("_d"))
        )
        ranks = (
            nodes.join(contribs, nodes.node == contribs.dst, "left")
            .join(F.broadcast(dangling))
            .select(
                "node",
                (
                    F.lit(1.0 - damping)
                    + F.lit(damping)
                    * (F.coalesce("in_rank", F.lit(0.0)) + F.col("_d") / n_nodes)
                ).alias("rank"),
            )
            .localCheckpoint(eager=True)
        )
    return ranks


def label_propagation(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    n_iters: int = 5,
) -> DataFrame:
    """Community detection by synchronous label propagation:
    (node, label). Each round every node adopts the most frequent
    label among its neighbors (ties broken by the smaller label for
    determinism — synchronous updates + a total tiebreak make the
    result partitioning-independent, unlike the random-order
    asynchronous variant). Node ids must be integral (the tiebreak
    negates the label inside a max-struct).
    """
    e = (
        edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
        .unionByName(edges.select(F.col(dst).alias("a"), F.col(src).alias("b")))
        .distinct()
        # one materialization; every round's join re-reads e
        .localCheckpoint(eager=True)
    )
    labels = (
        e.select(F.col("a").alias("node")).distinct()
        .withColumn("label", F.col("node"))
        .localCheckpoint(eager=True)
    )
    for _ in range(n_iters):
        neigh = (
            e.join(labels, e.b == labels.node)
            .groupBy("a", "label")
            .agg(F.count(F.lit(1)).alias("n"))
        )
        # max(struct(n, negated-label)) picks highest count, then the
        # SMALLEST label among ties; Spark structs compare field-wise
        best = (
            neigh.select("a", "label", "n",
                         (-F.col("label").cast("long")).alias("_neg"))
            .groupBy("a")
            .agg(F.max(F.struct("n", "_neg")).alias("_best"))
            .select(F.col("a").alias("node"),
                    (-F.col("_best._neg")).cast("long").alias("label"))
        )
        labels = best.localCheckpoint(eager=True)
    return labels


def triangle_count(
    edges: DataFrame, src: str = "src", dst: str = "dst"
) -> DataFrame:
    """Global triangle count of the UNDIRECTED graph — 1 row,
    ``n_triangles`` — via the degree-ordered node-iterator algorithm
    (each edge oriented from its lower-(degree, id) endpoint to the
    higher one; every triangle then has exactly one wedge whose two
    oriented edges share a source, closed by a third oriented edge).

    Why degree-ordering instead of plain id-ordering: out-degree
    under this orientation is bounded by O(sqrt(m)) even on power-law
    graphs, so the wedge self-join is O(sum d_out^2) <= O(m^1.5)
    with NO hub blow-up — a celebrity node with 10^6 followers
    contributes wedges at its (tiny) out-degree, not its raw degree.
    The wedge join and the closing semi-join both key on node ids —
    uniform hash shuffles; nothing collects.

    Input edges may be directed/duplicated/self-looped; they are
    canonicalized (self-loops dropped, both directions collapsed)
    first.
    """
    und = (
        edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
        .filter(F.col("a") != F.col("b"))
        .select(
            F.least("a", "b").alias("a"), F.greatest("a", "b").alias("b")
        )
        .distinct()
    )
    deg = (
        und.select(F.col("a").alias("node"))
        .unionAll(und.select(F.col("b").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("deg"))
    )
    da = deg.select(
        F.col("node").alias("a"), F.struct("deg", "node").alias("_ka")
    )
    db = deg.select(
        F.col("node").alias("b"), F.struct("deg", "node").alias("_kb")
    )
    oriented = (
        und.join(da, "a")
        .join(db, "b")
        .select(
            F.when(F.col("_ka") < F.col("_kb"), F.col("a"))
            .otherwise(F.col("b"))
            .alias("u"),
            F.when(F.col("_ka") < F.col("_kb"), F.col("b"))
            .otherwise(F.col("a"))
            .alias("v"),
        )
    )
    o2 = oriented.select(F.col("u").alias("u2"), F.col("v").alias("w"))
    wedges = oriented.join(
        o2, (F.col("u") == F.col("u2")) & (F.col("v") < F.col("w"))
    ).select("v", "w")
    # A wedge (v, w) closes iff v->w or w->v is an oriented edge; the
    # orientation of the closing edge is unknown (it depends on
    # degrees), so probe both canonical directions.
    closing = oriented.select(
        F.least("u", "v").alias("v"), F.greatest("u", "v").alias("w")
    )
    tri = wedges.select(
        F.least("v", "w").alias("v"), F.greatest("v", "w").alias("w")
    ).join(closing, ["v", "w"], "inner")
    return tri.agg(F.count(F.lit(1)).alias("n_triangles"))


def k_core(
    edges: DataFrame,
    k: int,
    src: str = "src",
    dst: str = "dst",
    max_iter: int = 50,
) -> DataFrame:
    """Nodes of the k-CORE: the maximal subgraph where every node has
    degree >= k, computed by iterative peeling (drop all nodes with
    degree < k, recompute degrees on the induced subgraph, repeat to
    the fixpoint). The standard graph-curation gate: in a link or
    co-occurrence graph, low-core nodes are leaves/spam tendrils and
    the dense core is the reusable backbone (2-core drops all trees
    hanging off the graph; higher k isolates communities worth
    keeping). Deterministic — the k-core is unique, so peeling order
    cannot matter (pytest pins this against a brute-force peel).

    Not expressible as a monotone recursive CTE (peeling DELETES
    non-monotonically), so this ships pytest-pinned like the other
    iterative operators pre-q156.

    Output: (id, degree) — the node's degree WITHIN the k-core.

    Scale shape: edges are canonicalized undirected once; each round
    is one symmetric degree groupBy + two semi-joins to induce the
    surviving subgraph — shuffles bounded by the (shrinking) edge
    frame, localCheckpoint per round cuts lineage. Rounds are
    bounded by the peeling depth (degeneracy ordering length /
    batch peel: all sub-k nodes drop together each round, so depth
    is the number of 'onion layers', typically << n). Raises
    RuntimeError if ``max_iter`` rounds end while nodes still drop."""
    und = (
        edges.select(
            F.least(F.col(src), F.col(dst)).alias("u"),
            F.greatest(F.col(src), F.col(dst)).alias("v"),
        )
        .filter(F.col("u") != F.col("v"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    for _ in range(max_iter):
        sym = und.unionByName(
            und.select(F.col("v").alias("u"), F.col("u").alias("v"))
        )
        deg = sym.groupBy("u").agg(F.count(F.lit(1)).alias("degree"))
        keep = deg.filter(F.col("degree") >= k).select("u")
        pruned = (
            und.join(keep, "u", "left_semi")
            .join(
                keep.select(F.col("u").alias("v")), "v", "left_semi"
            )
            .localCheckpoint(eager=True)
        )
        dropped = und.count() - pruned.count()
        und = pruned
        if dropped == 0:
            break
    else:
        raise RuntimeError(
            f"k_core: still peeling after max_iter={max_iter} rounds; "
            "raise max_iter"
        )
    sym = und.unionByName(
        und.select(F.col("v").alias("u"), F.col("u").alias("v"))
    )
    return (
        sym.groupBy("u")
        .agg(F.count(F.lit(1)).alias("degree"))
        .filter(F.col("degree") >= k)
        .select(F.col("u").alias("id"), "degree")
    )
