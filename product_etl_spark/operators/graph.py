"""Graph operators over edge DataFrames — the GraphFrames-free
versions of the two a data-curation pipeline runs besides duplicate
clustering (``dedup.connected_components``, the one fixpoint loop):

- ``pagerank``: authority scoring over link/transition graphs (q114),
  e.g. ranking crawl hosts by link authority before sampling, the
  CommonCrawl curation recipe. A fixed ``n_iters`` power iteration,
  not a fixpoint: it needs no convergence test and has no cap to hit.
  State is one (node, rank) frame partitioned by node id; each round
  is join-on-src + groupBy-dst, two hash shuffles keyed on node id,
  with ``localCheckpoint`` per round to cut the growing lineage.
- ``triangle_count``: one-pass degree-ordered wedge count (q141).
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

