"""Graph algorithms as DataFrame algebra.

Connected components lives in ``operators/dedup.py`` (it is the dedup
clustering step); this module holds the rest, starting with PageRank — the
second iterative algorithm in the catalog after k-means, built on the same
exact-arithmetic discipline so an iterative algorithm gets a full
value-hash oracle instead of the rows-only check iteration usually forces.

Reference parity note: the reference viewer (claudiofsr/polars-view) has no
graph operators; this extends the engine along the large-scale
training-data axis the build brief calls for (link-graph quality signals —
PageRank over a domain graph is the classic crawl-prioritization /
source-quality feature).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

PAGERANK_SCALE = 1_000_000


def pagerank(
    edges: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
    weight_col: str | None = None,
    damping: float = 0.85,
    iterations: int = 3,
    scale: int = PAGERANK_SCALE,
) -> DataFrame:
    """Weighted PageRank over an edge list, exact enough to value-hash
    against an ANSI-SQL replay.

    Every rank is an integer in ``scale`` micro-units and every iteration
    applies the same two SQL ``round`` steps on both engines:

    - per-edge contribution ``round(rank_u · w_uv / outw_u)`` — BIGINT
      operands, one double division, one half-away-from-zero round;
    - per-node update ``round((1−d)·scale/N + d·Σ contributions)`` — the
      Σ is an integer sum (exact in any accumulation order, the property
      that makes the hash stable across partitionings), and the outer
      doubles see identical operand values on both engines.

    Dangling mass (nodes with no out-edges) is dropped rather than
    redistributed — replicated identically in the oracle; rank ORDER is
    unaffected for the connected trade graphs this is used on.

    Scale shape: the edge list is aggregated ONCE by the caller; per
    iteration this is one (src) hash join rank→edges, one (dst) groupBy —
    two shuffles over the EDGE list, with the rank table broadcast when
    small.  Driver state is O(1): only the node count crosses over (a
    literal in the update expression).  Overflow bound: ``N · scale ·
    max_edge_weight < 2⁶³`` (documented for callers raising ``scale``).

    Returns ``(v, rank)`` with rank in micro-units.
    """
    w = F.col(weight_col) if weight_col else F.lit(1)
    # lazy (r11): the nodes checkpoint below is the one stage that reads
    # it before its blocks exist (fills.py)
    e = edges.select(
        F.col(src_col).alias("src"), F.col(dst_col).alias("dst"), w.alias("w")
    ).localCheckpoint(eager=False)
    # the node count rides the checkpoint job as an observed metric
    # (r11): the old standalone nodes.count() re-read the fresh
    # checkpoint purely to count it — one fewer job barrier, same value
    from pyspark.sql import Observation

    obs = Observation()
    nodes = (
        e.select(F.col("src").alias("v"))
        .union(e.select(F.col("dst").alias("v")))
        .distinct()
        .observe(obs, F.count(F.lit(1)).alias("n"))
        .localCheckpoint(eager=True)
    )
    n_nodes = int(obs.get["n"])
    if n_nodes == 0:
        raise ValueError("pagerank: empty graph")
    # checkpointed like e/nodes: otherwise every iteration's plan
    # re-executes this groupBy over the full edge list — an extra
    # edge-list shuffle per iteration beyond the documented two.  Lazy
    # (r11): iteration 1's ranks checkpoint is its one consumer stage.
    outw = e.groupBy("src").agg(F.sum("w").alias("ow")).localCheckpoint(eager=False)

    # the update expression stays ENTIRELY in SQL, with (1.0 - d) written
    # out rather than pre-computed in Python: 1.0 - 0.85 and the literal
    # 0.15 are DIFFERENT doubles, and the oracle must replay the identical
    # operand values (it spells the same (1.0 - d) text)
    update = (
        f"CAST(round((1.0 - {damping!r}) * {scale} / {n_nodes} + "
        f"{damping!r} * coalesce(inflow, 0L)) AS BIGINT)"
    )
    ranks = nodes.withColumn("rank", F.lit(scale).cast("long"))
    for _ in range(iterations):
        inflow = (
            e.join(ranks, e.src == ranks.v)
            .join(outw, "src")
            .select(
                "dst",
                F.expr("CAST(round(rank * w * 1.0 / ow) AS BIGINT)").alias("c"),
            )
            .groupBy("dst")
            .agg(F.sum("c").alias("inflow"))
        )
        ranks = (
            nodes.join(inflow, nodes.v == inflow.dst, "left")
            .select("v", F.expr(update).alias("rank"))
            .localCheckpoint(eager=True)
        )
    return ranks


def label_propagation(
    edges: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
    weight_col: str | None = None,
    iterations: int = 3,
) -> DataFrame:
    """Deterministic synchronous weighted label propagation (community
    detection, Raghavan et al. 2007 made order-free): labels start as the
    node id; each iteration EVERY node simultaneously adopts the neighbor
    label with the greatest incident weight sum, ties broken toward the
    SMALLEST label — no RNG, no visit order, so the trajectory is exact
    and value-hash-oracle-able like pagerank's.  Self-loops are ignored
    (a node never votes for itself); the graph is treated as undirected
    (each edge votes both ways).  Returns ``(v, label)``.

    Scale shape: one iteration = one edges⋈labels hash join + one
    (node, label) weight aggregate + one argmax aggregate — all keyed on
    node id, so successive iterations reuse the same partitioning, and
    per-iteration state is the O(nodes) label frame (never materialized
    on the driver).  The collapsed edge frame and each round's label
    frame are localCheckpoint-pinned (the kmeans discipline): without
    the pin, round t's plan re-derives the edge construction O(2^t)
    times — measured as a >100x blowup at sf0.1 on the trade graph —
    because both the vote join and the node fallback reference it.
    """
    w = F.col(weight_col).cast("long") if weight_col else F.lit(1).cast("long")
    directed = edges.filter(F.col(src_col) != F.col(dst_col)).select(
        F.col(src_col).alias("a"), F.col(dst_col).alias("b"), w.alias("w")
    )
    und = (
        directed.unionAll(directed.select(F.col("b").alias("a"), F.col("a").alias("b"), "w"))
        .groupBy("a", "b")
        .agg(F.sum("w").alias("w"))
        .localCheckpoint(eager=True)
    )
    nodes = und.select(F.col("a").alias("v")).distinct()
    labels = nodes.select("v", F.col("v").alias("label"))
    for _ in range(iterations):
        votes = (
            und.join(labels, und["b"] == labels["v"])
            .groupBy(und["a"].alias("nv"), F.col("label").alias("nl"))
            .agg(F.sum("w").alias("s"))
        )
        best = (
            votes.groupBy("nv")
            .agg(
                F.max(
                    F.struct(F.col("s").alias("s"), (-F.col("nl")).alias("neg"))
                ).alias("m")
            )
            .select(F.col("nv").alias("v"), (-F.col("m.neg")).alias("label"))
        )
        # every node has >= 1 neighbor by construction (nodes derive from
        # edges), so the fallback never fires today — but standard sync-LPA
        # keeps the PREVIOUS round's label when a node receives no votes,
        # so carry labels (not the original id) through the coalesce
        labels = (
            labels.join(best.withColumnRenamed("label", "new_label"), "v", "left")
            .select("v", F.coalesce("new_label", "label").alias("label"))
            .localCheckpoint(eager=True)
        )
    return labels
