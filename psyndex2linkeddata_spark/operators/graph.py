"""Link-graph analytics: fixed-point PageRank over a DataFrame edge list.

A web-corpus pipeline ranks hosts/pages by link authority (crawl
prioritization, quality priors for data selection à la CCNet/RefinedWeb
domain weighting). Spark has no built-in graph engine; this is the same
driver-loop shape as operators/components._connected_components_loop
(connected_components' over-budget fallback) — Catalyst cannot express
iteration, so each superstep is one declarative join+groupBy round with
lazy localCheckpoint lineage truncation.

Determinism contract (what lets a DuckDB oracle replay it bit-exactly):
ranks are SCALED BIGINTS (fixed point at 1/scale resolution, default
1e-9), every division is integer floor division, and all per-node sums
are order-independent integer adds. Floating-point PageRank differs in
the last ulps between engines (summation order); fixed point does not.
Semantics: the "simplified" PageRank variant — dangling-node mass is NOT
redistributed (it decays), exactly as in the original Brin & Page
formulation before the stochastic-matrix patch; documented and mirrored
by the oracle.

Scale notes: each iteration shuffles once on dst (contribution sum) and
once on node (the left join back to the node set). Hub pages with huge
in-degree are map-side-combined (integer sum is a partial agg); hub
OUT-degree nodes fan out contributions but each edge row computes its
contribution narrowly from the joined (rank, outdeg). The node set and
degree table are computed once and reused across supersteps.

Session hygiene: every round's localCheckpoint leaves an RDD block in
JVM storage that `clearCache` does NOT release. In a long-lived session
mixing iterative and scan-heavy jobs, unpersist finished checkpoints
between jobs (`for r in sc._jsc.getPersistentRDDs().values():
r.unpersist()` — as bench.py does); leaked blocks measured a 2-3×
slowdown on subsequent memory-hungry stages.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

__all__ = ["pagerank", "hits", "pred_stats", "characteristic_sets"]


def pred_stats(triples: DataFrame) -> DataFrame:
    """Per-predicate statistics of a triples table: (pred, n_triples,
    n_subj, n_obj) — the first thing an RDF store's optimizer (and a KG
    data card) wants. One uniform groupBy on pred; distinct counts are
    exact (count distinct inside the aggregate, not approx) so the
    driver oracle can replay them."""
    return triples.groupBy("pred").agg(
        F.count(F.lit(1)).alias("n_triples"),
        F.countDistinct("subj").alias("n_subj"),
        F.countDistinct("obj").alias("n_obj"),
    )


def characteristic_sets(triples: DataFrame) -> DataFrame:
    """Characteristic sets (Neumann & Moerkotte, ICDE 2011): group
    subjects by their exact predicate set — the structure statistic RDF
    optimizers use for star-join cardinality, and a schema profile of an
    emitted KG ("how many entities look like X"). Two shuffles, both on
    uniform keys: subj (set assembly) then the set itself (counting).
    The set is canonicalized as a sorted comma-join so engines agree on
    grouping and ordering."""
    sets = triples.groupBy("subj").agg(
        F.concat_ws(",", F.array_sort(F.collect_set("pred"))).alias("pred_set")
    )
    return sets.groupBy("pred_set").agg(F.count(F.lit(1)).alias("n_subjects"))


def pagerank(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    n_iter: int = 10,
    damping_pct: int = 85,
    scale: int = 10**9,
    redistribute_dangling: bool = False,
) -> DataFrame:
    """(node, rank_scaled) after `n_iter` supersteps. rank_scaled is the
    PageRank value times `scale`, floored — sum over nodes ≤ scale
    (strictly less when floor loss / dangling decay occurs).

    damping_pct is the damping factor in percent (85 = the classic 0.85)
    so the teleport and damping terms stay in integer arithmetic.

    redistribute_dangling=True selects the full stochastic-matrix
    variant: each superstep sums the rank sitting on sink nodes (no
    out-edges) and spreads its damped share uniformly — the standard
    Pregel-style scalar aggregator, one one-row driver action per
    superstep (floor division keeps it engine-exact). Default False =
    the simplified variant (dangling mass decays), which is what the
    driver oracle replays.
    """
    e = edges.select(F.col(src).alias("src"), F.col(dst).alias("dst")).where(
        F.col("src").isNotNull() & F.col("dst").isNotNull()
    ).distinct()
    e = e.localCheckpoint()

    nodes = (
        e.select(F.col("src").alias("node"))
        .union(e.select(F.col("dst").alias("node")))
        .distinct()
        .localCheckpoint()
    )
    n = nodes.count()
    if n == 0:
        return nodes.withColumn("rank_scaled", F.lit(0).cast("bigint"))

    # out-degree is folded into the edge table ONCE — one fewer join per
    # superstep (the degree count shuffles on src a single time here)
    deg = e.groupBy("src").agg(F.count(F.lit(1)).alias("outdeg"))
    e_deg = e.join(deg, "src").localCheckpoint()

    base = (scale * (100 - damping_pct)) // 100 // n
    ranks = nodes.withColumn("rank_scaled", F.lit(scale // n).cast("bigint"))

    dangling = (
        nodes.join(deg.select(F.col("src").alias("node")), "node", "left_anti")
        .localCheckpoint()
        if redistribute_dangling
        else None
    )

    for _ in range(n_iter):
        contrib = (
            e_deg.join(ranks, e_deg["src"] == ranks["node"])
            .select(
                F.col("dst").alias("node"),
                F.expr("rank_scaled div outdeg").alias("c"),
            )
            .groupBy("node")
            .agg(F.sum("c").alias("s"))
        )
        share = 0
        if dangling is not None:
            dsum = (
                ranks.join(dangling, "node", "left_semi")
                .agg(F.coalesce(F.sum("rank_scaled"), F.lit(0)).alias("d"))
                .collect()[0]["d"]
            )
            share = (damping_pct * int(dsum)) // 100 // n
        ranks = nodes.join(contrib, "node", "left").select(
            "node",
            (
                F.lit(base + share).cast("bigint")
                + F.expr(f"({damping_pct} * coalesce(s, 0L)) div 100")
            ).alias("rank_scaled"),
        )
        ranks = ranks.localCheckpoint(eager=False)
    return ranks


def hits(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    n_iter: int = 10,
    scale: int = 10**9,
) -> DataFrame:
    """Kleinberg's HITS: (node, hub_scaled, auth_scaled) after `n_iter`
    supersteps. auth(v) ← Σ hub(in-neighbors); hub(v) ← Σ auth(out-
    neighbors); each half-step renormalizes so the vector sums to
    `scale` (the l1 norm — division is integer floor, so scores are
    engine-exact like pagerank's fixed point). The norm is a Pregel-
    style scalar aggregator: one one-row driver action per half-step.

    Each superstep is two edge joins + two uniform groupBys; hot hub/
    authority nodes are map-side-combined integer sums.
    """
    e = edges.select(F.col(src).alias("src"), F.col(dst).alias("dst")).where(
        F.col("src").isNotNull() & F.col("dst").isNotNull()
    ).distinct().localCheckpoint()
    nodes = (
        e.select(F.col("src").alias("node"))
        .union(e.select(F.col("dst").alias("node")))
        .distinct()
        .localCheckpoint()
    )
    n = nodes.count()
    if n == 0:
        return nodes.withColumn("hub_scaled", F.lit(0).cast("bigint")).withColumn(
            "auth_scaled", F.lit(0).cast("bigint")
        )

    def _normalize(scores: DataFrame, col: str) -> DataFrame:
        # no int64 overflow: the previous vector's l1 norm is ≤ scale
        # after each normalization, any node's summed score is ≤ that
        # total, so value * scale ≤ scale² = 1e18 < 2^63-1.
        # lazy-checkpoint BEFORE the sum: the aggregate materializes the
        # half-step once and the normalize projection reads the
        # materialized RDD instead of re-running the join+groupBy
        scores = scores.localCheckpoint(eager=False)
        total = scores.agg(F.coalesce(F.sum(col), F.lit(0))).collect()[0][0]
        if not total:
            return scores
        return scores.select(
            "node",
            F.expr(f"{col} * {scale} div {int(total)}").alias(col),
        )

    hub = nodes.withColumn("hub_scaled", F.lit(scale // n).cast("bigint"))
    # initialize auth like hub so hits(n_iter=0) returns the uniform
    # starting vectors instead of crashing on a None join — matching
    # pagerank's graceful handling of the degenerate case
    auth = nodes.withColumn("auth_scaled", F.lit(scale // n).cast("bigint"))
    for _ in range(n_iter):
        auth = (
            nodes.join(
                e.join(hub, e["src"] == hub["node"])
                .groupBy(F.col("dst").alias("node"))
                .agg(F.sum("hub_scaled").alias("auth_scaled")),
                "node",
                "left",
            )
            .select(
                "node",
                F.coalesce("auth_scaled", F.lit(0)).cast("bigint").alias("auth_scaled"),
            )
        )
        auth = _normalize(auth, "auth_scaled").localCheckpoint(eager=False)
        hub = (
            nodes.join(
                e.join(auth, e["dst"] == auth["node"])
                .groupBy(F.col("src").alias("node"))
                .agg(F.sum("auth_scaled").alias("hub_scaled")),
                "node",
                "left",
            )
            .select(
                "node",
                F.coalesce("hub_scaled", F.lit(0)).cast("bigint").alias("hub_scaled"),
            )
        )
        hub = _normalize(hub, "hub_scaled").localCheckpoint(eager=False)
    return nodes.join(hub, "node", "left").join(auth, "node", "left").select(
        "node",
        F.coalesce("hub_scaled", F.lit(0)).cast("bigint").alias("hub_scaled"),
        F.coalesce("auth_scaled", F.lit(0)).cast("bigint").alias("auth_scaled"),
    )
