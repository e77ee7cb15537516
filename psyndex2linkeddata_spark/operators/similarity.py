"""Similarity search over embedding columns (array<float>).

- brute-force cosine top-k: the correctness baseline. Query side is
  broadcast (queries ≪ corpus); the dot product is a native zip_with/
  aggregate expression (JVM, no Python); top-k via window row_number.
- LSH-bucketed variant: deterministic random-hyperplane signatures
  (planes derived from md5 of (plane, dim) — no RNG, reproducible across
  runs and engines), candidates restricted to matching buckets. At
  10^12 vectors the bucket join replaces the full cross product; recall
  is tuned by n_planes/n_tables.

embedding near-dup (dedup §) reuses cosine_pairs with a threshold.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import Column, DataFrame, Window, functions as F


def dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def norm(a: Column) -> Column:
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, x: acc + x * x))


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (norm(a) * norm(b))


def cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Brute-force top-k: (query_id, vec_id, cos) with rank ≤ k per query.

    queries is broadcast → the 'join' is a map-side nested loop over each
    corpus partition; the only shuffle is the per-query top-k window
    (partitioned by query_id — uniform).

    Norms are staged once per corpus row and once per broadcast query —
    per (row, query) only the dot product is folded; dot/(nv·nq) is the
    identical double arithmetic to cosine(v, q), just not re-deriving
    the per-vector norms |queries| and |corpus| times over."""
    q = F.broadcast(
        queries.select(
            F.col(query_id_col),
            F.col(vec_col).alias("_qvec"),
            norm(F.col(vec_col)).alias("_qn"),
        )
    )
    scored = (
        corpus.withColumn("_vn", norm(F.col(vec_col)))
        .crossJoin(q)
        .select(
            F.col(query_id_col),
            F.col(id_col),
            (
                dot(F.col(vec_col), F.col("_qvec"))
                / (F.col("_vn") * F.col("_qn"))
            ).alias("cos"),
        )
    )
    w = Window.partitionBy(query_id_col).orderBy(
        # rank on the DECIMAL(20,10)-quantized cosine: raw-double rank
        # keys let last-ulp cross-engine divergence flip near-tie ranks
        # (caught by the driver hash gate on the fused RRF consumer);
        # at a 1e-10 grain both engines see identical keys
        F.col("cos").cast("decimal(20,10)").desc(), F.col(id_col).asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(query_id_col, id_col, "cos", "rank")
    )


def _plane_weight(plane: int, dim: int) -> float:
    """Deterministic pseudo-random hyperplane weight in [-1, 1)."""
    h = hashlib.md5(f"{plane}:{dim}".encode()).hexdigest()
    return int(h[:8], 16) / float(1 << 31) - 1.0


def hyperplane_signature(vec: Column, dims: int, n_planes: int = 8) -> Column:
    """Sign-bit LSH signature string, e.g. '10110100'."""
    return hyperplane_signature_offset(vec, dims, n_planes, plane_offset=0)


def hyperplane_signature_offset(
    vec: Column, dims: int, n_planes: int = 8, plane_offset: int = 0
) -> Column:
    """Sign-bit LSH signature using planes [offset, offset+n_planes) —
    distinct offsets give independent LSH tables."""
    bits = []
    for p in range(plane_offset, plane_offset + n_planes):
        weights = [_plane_weight(p, d) for d in range(dims)]
        s = F.aggregate(
            F.zip_with(
                vec,
                F.array(*[F.lit(w) for w in weights]),
                lambda x, w: x * w,
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        bits.append(F.when(s >= 0, F.lit("1")).otherwise(F.lit("0")))
    return F.concat(*bits)


def lsh_cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    dims: int,
    k: int = 10,
    n_planes: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Scale path: exact cosine only within the query's LSH bucket.

    corpus is signed once (narrow), the join shuffles on the signature —
    2^n_planes buckets, uniform for centered data. Recall < 1 by design;
    raise n_tables (union over several plane seeds) for higher recall."""
    sig_c = corpus.select(
        F.col(id_col),
        F.col(vec_col),
        hyperplane_signature(F.col(vec_col), dims, n_planes).alias("sig"),
        # norms staged once per side — the bucket-join pair expression
        # folds only the dot product (identical double arithmetic)
        norm(F.col(vec_col)).alias("_vn"),
    )
    sig_q = F.broadcast(
        queries.select(
            F.col(query_id_col),
            F.col(vec_col).alias("_qvec"),
            hyperplane_signature(F.col(vec_col), dims, n_planes).alias("sig"),
            norm(F.col(vec_col)).alias("_qn"),
        )
    )
    scored = sig_c.join(sig_q, "sig").select(
        F.col(query_id_col),
        F.col(id_col),
        (
            dot(F.col(vec_col), F.col("_qvec")) / (F.col("_vn") * F.col("_qn"))
        ).alias("cos"),
    )
    w = Window.partitionBy(query_id_col).orderBy(
        # rank on the DECIMAL(20,10)-quantized cosine: raw-double rank
        # keys let last-ulp cross-engine divergence flip near-tie ranks
        # (caught by the driver hash gate on the fused RRF consumer);
        # at a 1e-10 grain both engines see identical keys
        F.col("cos").cast("decimal(20,10)").desc(), F.col(id_col).asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(query_id_col, id_col, "cos", "rank")
    )


def cosine_pairs(
    df: DataFrame,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Embedding near-duplicate pairs (id_a < id_b, cos ≥ threshold).

    Brute force (small scale); at 10^12 rows use hyperplane buckets first
    (join on `sig` like lsh_cosine_topk) — O(n²/2^planes). Norms are
    staged once per row, not refolded per pair (same double ops)."""
    a = df.select(
        F.col(id_col).alias("id_a"),
        F.col(vec_col).alias("_va"),
        norm(F.col(vec_col)).alias("_na"),
    )
    b = df.select(
        F.col(id_col).alias("id_b"),
        F.col(vec_col).alias("_vb"),
        norm(F.col(vec_col)).alias("_nb"),
    )
    return (
        a.join(b, F.col("id_a") < F.col("id_b"))
        .select(
            "id_a",
            "id_b",
            (
                dot(F.col("_va"), F.col("_vb")) / (F.col("_na") * F.col("_nb"))
            ).alias("cos"),
        )
        .where(F.col("cos") >= threshold)
    )


def lsh_cosine_pairs(
    df: DataFrame,
    dims: int,
    threshold: float = 0.95,
    n_planes: int = 8,
    n_tables: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Near-duplicate pairs via hyperplane-LSH bucketing — the scale path
    for `cosine_pairs` (which is an all-pairs cross join).

    Each table t signs every vector with planes [t*n_planes, (t+1)*n_planes)
    (deterministic md5-derived weights — reproducible across runs and
    engines); candidate pairs share a bucket in ≥1 table. The join shuffles
    on (table, sig) — 2^n_planes buckets per table, uniform for centered
    data. Recall < 1 by design; raise n_tables for higher recall (cost:
    one extra shuffle-sized candidate set per table, deduped by pair)."""
    parts = []
    for t in range(n_tables):
        sig = df.select(
            F.col(id_col),
            F.col(vec_col),
            hyperplane_signature_offset(
                F.col(vec_col), dims, n_planes, plane_offset=t * n_planes
            ).alias("sig"),
            # norm staged once per row — per candidate pair only the dot
            # product is folded (identical double arithmetic)
            norm(F.col(vec_col)).alias("_n"),
        )
        a = sig.select(
            F.col(id_col).alias("id_a"),
            F.col(vec_col).alias("_va"),
            F.col("_n").alias("_na"),
            "sig",
        )
        b = sig.select(
            F.col(id_col).alias("id_b"),
            F.col(vec_col).alias("_vb"),
            F.col("_n").alias("_nb"),
            "sig",
        )
        parts.append(
            a.join(b, "sig")
            .where(F.col("id_a") < F.col("id_b"))
            .select(
                "id_a",
                "id_b",
                (
                    dot(F.col("_va"), F.col("_vb"))
                    / (F.col("_na") * F.col("_nb"))
                ).alias("cos"),
            )
            .where(F.col("cos") >= threshold)
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    # a pair can surface in several tables; cos is deterministic per pair
    return out.dropDuplicates(["id_a", "id_b"]) if n_tables > 1 else out


# ---------------------------------------------------------------------------
# IVF (inverted-file) ANN — the coarse-quantizer scale path
# ---------------------------------------------------------------------------


def _seed_rank(id_col: str) -> Column:
    """Deterministic pseudo-random rank for seed selection: md5 of the id's
    decimal string — engine-, partitioning- and insertion-order-independent
    (the DuckDB oracle replays it as md5(vec_id::VARCHAR))."""
    return F.md5(F.col(id_col).cast("string").cast("binary"))


def ivf_centroids(
    corpus: DataFrame,
    n_cells: int,
    refine_iters: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(cell:int, centroid:array<double>) — deterministic k-means-style
    coarse quantizer for `ivf_topk`.

    Seeds are the n_cells corpus vectors with the smallest md5(id) (a
    layout-independent pseudo-random sample); each Lloyd refinement
    assigns every vector to its nearest seed by cosine and replaces the
    centroid with the element-wise SUM of its members. Using the sum
    instead of the mean keeps the refinement exactly reproducible across
    engines and run-to-run partitionings: cosine is invariant to positive
    scaling of the centroid (sum = n·mean), and the sum is computed over
    decimal(28,10) casts, whose aggregation is exact and therefore
    independent of row order — a double sum would drift in the low bits
    with the shuffle layout and could flip a rounded similarity.

    Scale shape: seeds/centroids are tiny (n_cells rows) and broadcast;
    the assignment pass is a narrow map over the corpus (n_cells
    comparisons per row, no shuffle); the per-cell sum is one
    posexplode + groupBy(cell, pos) aggregation — n_cells × dims groups,
    uniform by construction."""
    w_rank = Window.orderBy("_rk")
    cents = (
        corpus.select(F.col(vec_col), _seed_rank(id_col).alias("_rk"))
        .orderBy("_rk")
        .limit(n_cells)
        .withColumn("cell", F.row_number().over(w_rank) - F.lit(1))
        .select("cell", F.col(vec_col).cast("array<double>").alias("centroid"))
    )
    for _ in range(refine_iters):
        assigned = assign_cells(corpus, cents, id_col=id_col, vec_col=vec_col)
        cents = (
            assigned.select(
                "cell", F.posexplode(F.col(vec_col).cast("array<double>"))
            )
            .select("cell", "pos", F.col("col").cast("decimal(28,10)").alias("v"))
            .groupBy("cell", "pos")
            .agg(F.sum("v").alias("s"))
            .groupBy("cell")
            .agg(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "s"))),
                    lambda st: st["s"].cast("double"),
                ).alias("centroid")
            )
        )
    return cents


def assign_cells(
    corpus: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """corpus + `cell` = argmax-cosine centroid (ties → lowest cell).

    r06: the per-(row, cell) scoring runs as one numpy gemm per Arrow
    batch (mapInPandas; the centroid table — n_cells × dims, tiny by
    construction — is collected once and closed over), replacing the
    crossJoin + interpreted-HOF dot fold that dominated semantic_dedup
    and ivf training (measured 6.2s → sub-second per assignment pass at
    20k × 64-dim × 32 cells). Gate-exactness uses the
    semantic_pairs_arrow recipe: a row keeps its gemm argmax only when
    the runner-up is more than `boundary_eps` behind (BLAS-vs-
    sequential error ≲1e-12, orders below the 1e-6 margin); rows with a
    closer race — or any non-finite cosine — are re-decided with the
    exact sequential double arithmetic of the previous JVM expression
    (left-fold dot / sqrt-fold norms, max_by(cos, -cell) semantics
    including NaN-greatest and smallest-cell ties), so the assignment
    equals the native plan bit-for-bit and stays DuckDB-replayable."""
    return _assign_cells_arrow(corpus, centroids, id_col, vec_col)


def _assign_cells_native(
    corpus: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """The all-JVM expression form of assign_cells (kept as the
    cross-check / fallback): broadcast centroids, per-(row, cell) dot
    fold, max_by(cell, (cos, -cell)) under a groupBy on the unique id.
    Norms are staged once per side so the per-pair work is only the dot
    product — bit-identical to cosine(v, cv)."""
    c = F.broadcast(
        centroids.select(
            "cell",
            F.col("centroid").alias("_cv"),
            norm(F.col("centroid")).alias("_cn"),
        )
    )
    scored = (
        corpus.withColumn("_vd", F.col(vec_col).cast("array<double>"))
        .withColumn("_vn", norm(F.col("_vd")))
        .crossJoin(c)
        .withColumn(
            "_cos", dot(F.col("_vd"), F.col("_cv")) / (F.col("_vn") * F.col("_cn"))
        )
    )
    return scored.groupBy(id_col, vec_col).agg(
        F.max_by(
            F.col("cell"), F.struct(F.col("_cos"), (-F.col("cell")).alias("_nc"))
        ).alias("cell")
    )


def _assign_cells_arrow(
    corpus: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    boundary_eps: float = 1e-6,
) -> DataFrame:
    """Vectorized assign_cells kernel — see assign_cells docstring for
    the exactness contract."""
    import math

    import pandas as pd

    rows = sorted(
        ((r["cell"], list(r["centroid"])) for r in centroids.collect()),
        key=lambda t: t[0],
    )
    cells = [c for c, _ in rows]
    cmat = [v for _, v in rows]

    def _exact_cell(v) -> int:
        # replay of the JVM max_by((cos, -cell)) fold: sequential dot and
        # sum-of-squares, NaN compares greatest, ties -> smallest cell
        best_cell, best_cos = None, None
        nv = 0.0
        for x in v:
            nv = nv + float(x) * float(x)
        nv = math.sqrt(nv)
        for ci, cv in zip(cells, cmat):
            acc = 0.0
            nc = 0.0
            for k in range(len(cv)):
                acc = acc + float(v[k]) * float(cv[k])
                nc = nc + float(cv[k]) * float(cv[k])
            cos = acc / (nv * math.sqrt(nc))
            if best_cell is None:
                best_cell, best_cos = ci, cos
                continue
            # is (cos, -ci) > (best_cos, -best_cell) with NaN greatest?
            a_nan, b_nan = math.isnan(cos), math.isnan(best_cos)
            if a_nan and not b_nan:
                better = True
            elif b_nan and not a_nan:
                better = False
            elif a_nan and b_nan:
                better = False  # equal cos -> larger -cell loses (ci > best)
            else:
                better = cos > best_cos
            if better:
                best_cell, best_cos = ci, cos
        return best_cell

    def _assign(batches):
        import numpy as np

        C = np.asarray(cmat, dtype=np.float64)
        cn = np.linalg.norm(C, axis=1)
        with np.errstate(divide="ignore", invalid="ignore"):
            Cu = C / cn[:, None]
        cell_ids = np.asarray(cells)
        for pdf in batches:
            m = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
            vn = np.linalg.norm(m, axis=1, keepdims=True)
            with np.errstate(divide="ignore", invalid="ignore"):
                s = (m / vn) @ Cu.T
            order = np.argsort(-s, axis=1, kind="stable")
            top = order[:, 0]
            chosen = cell_ids[top]
            if s.shape[1] > 1:
                gap = s[np.arange(len(s)), top] - s[np.arange(len(s)), order[:, 1]]
                unsure = (gap < boundary_eps) | ~np.isfinite(s).all(axis=1)
            else:
                unsure = ~np.isfinite(s[:, 0])
            for i in np.where(unsure)[0]:
                chosen[i] = _exact_cell(pdf[vec_col].iloc[i])
            out = pdf[[id_col, vec_col]].copy()
            out["cell"] = chosen.astype("int64")
            yield out

    vec_t = corpus.schema[vec_col].dataType.simpleString()
    id_t = corpus.schema[id_col].dataType.simpleString()
    return corpus.select(id_col, vec_col).mapInPandas(
        _assign, f"{id_col} {id_t}, {vec_col} {vec_t}, cell int"
    ).withColumn("cell", F.col("cell").cast("int"))


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    n_cells: int = 64,
    n_probes: int = 4,
    k: int = 10,
    refine_iters: int = 1,
    centroids: DataFrame | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """IVF ANN top-k: (query_id, vec_id, cos, rank ≤ k).

    The inverted-file counterpart to `lsh_cosine_topk`: the corpus is
    bucketed once by nearest centroid (narrow pass, see assign_cells);
    each query probes its n_probes closest cells and scans only those
    lists — the candidate join shuffles the corpus on `cell`, so per
    query the scan is ~n_probes/n_cells of the corpus instead of all of
    it. recall < 1 by design, tuned by n_probes. Pass a precomputed
    `centroids` table to amortize training across query batches (the
    10^12-row deployment shape: train once, `assign_cells` result stored
    partitioned by cell)."""
    if centroids is None:
        centroids = ivf_centroids(
            corpus, n_cells, refine_iters=refine_iters, id_col=id_col, vec_col=vec_col
        )
    assigned = assign_cells(corpus, centroids, id_col=id_col, vec_col=vec_col)
    c = F.broadcast(
        centroids.select(
            "cell",
            F.col("centroid").alias("_cv"),
            norm(F.col("centroid")).alias("_cn"),
        )
    )
    wq = Window.partitionBy(query_id_col).orderBy(
        F.col("_cos").desc(), F.col("cell").asc()
    )
    # norms staged once per query / centroid / corpus row — each probe
    # and candidate expression folds only the dot product (identical
    # double arithmetic to the cosine() it replaces)
    probes = (
        queries.select(
            F.col(query_id_col),
            F.col(vec_col).cast("array<double>").alias("_qd"),
        )
        .withColumn("_qn", norm(F.col("_qd")))
        .crossJoin(c)
        .withColumn(
            "_cos", dot(F.col("_qd"), F.col("_cv")) / (F.col("_qn") * F.col("_cn"))
        )
        .withColumn("_rn", F.row_number().over(wq))
        .where(F.col("_rn") <= n_probes)
        .select(query_id_col, "cell", "_qd", "_qn")
    )
    scored = (
        assigned.withColumn("_vd", F.col(vec_col).cast("array<double>"))
        .withColumn("_vn", norm(F.col("_vd")))
        .join(F.broadcast(probes), "cell")
        .select(
            F.col(query_id_col),
            F.col(id_col),
            (
                dot(F.col("_vd"), F.col("_qd")) / (F.col("_vn") * F.col("_qn"))
            ).alias("cos"),
        )
    )
    w = Window.partitionBy(query_id_col).orderBy(
        # rank on the DECIMAL(20,10)-quantized cosine: raw-double rank
        # keys let last-ulp cross-engine divergence flip near-tie ranks
        # (caught by the driver hash gate on the fused RRF consumer);
        # at a 1e-10 grain both engines see identical keys
        F.col("cos").cast("decimal(20,10)").desc(), F.col(id_col).asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(query_id_col, id_col, "cos", "rank")
    )


def semantic_dedup(
    corpus: DataFrame,
    n_cells: int = 16,
    threshold: float = 0.9,
    refine_iters: int = 1,
    centroids: DataFrame | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    scorer: str = "arrow",
) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023,
    arXiv:2303.09540): quantize the corpus into IVF cells, find
    within-cell pairs with cosine ≥ threshold, close them transitively,
    and keep ONE representative per cluster — per the paper's rule, the
    member LEAST similar to its cell centroid (it preserves the most
    diversity), with the id as the deterministic tie-break.

    Returns (id, cluster_id, canonical_id, is_canonical) for every input
    vector; `where is_canonical` is the keep-filter.

    Scale shape: the quadratic part is confined to cells (the paper's
    own approximation — cross-cell near-dups are deliberately missed, so
    recall is tuned by n_cells): the pair join shuffles on `cell`, and a
    cell of k vectors contributes k² candidate rows — size n_cells so
    that corpus/n_cells stays bounded (SemDeDup uses ~0.1% of corpus
    size). Centroid training is the deterministic exact-decimal Lloyd
    step of ivf_centroids (broadcast centroids, narrow assignment);
    pass a precomputed `centroids` table to amortize across corpus
    slices. The closure runs over above-threshold pairs only.

    scorer='arrow' (default) runs the quadratic stage as the per-cell
    numpy matmul kernel (semantic_pairs_arrow) — the deployment path at
    real cell sizes, and gate-exact: threshold-boundary pairs are
    re-decided with the native scorer's exact sequential arithmetic, so
    the pair set equals scorer='native' (the all-JVM expression path,
    kept as the cross-check) bit-for-bit."""
    from psyndex2linkeddata_spark.operators.components import connected_components

    if scorer not in ("native", "arrow"):
        raise ValueError(
            f"scorer must be 'native' or 'arrow', got {scorer!r}"
        )
    if centroids is None:
        centroids = ivf_centroids(
            corpus, n_cells, refine_iters=refine_iters, id_col=id_col, vec_col=vec_col
        )
    # materialize the quantizer (n_cells rows): it is consumed by the
    # assignment, the _ccos projection and the broadcast below, and
    # recomputing the Lloyd training per consumer triples the cost
    centroids = centroids.localCheckpoint(eager=True)
    assigned = assign_cells(corpus, centroids, id_col=id_col, vec_col=vec_col)
    c = F.broadcast(
        centroids.select(
            "cell",
            F.col("centroid").alias("_cv"),
            norm(F.col("centroid")).alias("_cn"),
        )
    )
    # per-row norm staged ONCE: the pair predicate then evaluates only the
    # dot product — dot/(na·nb) is the exact same double arithmetic as
    # cosine(va, vb) (norms are per-vector values), at a third of the
    # interpreted-HOF traversals per candidate pair (the quadratic part);
    # the centroid norm is likewise staged in the broadcast dim, not
    # refolded per corpus row
    withc = assigned.join(c, "cell").select(
        F.col(id_col),
        F.col(vec_col).cast("array<double>").alias(vec_col),
        F.col("cell"),
        (
            dot(F.col(vec_col).cast("array<double>"), F.col("_cv"))
            / (norm(F.col(vec_col).cast("array<double>")) * F.col("_cn"))
        ).alias("_ccos"),
        norm(F.col(vec_col).cast("array<double>")).alias("_nrm"),
    )
    # the assignment table feeds BOTH pair sides, the cluster join and the
    # keeper fold — materialize it once (this is also the deployment
    # shape: SemDeDup stores the cluster-assignment table and runs the
    # per-cell pass over it, rather than re-quantizing per consumer)
    withc = withc.localCheckpoint(eager=True)
    a = withc.select(
        F.col("cell"),
        F.col(id_col).alias("_ida"),
        F.col(vec_col).alias("_va"),
        F.col("_nrm").alias("_na"),
    )
    b = withc.select(
        F.col("cell"),
        F.col(id_col).alias("_idb"),
        F.col(vec_col).alias("_vb"),
        F.col("_nrm").alias("_nb"),
    )
    if scorer == "arrow":
        # Fused cluster kernel (r06 second wave): the pair graph is
        # CELL-CONFINED by construction (a vector belongs to exactly one
        # cell and pairs only form within cells), so connected
        # components can never span cells — the transitive closure is
        # computed inside the same per-cell kernel that scores the
        # pairs (semantic_clusters_arrow: the gate-exact gemm +
        # boundary re-decide of semantic_pairs_arrow, then a local
        # union-find whose labels are the component minima by id
        # value). The 7.9M-pair table, its checkpoint and the whole
        # distributed closure disappear; cluster ids are identical (min
        # member id per component — algorithm-independent). The native
        # scorer path below keeps the pairs→connected_components shape
        # as the engine-replayable cross-check the oracle gates.
        cl = semantic_clusters_arrow(withc, threshold, id_col, vec_col)
    else:
        pairs = (
            a.join(b, ["cell"])
            .where(F.col("_ida") < F.col("_idb"))
            .where(
                dot(F.col("_va"), F.col("_vb")) / (F.col("_na") * F.col("_nb"))
                >= F.lit(threshold)
            )
            .select(F.col("_ida").alias("id_a"), F.col("_idb").alias("id_b"))
        )
        comp = connected_components(pairs, src="id_a", dst="id_b")
        cl = (
            withc.join(comp, F.col(id_col) == F.col("node"), "left")
            .select(
                F.col(id_col),
                F.coalesce(F.col("component"), F.col(id_col)).alias("cluster_id"),
                F.col("_ccos"),
            )
        )
    keep = cl.groupBy("cluster_id").agg(
        F.min_by(F.col(id_col), F.struct(F.col("_ccos"), F.col(id_col))).alias(
            "canonical_id"
        )
    )
    return cl.join(keep, "cluster_id").select(
        F.col(id_col),
        F.col("cluster_id"),
        F.col("canonical_id"),
        (F.col(id_col) == F.col("canonical_id")).alias("is_canonical"),
    )


def semantic_pairs_arrow(
    withc: DataFrame,
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    boundary_eps: float = 1e-6,
) -> DataFrame:
    """Within-cell pair scoring as ONE vectorized numpy matmul per cell
    (applyInPandas over groupBy(cell)) — the scale path for
    semantic_dedup's quadratic stage: per cell of k vectors the candidate
    scoring is a k×k BLAS gemm on normalized rows instead of k²
    interpreted HOF folds (isolated pair-stage measurement at 64 cells ×
    600 × 64-dim, identical 11.5M-pair output: 8.7s vs 87.3s cold, 4.3s
    vs 5.8s warm on this quota-drifting host — the gemm's advantage
    widens with cell size and dims since the HOF fold is interpreted per
    element). Memory is k·dims per task, bounded by cell sizing.

    Pair sets are EXACTLY the native scorer's: the gemm decides only
    pairs whose cosine is more than `boundary_eps` from the threshold
    (BLAS-vs-sequential summation error is ≲1e-12 for unit-scale
    vectors, orders below the 1e-6 margin); the few boundary pairs are
    re-decided with the identical sequential double arithmetic the
    native scorer evaluates (left-fold dot / (sqrt-fold norms)), so the
    keep/drop bit matches the JVM expression — and the DuckDB oracle —
    bit-for-bit. That makes this kernel gate-exact, not just
    approximately equal, and it is both the deployment path and the
    oracle-gated driver path."""
    import pandas as pd

    def _pairs(pdf: "pd.DataFrame") -> "pd.DataFrame":
        import math

        import numpy as np

        ids = pdf[id_col].to_numpy()
        m = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
        nrm = np.linalg.norm(m, axis=1, keepdims=True)
        with np.errstate(divide="ignore", invalid="ignore"):
            u = m / nrm
        s = u @ u.T
        # candidates include the boundary band; pairs clearly above
        # threshold keep on the gemm score alone
        ia, ib = np.where(np.triu(s >= threshold - boundary_eps, k=1))
        sure = s[ia, ib] >= threshold + boundary_eps
        border = ~sure
        if border.any():
            rows = m  # raw (un-normalized) vectors, as the native scorer sees them

            def _native_keep(i: int, j: int) -> bool:
                # exact replay of the JVM expression: sequential
                # left-fold dot and sum-of-squares, then one division —
                # every intermediate a double op in the same order
                va, vb = rows[i], rows[j]
                acc = 0.0
                na = 0.0
                nb = 0.0
                for k in range(va.shape[0]):
                    x = float(va[k])
                    y = float(vb[k])
                    acc = acc + x * y
                    na = na + x * x
                    nb = nb + y * y
                return acc / (math.sqrt(na) * math.sqrt(nb)) >= threshold

            keep = sure.copy()
            for n in np.where(border)[0]:
                keep[n] = _native_keep(int(ia[n]), int(ib[n]))
            ia, ib = ia[keep], ib[keep]
        a, b = ids[ia], ids[ib]
        lo, hi = np.minimum(a, b), np.maximum(a, b)
        return pd.DataFrame({"id_a": lo, "id_b": hi})

    # pair schema follows the caller's id column type (the native scorer
    # is type-agnostic; hardcoding bigint here silently miscast other
    # id types)
    id_t = withc.schema[id_col].dataType.simpleString()
    return withc.groupBy("cell").applyInPandas(
        _pairs, f"id_a {id_t}, id_b {id_t}"
    )


def semantic_clusters_arrow(
    withc: DataFrame,
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    boundary_eps: float = 1e-6,
) -> DataFrame:
    """(id, cluster_id, _ccos) per vector — semantic_dedup's quadratic
    stage AND its transitive closure fused into the per-cell kernel
    (r06 second wave). Pair decisions are exactly
    semantic_pairs_arrow's (gemm scores; boundary-band pairs re-decided
    with the native scorer's sequential double arithmetic — pinned
    equal by tests/test_operators and the oracle); the exact closure
    kernel shared with connected_components
    (components._min_label_closure, over id-value ranks) then labels
    each vector with its component's MINIMUM member id. Valid because
    the pair graph is cell-confined by construction — a vector belongs
    to exactly one cell, so no component spans cells and the per-cell
    closure IS the global closure. _ccos passes through so the keeper
    fold needs no join back."""
    import math

    import pandas as pd

    from psyndex2linkeddata_spark.operators.components import _min_label_closure

    def _clusters(pdf: "pd.DataFrame") -> "pd.DataFrame":
        import numpy as np

        ids = pdf[id_col].to_numpy()
        m = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
        nrm = np.linalg.norm(m, axis=1, keepdims=True)
        with np.errstate(divide="ignore", invalid="ignore"):
            u = m / nrm
        s = u @ u.T
        ia, ib = np.where(np.triu(s >= threshold - boundary_eps, k=1))
        sure = s[ia, ib] >= threshold + boundary_eps
        border = ~sure
        if border.any():
            rows = m

            def _native_keep(i: int, j: int) -> bool:
                va, vb = rows[i], rows[j]
                acc = 0.0
                na = 0.0
                nb = 0.0
                for k in range(va.shape[0]):
                    x = float(va[k])
                    y = float(vb[k])
                    acc = acc + x * y
                    na = na + x * x
                    nb = nb + y * y
                return acc / (math.sqrt(na) * math.sqrt(nb)) >= threshold

            keep = sure.copy()
            for n in np.where(border)[0]:
                keep[n] = _native_keep(int(ia[n]), int(ib[n]))
            ia, ib = ia[keep], ib[keep]
        n_rows = len(ids)
        order = np.argsort(ids, kind="stable")
        rank = np.empty(n_rows, dtype=np.int64)
        rank[order] = np.arange(n_rows)
        lab = _min_label_closure(rank[ia], rank[ib], n_rows)
        ids_sorted = ids[order]
        cluster = ids_sorted[lab[rank]]
        return pd.DataFrame(
            {
                id_col: ids,
                "cluster_id": cluster,
                "_ccos": pdf["_ccos"].to_numpy(),
            }
        )

    id_t = withc.schema[id_col].dataType.simpleString()
    return withc.groupBy("cell").applyInPandas(
        _clusters, f"{id_col} {id_t}, cluster_id {id_t}, _ccos double"
    )
