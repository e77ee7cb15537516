"""Round-6 optimization equivalence pins: every operator whose
INTERNALS changed for performance is pinned bit-equal to a second,
simpler form (a general package path, or the prior formulation kept in
tests/native_twins.py) on corpora built to hit the edge cases the
rewrites had to preserve."""

from __future__ import annotations

from pyspark.sql import functions as F


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_bm25_dense_topk_equals_general_scoring_path(spark):
    """bm25_topk's per-batch dense gemm must reproduce the general
    fan-out-join scoring path exactly — including zero-score-tail
    behavior: a (query, doc) pair that shares a term ranks even when
    its decimal score could round toward zero, while no-shared-term
    pairs never appear."""
    from pyspark.sql import Window

    from psyndex2linkeddata_spark.operators.retrieval import bm25_topk
    from tests.native_twins import bm25_scores

    docs = _docs(
        spark,
        [
            (1, "alpha beta gamma delta"),
            (2, "alpha alpha beta"),
            (3, "gamma gamma gamma epsilon"),
            (4, "zeta eta theta"),
            (5, "beta delta delta"),
            (6, "alpha beta gamma delta epsilon zeta"),
        ],
    )
    queries = spark.createDataFrame(
        [(10, "alpha beta"), (11, "gamma"), (12, "zeta theta unknownterm")],
        "query_id long, query_text string",
    )
    k = 3
    dense = {
        (r.query_id, r.doc_id): (r.score, r.rank)
        for r in bm25_topk(docs, queries, k=k).collect()
    }
    scored = bm25_scores(docs, queries)
    w = Window.partitionBy("query_id").orderBy(
        F.col("score").desc(), F.col("doc_id").asc()
    )
    general = {
        (r.query_id, r.doc_id): (
            round(float(r.score), 4),
            r.rank,
        )
        for r in scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .collect()
    }
    assert dense == general


def test_assign_cells_arrow_matches_native_with_near_ties(spark):
    """The gemm assignment kernel must reproduce the JVM expression's
    argmax bit-for-bit, including a constructed near-tie (two centroids
    almost equidistant from one vector) that forces the exact-re-decide
    branch."""
    from psyndex2linkeddata_spark.operators.similarity import assign_cells
    from tests.native_twins import assign_cells_native

    corpus = spark.createDataFrame(
        [
            (1, [1.0, 0.0, 0.0]),
            (2, [0.0, 1.0, 0.0]),
            # near-tie: cosine to both centroids differs in ~1e-9
            (3, [1.0, 1.0 + 1e-9, 0.0]),
            (4, [0.7071067811865476, 0.7071067811865475, 0.0]),
            (5, [-1.0, -1.0, 0.0]),
        ],
        "vec_id long, embedding array<double>",
    )
    cents = spark.createDataFrame(
        [(0, [1.0, 0.0, 0.0]), (1, [0.0, 1.0, 0.0])],
        "cell int, centroid array<double>",
    )
    got = {
        r.vec_id: r.cell for r in assign_cells(corpus, cents).collect()
    }
    want = {
        r.vec_id: r.cell
        for r in assign_cells_native(corpus, cents).collect()
    }
    assert got == want


def test_ngram_jaccard_pair_parallelism_invariance(spark):
    """The operator-pinned fan-out width must not affect results: the
    pair set is identical at width 1 and width 7 (partitioning is a
    performance decision only)."""
    from psyndex2linkeddata_spark.operators.dedup import ngram_jaccard_pairs

    docs = _docs(
        spark,
        [
            (1, "a b c d e f g h"),
            (2, "a b c d e f g x"),
            (3, "a b c d e y z w"),
            (4, "p q r s t u v n"),
            (5, "p q r s t u v m"),
        ],
    )
    def pairs(width):
        return {
            (r.id_a, r.id_b, round(r.jaccard, 6))
            for r in ngram_jaccard_pairs(
                docs, n=3, threshold=0.2, max_shingle_freq=100,
                pair_parallelism=width,
            ).collect()
        }

    p1, p7 = pairs(1), pairs(7)
    assert p1 == p7
    assert p1  # non-empty: the construction actually produced pairs
