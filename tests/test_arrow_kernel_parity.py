"""r06 second Arrow wave: the dictionary-encode-then-hash-distinct
kernels (minhash signatures, simhash vote table, DSIR hashed n-gram
counts) must equal their all-JVM cross-check forms BIT-FOR-BIT — the
kernels only reproduce byte arithmetic (md5 over the JVM-built strings'
UTF-8 bytes, integer vote sums, fixed-width hex minima); every string
semantic (lowercase, tokenization, shingling) stays a Catalyst
expression upstream of the kernel."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from psyndex2linkeddata_spark.operators.dedup import (
    _minhash_signatures_arrow,
    _simhash_hex_table_arrow,
    minhash_signatures_native,
    simhash_hex_table_native,
)
from psyndex2linkeddata_spark.operators.selection import (
    _hashed_ngram_counts_arrow,
    hashed_ngram_counts_native,
)

EDGES = [
    (900001, ""),
    (900002, "   \t\n "),
    (900003, "ß İ 高 éclair ß İ 高"),  # non-ASCII: UTF-8 bytes must match
    (900004, "one"),
    (900005, None),
    (900006, "a\tb\nc d a\tb\nc d a b c e f g h i j k"),
    (900007, "dup dup dup dup dup dup dup dup dup dup"),
    (900008, "\tlead space  multi   gap nbsp end "),
    # leading tab -> leading space in norm: shingle_array/gram_array
    # degenerate to stride-n windows (gram_array additionally n-plicates)
    (900009, "\tt0 t1 t2 t3 t4 t5 t6 t7 t8 t9 t10"),
]


@pytest.fixture(scope="module")
def corpus(spark):
    import random

    rng = random.Random(42)
    vocab = [
        "batch", "part", "spark", "line", "column", "order", "small",
        "sort", "fast", "value", "scan", "hash", "slow", "group", "agg",
    ]
    rows = [
        (i, " ".join(rng.choice(vocab) for _ in range(rng.randint(1, 60))))
        for i in range(300)
    ]
    # a few near-duplicate copies so signature minima collide
    rows += [(1000 + i, rows[i][1] + " dup") for i in range(20)]
    d = spark.createDataFrame(rows + EDGES, "doc_id long, text string")
    return d.repartition(5)


@pytest.mark.parametrize("num_hashes,n", [(8, 3), (16, 3), (8, 5)])
def test_minhash_signatures_arrow_matches_native(corpus, num_hashes, n):
    a = _minhash_signatures_arrow(corpus, num_hashes=num_hashes, n=n)
    b = minhash_signatures_native(corpus, num_hashes=num_hashes, n=n)
    j = a.withColumnRenamed("_sig", "sa").join(
        b.withColumnRenamed("_sig", "sb"), "doc_id", "full"
    )
    bad = j.where(
        F.col("sa").isNull() | F.col("sb").isNull() | (F.col("sa") != F.col("sb"))
    )
    assert bad.count() == 0
    assert a.count() == corpus.count()


def test_simhash_hex_arrow_matches_native(corpus):
    a = _simhash_hex_table_arrow(corpus).withColumnRenamed("simhash", "sa")
    b = simhash_hex_table_native(corpus).withColumnRenamed("simhash", "sb")
    j = a.join(b, "doc_id", "full")
    bad = j.where(
        F.col("sa").isNull() | F.col("sb").isNull() | (F.col("sa") != F.col("sb"))
    )
    assert bad.count() == 0
    assert a.count() == corpus.count()


def test_hashed_ngram_counts_arrow_matches_native(corpus):
    a = _hashed_ngram_counts_arrow(corpus, n_buckets=256, max_n=2)
    b = hashed_ngram_counts_native(corpus, n_buckets=256, max_n=2)
    assert a.exceptAll(b).count() == 0
    assert b.exceptAll(a).count() == 0
    assert a.count() == b.count()


def test_lm_scoring_kernel_matches_native(corpus):
    from psyndex2linkeddata_spark.operators.lm import lm_mean_nll

    model = corpus.where(F.col("doc_id") % 7 == 0)
    a = lm_mean_nll(corpus, model, vocab_size=16, alpha=0.5)
    b = lm_mean_nll(corpus, model, vocab_size=16, alpha=0.5, scoring="native")
    assert a.exceptAll(b).count() == 0
    assert b.exceptAll(a).count() == 0
    assert a.count() == corpus.count()


def test_nb_scoring_kernel_matches_native(corpus):
    from psyndex2linkeddata_spark.operators.classify import (
        nb_scores,
        nb_scores_native,
        nb_train,
    )

    labeled = corpus.select(
        "doc_id",
        F.concat(F.lit("l"), (F.col("doc_id") % 3).cast("string")).alias(
            "label"
        ),
        "text",
    )
    model, priors = nb_train(labeled, alpha=1.0)
    a = nb_scores(corpus, model, priors)
    b = nb_scores_native(corpus, model, priors)
    assert a.exceptAll(b).count() == 0
    assert b.exceptAll(a).count() == 0


def _cc_graph():
    """A random multi-component graph plus a 50-node chain, self loops and
    duplicate edges."""
    import random

    rng = random.Random(7)
    edges = [(rng.randint(0, 2000), rng.randint(0, 2000)) for _ in range(4000)]
    edges += [(i, i + 1) for i in range(3000, 3050)]  # 50-node chain
    edges += [(5, 5), (7, 7)]  # self loops
    edges += edges[:100]  # duplicates
    return edges


def _union_find_min(n, edges):
    """Reference closure: each node's label is its component's minimum."""
    parent = list(range(n))

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for u, v in edges:
        a, b = find(u), find(v)
        if a != b:
            parent[max(a, b)] = min(a, b)
    return [find(i) for i in range(n)]


def _closure_matches_union_find(n, edges):
    import numpy as np

    from psyndex2linkeddata_spark.operators.components import _min_label_closure

    ru = np.array([u for u, _ in edges], dtype=np.int64)
    rv = np.array([v for _, v in edges], dtype=np.int64)
    lab = _min_label_closure(ru, rv, n)
    assert lab.tolist() == _union_find_min(n, edges)


@pytest.mark.parametrize("n", [1000, 10_000])
def test_min_label_closure_random_order_chain(n):
    import random

    rng = random.Random(n)
    ids = list(range(n))
    rng.shuffle(ids)
    chain = list(zip(ids, ids[1:]))
    rng.shuffle(chain)
    _closure_matches_union_find(n, chain)


@pytest.mark.parametrize("n,m", [(50, 30), (2000, 1500), (20_000, 30_000)])
def test_min_label_closure_random_graph(n, m):
    import random

    rng = random.Random(m)
    edges = [(rng.randrange(n), rng.randrange(n)) for _ in range(m)]
    _closure_matches_union_find(n, edges)


def test_min_label_closure_self_loops_duplicates_and_isolated():
    # node 3 and 6 touch only self loops, node 7 has no edge at all
    edges = [(3, 3), (0, 5), (5, 0), (0, 5), (6, 6), (2, 4), (4, 1), (1, 2)]
    _closure_matches_union_find(8, edges)
    _closure_matches_union_find(4, [])


def test_connected_components_contraction_matches_loop(spark):
    from psyndex2linkeddata_spark.operators.components import (
        _connected_components_loop,
        connected_components,
    )

    edges = _cc_graph()
    # max_iter=60 so the pure loop converges on the chain: the kernel
    # version computes the TRUE closure; equality is the loop's
    # converged fixpoint
    for schema, mk in (
        ("src long, dst long", lambda u, v: (u, v)),
        ("src string, dst string", lambda u, v: (f"uri:{u}", f"uri:{v}")),
    ):
        d = spark.createDataFrame(
            [mk(u, v) for u, v in edges], schema
        ).repartition(7)
        a = connected_components(d, max_iter=60).withColumnRenamed(
            "component", "ca"
        )
        b = _connected_components_loop(d, max_iter=60).withColumnRenamed(
            "component", "cb"
        )
        j = a.join(b, "node", "full")
        bad = j.where(
            F.col("ca").isNull() | F.col("cb").isNull() | (F.col("ca") != F.col("cb"))
        )
        assert bad.count() == 0
        assert a.count() == b.count() > 0


def test_connected_components_over_budget_fallback_matches(spark, monkeypatch):
    """Over the one-task row budget the distributed loop closes the star:
    the same (node, component) set."""
    from psyndex2linkeddata_spark.operators import components

    d = spark.createDataFrame(_cc_graph(), "src long, dst long").repartition(7)
    one_task = {tuple(r) for r in components.connected_components(d).collect()}
    monkeypatch.setattr(components, "_ONE_TASK_MAX_ROWS", 0)
    fallback = {
        tuple(r) for r in components.connected_components(d, max_iter=60).collect()
    }
    assert fallback == one_task
    assert len(one_task) == len({x for e in _cc_graph() for x in e})


def test_connected_components_fallback_raises_unconverged(spark, monkeypatch):
    from psyndex2linkeddata_spark.operators import components

    monkeypatch.setattr(components, "_ONE_TASK_MAX_ROWS", 0)
    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(20)], "src long, dst long"
    ).coalesce(1)
    with pytest.raises(RuntimeError, match="max_iter=1"):
        components.connected_components(chain, max_iter=1)


@pytest.mark.parametrize("k,divisor", [(3, 8), (2, 5)])
def test_cdc_chunks_kernel_matches_native(corpus, k, divisor):
    from psyndex2linkeddata_spark.operators.chunking import (
        cdc_chunks,
        cdc_chunks_native,
    )

    a = cdc_chunks(corpus, k=k, divisor=divisor)
    b = cdc_chunks_native(corpus, k=k, divisor=divisor)
    assert a.exceptAll(b).count() == 0
    assert b.exceptAll(a).count() == 0
    assert a.count() == b.count() > 0


def test_repetition_stats_kernel_matches_native(corpus):
    from psyndex2linkeddata_spark.functions.textstats import (
        repetition_stats,
        repetition_stats_native,
    )

    a = repetition_stats(corpus)
    b = repetition_stats_native(corpus)
    assert a.exceptAll(b).count() == 0
    assert b.exceptAll(a).count() == 0
    assert a.count() == corpus.count()


@pytest.mark.parametrize("n", [8, 3])
def test_contaminated_ids_kernel_matches_native(corpus, n):
    from psyndex2linkeddata_spark.operators.decontaminate import (
        contaminated_ids,
        contaminated_ids_native,
    )

    bench = corpus.where(F.col("doc_id") % 11 == 0).select("text")
    a = contaminated_ids(corpus, bench, n=n)
    b = contaminated_ids_native(corpus, bench, n=n)
    assert a.exceptAll(b).count() == 0
    assert b.exceptAll(a).count() == 0
    assert a.count() == b.count() > 0


def test_with_top_bigram_frac_kernel_matches_native(corpus):
    from psyndex2linkeddata_spark.functions.textstats import (
        with_top_bigram_frac,
        with_top_bigram_frac_native,
    )

    a = with_top_bigram_frac(corpus)
    b = with_top_bigram_frac_native(corpus)
    assert a.exceptAll(b).count() == 0
    assert b.exceptAll(a).count() == 0
    assert a.columns == b.columns


def test_lang_ngram_counts_kernel_matches_native(corpus):
    from psyndex2linkeddata_spark.functions.textstats import (
        _NGRAM_PROFILES,
        lang_ngram_counts,
        lang_ngram_counts_table,
    )

    # seed texts with real profile trigrams incl. the non-ASCII 'ión'
    extra = corpus.sparkSession.createDataFrame(
        [
            (910001, "the thing of the nation was ing ing"),
            (910002, "der die und schlecht ich ein ung"),
            (910003, "nación acción que los ado una"),
            (910004, "thethething ionion"),  # overlapping candidates
        ],
        "doc_id long, text string",
    )
    d = corpus.unionByName(extra)
    counts = lang_ngram_counts(F.col("text"))
    langs = [lang for lang, _ in _NGRAM_PROFILES]
    b = d.select(
        "doc_id", *[counts[lang].alias(f"c_{lang}") for lang in langs]
    )
    a = lang_ngram_counts_table(d)
    assert a.exceptAll(b).count() == 0
    assert b.exceptAll(a).count() == 0
    assert a.count() == d.count()


def test_semantic_cluster_kernel_matches_native_scorer(spark):
    import random

    from psyndex2linkeddata_spark.operators.similarity import semantic_dedup

    rng = random.Random(9)
    centers = [[rng.uniform(-1, 1) for _ in range(16)] for _ in range(6)]
    rows = []
    for i in range(400):
        c = centers[i % 6]
        rows.append(
            (i, [v + rng.uniform(-0.05, 0.05) for v in c], i % 6)
        )
    e = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    ).repartition(5)
    a = semantic_dedup(e, n_cells=8, threshold=0.9, refine_iters=1)
    b = semantic_dedup(
        e, n_cells=8, threshold=0.9, refine_iters=1, scorer="native"
    )
    assert a.exceptAll(b).count() == 0
    assert b.exceptAll(a).count() == 0
    assert a.count() == 400


def test_semantic_clusters_long_chain_one_cluster(spark):
    """Unit vectors 0.01 rad apart with a threshold between one and two
    steps: the above-threshold pairs of the cell form a 1,000-node chain,
    which is one cluster labelled with its minimum id."""
    import math
    import random

    from psyndex2linkeddata_spark.operators.similarity import semantic_clusters_arrow

    rng = random.Random(5)
    ids = rng.sample(range(10**9), 1000)
    rows = [
        (0, vid, [math.cos(0.01 * k), math.sin(0.01 * k)], 1.0)
        for k, vid in enumerate(ids)
    ]
    withc = spark.createDataFrame(
        rows, "cell int, vec_id long, embedding array<double>, _ccos double"
    )
    got = semantic_clusters_arrow(withc, threshold=math.cos(0.015)).collect()
    assert len(got) == 1000
    assert {r.cluster_id for r in got} == {min(ids)}


def test_rolling_fp_kernel_matches_expression(corpus):
    from psyndex2linkeddata_spark.functions.textstats import with_rolling_fp
    from psyndex2linkeddata_spark.operators.dedup import norm_text, shingle_array

    staged = corpus.select(
        "doc_id", norm_text(F.col("text")).alias("_norm")
    )
    a = with_rolling_fp(staged, "_norm", 5)
    b = staged.select(
        "doc_id",
        F.array_min(
            F.transform(shingle_array(F.col("_norm"), 5), F.md5)
        ).alias("rolling_fp"),
    )
    assert a.exceptAll(b).count() == 0
    assert b.exceptAll(a).count() == 0
