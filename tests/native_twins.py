"""All-JVM reference forms of the package's Arrow kernels.

Each function here is the plain Catalyst form that one mapInArrow /
applyInPandas kernel of the package replaced. The package holds one
implementation per behaviour (the kernel); these references live beside
the tests that pin the kernels equal to them, bit for bit
(tests/test_arrow_kernel_parity.py, tests/test_r06_optimizations.py,
tests/test_operators.py). They run only under test.

The two JVM forms the package keeps as real fallbacks are not here:
classify.nb_scores_native (`broadcast_model=False`) and
decontaminate.contaminated_ids_native (`broadcast_bench=False`).
"""

from __future__ import annotations

from unittest import mock

from pyspark.sql import Column, DataFrame, functions as F

from psyndex2linkeddata_spark.operators import similarity
from psyndex2linkeddata_spark.operators.dedup import norm_text, shingle_array, tokens
from psyndex2linkeddata_spark.operators.lm import UNK, _bigrams
from psyndex2linkeddata_spark.operators.retrieval import (
    _bm25_per_posting,
    _unscaled_to_decimal,
    tokenize_terms,
)
from psyndex2linkeddata_spark.operators.similarity import dot, norm

# ---------------------------------------------------------------------------
# operators/dedup.py
# ---------------------------------------------------------------------------


def seed_hash(shingle: Column, i: int) -> Column:
    """Seed-i shingle hash: 8 hex chars (32 bits) carved from md5 number
    i//4 of the shingle — ONE md5 yields four independent seed hashes, so
    a 16-hash signature costs 4 md5 evaluations per shingle instead of 16
    (the md5 itself dominated minhash: 22.9s → 10.1s for the 8-hash
    signature aggregation at 100k × 600-token docs). String min over
    fixed-width lowercase hex equals numeric min over the 32-bit value,
    and DuckDB replays `substr(md5('{j}:' || x), …, 8)` byte-identically."""
    digest = F.md5(F.concat(F.lit(f"{i // 4}:"), shingle))
    return F.substring(digest, (i % 4) * 8 + 1, 8)


def minhash_signatures_native(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 16,
    n: int = 3,
) -> DataFrame:
    """(id, _sig array<string>) MinHash signatures via explode→groupBy —
    the all-JVM cross-check form of `minhash_signatures`.

    One narrow explode of the codegen-built shingle array (shingle_array —
    no interpreted HOF), ceil(num_hashes/4) md5 digests per shingle row
    carved into 32-bit seed hashes (seed_hash), then a single
    groupBy(id).agg(min…) with map-side partial aggregation — one uniform
    shuffle on the doc id. The per-row HOF tower
    (minhash_signature) evaluates interpreted and recomputes the shingle
    array per seed. `shingle_array` always yields ≥1 element, so no rows
    are dropped."""
    # explode_OUTER (r06): plain explode makes Catalyst infer a
    # size(...) > 0 pre-filter (InferFiltersFromGenerate) and push it
    # below the projection that stages the shingle array — re-evaluating
    # the whole multi-regex construction once more per row (measured 2×
    # the stage). shingle_array guarantees ≥1 non-null element, so the
    # outer explode emits exactly the same rows and no null ever
    # appears; it just never triggers the inference.
    ex = df.select(
        F.col(id_col), norm_text(F.col(text_col)).alias("_norm")
    ).select(
        F.col(id_col),
        F.explode_outer(shingle_array(F.col("_norm"), n)).alias("_s"),
    )
    # Aggregation-form note (r06, measured at 50k × ~52-shingle docs):
    # min(string) forces a SortAggregate (string buffers are not
    # hash-aggregable), but converting the seed hashes to ints for a
    # HashAggregate LOSES — F.conv is an interpreted BigInteger parse and
    # 8 of them per shingle row cost more than the sort (8.4s string
    # SortAgg vs 11.9s int HashAgg vs 9.1-9.3s staged-substring
    # variants); codegen subexpression elimination already evaluates the
    # two md5 digests once per row inside the aggregate expressions, so
    # the string form stands.
    agg = ex.groupBy(id_col).agg(
        *[
            F.min(seed_hash(F.col("_s"), i)).alias(f"_m{i}")
            for i in range(num_hashes)
        ]
    )
    return agg.select(
        F.col(id_col),
        F.array(*[F.col(f"_m{i}") for i in range(num_hashes)]).alias("_sig"),
    )


def simhash_hex_table_native(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """(id, simhash) — the all-JVM DataFrame-level form of `simhash_hex`,
    value-identical bit strings (r06; measured 14.4s → ~3s at 50k docs).

    The per-row Column form folds a 32-wide vote accumulator through an
    interpreted aggregate/zip_with tower per token; this form explodes
    tokens, computes ONE codegen md5 per token row, and reduces with a
    single hash aggregate of 32 integer ±1-vote sums (map-side partial
    combine — the exchange carries one 33-column row per doc per map
    partition). Docs with no tokens never reach the aggregate and are
    restored by the left join with the all-zero-votes signature '0'*32 —
    exactly what the empty fold yields."""
    # explode_OUTER: no inferred size>0 re-tokenization; an empty doc's
    # null token row yields all-null substrings, every when() falls to
    # its -1 branch, and negative votes render '0'*32 — the same
    # signature the left-join restoration produces, so outputs match.
    ex = df.select(
        F.col(id_col), F.explode_outer(tokens(F.col(text_col))).alias("_t")
    )
    md = ex.select(F.col(id_col), F.md5(F.col("_t")).alias("_m"))
    votes = md.groupBy(id_col).agg(
        *[
            F.sum(
                F.when(F.substring(F.col("_m"), p, 1) >= "8", 1).otherwise(-1)
            ).alias(f"_v{p}")
            for p in range(1, 33)
        ]
    )
    sig = F.concat(
        *[
            F.when(F.col(f"_v{p}") > 0, F.lit("1")).otherwise(F.lit("0"))
            for p in range(1, 33)
        ]
    )
    return df.select(id_col).join(votes, id_col, "left").select(
        F.col(id_col),
        F.coalesce(sig, F.lit("0" * 32)).alias("simhash"),
    )


# ---------------------------------------------------------------------------
# operators/selection.py
# ---------------------------------------------------------------------------


def gram_array(norm: Column, n: int) -> Column:
    """Word n-grams WITH multiplicity (unlike dedup.shingle_array, which
    is a set) — DSIR's features are counts. Same codegen-only interleaved
    construction: offset o strips o leading tokens, then consecutive
    non-overlapping n-token groups; offsets 0..n-1 yield every
    overlapping n-gram exactly once. Empty/short texts yield []."""
    if n == 1:
        return F.filter(F.split(norm, " "), lambda t: F.length(t) > 0)
    pat = r"\S+(?: \S+){%d}" % (n - 1)
    arrs = []
    for o in range(n):
        s = F.regexp_replace(norm, r"^(?:\S+ ){%d}" % o, "") if o else norm
        arrs.append(F.regexp_extract_all(s, F.lit(pat), F.lit(0)))
    return F.concat(*arrs)


def gram_bucket(gram: Column, n_buckets: int) -> Column:
    """Feature bucket: first 32 md5 bits of the gram, mod n_buckets —
    DuckDB replays ('0x' || substr(md5(g),1,8))::bigint % B."""
    return (
        F.conv(F.substring(F.md5(gram), 1, 8), 16, 10).cast("bigint")
        % F.lit(n_buckets)
    ).cast("int")


def hashed_ngram_counts_native(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_buckets: int = 1024,
    max_n: int = 2,
) -> DataFrame:
    """(id, bucket, cnt) — the all-JVM form of `hashed_ngram_counts`:
    one narrow explode over staged gram arrays, one doc-keyed groupBy.

    The explicit doc-keyed exchange (r06) fixes the same AQE blind spot
    as the bm25 postings build: the (id, bucket) aggregation's exchange
    was sized from its small map output and coalesced to ~one partition,
    serializing the feature aggregation; partitioning by the doc id at
    operator-chosen width ALSO satisfies ClusteredDistribution for this
    groupBy and for the downstream per-doc weight sum (dsir_weights), so
    both aggregate exchange-free and in parallel."""
    norm = norm_text(F.col(text_col))
    grams = F.concat(*[gram_array(norm, n) for n in range(1, max_n + 1)])
    from psyndex2linkeddata_spark.operators.skew import fanout_partitions

    n_parts = fanout_partitions(df)
    # explode_OUTER + an explicit null filter on the exploded ATTRIBUTE
    # (r06): plain explode makes Catalyst infer a size>0 pre-filter that
    # re-evaluates the whole multi-regex gram construction per row;
    # gram_array CAN be empty (short docs), so unlike the shingle sites
    # the null row must be dropped explicitly — the filter runs on the
    # generated column and never re-inlines the construction.
    return (
        df.select(F.col(id_col), F.explode_outer(grams).alias("_g"))
        .where(F.col("_g").isNotNull())
        .select(F.col(id_col), gram_bucket(F.col("_g"), n_buckets).alias("bucket"))
        .repartition(n_parts, id_col)
        .groupBy(id_col, "bucket")
        .agg(F.count("*").alias("cnt"))
    )


# ---------------------------------------------------------------------------
# operators/chunking.py
# ---------------------------------------------------------------------------


def cdc_chunks_native(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    divisor: int = 8,
) -> DataFrame:
    """Content-defined chunking: a boundary falls AFTER token i whenever
    the hash of the k-gram ending at i ≡ 0 (mod divisor) — expected
    chunk length = `divisor` tokens.

    Why content-defined instead of fixed windows: boundaries depend only
    on a local k-token context, so inserting or deleting text re-chunks
    ONLY the neighborhood of the edit — every downstream chunk hash
    (dedup keys, embedding cache keys) stays stable, where fixed windows
    shift every subsequent chunk. That stability is the point at 100 TB:
    recrawls of near-identical pages dedup at the chunk level.

    Plan shape: entirely per-row (boundary positions → adjacent-pair
    slices → one explode), zero shuffles. The k-gram scan uses JVM
    higher-order functions — interpreted, not codegen, but array-local
    and Python-free; if profiling ever makes this the bottleneck the
    same function drops into the sanctioned Arrow emit pattern
    (emit/arrow.py) unchanged in semantics.

    Cost discipline: `_t`/`_e` are staged as real attribute columns —
    each multi-referenced, so CollapseProject will NOT inline them —
    because inlining re-embeds the whole md5 boundary filter at every
    reference and the interpreted evaluator then recomputes it per chunk
    element (measured 143s → ~3s at sf0.1 for this exact rewrite; see
    the plan-cost memo in ac36c48).
    """
    from psyndex2linkeddata_spark.operators.chunking import _gram_hash32, tokens

    toks = tokens(F.col(text_col))
    staged = df.select(F.col(id_col), toks.alias("_t"))
    t, n = F.col("_t"), F.size(F.col("_t"))
    # boundary after position i (1-based, i in [k, n-1]): hash of
    # toks[i-k+1 .. i] divisible by `divisor`; never after the last token.
    # Guard: sequence(a, b) with b < a yields a DESCENDING sequence, so
    # docs shorter than k+1 tokens must short-circuit to "no boundaries".
    if divisor >= 1 and 16 % divisor == 0:
        # hash32 % d (d | 16) depends only on the value's low bits, i.e.
        # on the 8th hex char of the md5 — membership in a precomputed
        # char set replaces F.conv, an interpreted BigInteger parse that
        # dominated the per-position lambda (r06; same boundary bits).
        zero_chars = [h for h in "0123456789abcdef" if int(h, 16) % divisor == 0]

        def _is_boundary(i):
            return F.substring(
                F.md5(F.array_join(F.slice(t, i - (k - 1), k), " ")), 8, 1
            ).isin(*zero_chars)

    else:

        def _is_boundary(i):
            return (
                F.pmod(
                    _gram_hash32(F.array_join(F.slice(t, i - (k - 1), k), " ")),
                    F.lit(divisor),
                )
                == 0
            )

    bpos = F.when(
        n - 1 >= k,
        F.filter(F.sequence(F.lit(k), n - 1), _is_boundary),
    ).otherwise(F.array().cast("array<int>"))
    edged = staged.select(
        id_col,
        "_t",
        F.concat(F.array(F.lit(0)), bpos, F.array(n)).alias("_e"),
    )
    e = F.col("_e")
    chunks = F.transform(
        F.sequence(F.lit(0), F.size(e) - 2),
        lambda j: F.slice(t, e[j] + 1, e[j + 1] - e[j]),
    )
    return (
        # outer: chunks has >= 1 element always (the [0, n] edge pair),
        # so rows are identical and the inferred size>0 pre-filter —
        # which would re-evaluate the whole chunk transform per row —
        # never appears
        edged.select(
            F.col(id_col), F.posexplode_outer(chunks).alias("chunk_id", "_c")
        )
        .select(
            id_col,
            F.col("chunk_id").cast("long").alias("chunk_id"),
            F.array_join(F.col("_c"), " ").alias("chunk_text"),
            F.size(F.col("_c")).cast("long").alias("n_tokens"),
        )
    )


# ---------------------------------------------------------------------------
# operators/lm.py
# ---------------------------------------------------------------------------


def lm_score_native(
    docs: DataFrame,
    vocab: DataFrame,
    bigram_l: DataFrame,
    backoff_l: DataFrame,
    denom_l: DataFrame,
    id_col: str,
    text_col: str,
) -> DataFrame:
    """The all-JVM scoring tail (cross-check form of lm_mean_nll's Arrow
    kernel) over the model tables of lm._lm_model: interpreted zip_with
    bigram fan-out, vocab/unk mapping via broadcast joins,
    unscaled-bigint doc sum, left join back."""
    from psyndex2linkeddata_spark.operators.retrieval import _unscaled_to_decimal

    dtoks = docs.select(
        F.col(id_col), tokenize_terms(F.col(text_col)).alias("_toks")
    )
    # bigram fan-out without the two pushdown traps (r06): the old
    # where(size >= 2) pushed a size(tokenize) predicate below the
    # staging projection (tokenizing every row twice), and the plain
    # explode added an inferred size(_bigrams)>0 pre-filter that built
    # the interpreted bigram array twice per row. The when() guard keeps
    # short docs at an empty array (slice with a negative length would
    # throw), explode_OUTER triggers no inference, and the null filter
    # on the generated attribute drops exactly the <2-token docs the old
    # where() dropped.
    bg_arr = F.when(
        F.size("_toks") >= 2, _bigrams(F.col("_toks"))
    ).otherwise(F.array().cast("array<struct<w1:string,w2:string>>"))
    dbg = (
        dtoks.select(id_col, F.explode_outer(bg_arr).alias("bg"))
        .where(F.col("bg").isNotNull())
        .select(id_col, F.col("bg.w1").alias("rw1"), F.col("bg.w2").alias("rw2"))
        .join(
            F.broadcast(vocab.select(F.col("term").alias("rw1"), F.lit(1).alias("_i1"))),
            "rw1",
            "left",
        )
        .join(
            F.broadcast(vocab.select(F.col("term").alias("rw2"), F.lit(1).alias("_i2"))),
            "rw2",
            "left",
        )
        .select(
            id_col,
            F.when(F.col("_i1").isNotNull(), F.col("rw1")).otherwise(F.lit(UNK)).alias("w1"),
            F.when(F.col("_i2").isNotNull(), F.col("rw2")).otherwise(F.lit(UNK)).alias("w2"),
        )
    )
    scored = (
        dbg.join(F.broadcast(bigram_l), ["w1", "w2"], "left")
        .join(F.broadcast(backoff_l), "w2")
        .join(F.broadcast(denom_l), "w1")
        .select(
            id_col,
            (
                F.coalesce(F.col("_num_l"), F.col("_back_l")) - F.col("_den_l")
            ).alias("_lp_l"),
        )
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.sum("_lp_l").alias("_sum_lp_l"),
        )
        .select(
            id_col,
            "n_bigrams",
            F.round(
                (-_unscaled_to_decimal(F.col("_sum_lp_l")).cast("double"))
                / F.col("n_bigrams"),
                4,
            ).alias("mean_nll"),
        )
    )
    return (
        docs.select(id_col)
        .join(scored, id_col, "left")
        .select(
            id_col,
            F.coalesce(F.col("n_bigrams"), F.lit(0)).alias("n_bigrams"),
            "mean_nll",
        )
    )



# ---------------------------------------------------------------------------
# operators/similarity.py
# ---------------------------------------------------------------------------


def assign_cells_native(
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


def semantic_clusters_native(
    withc: DataFrame,
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """The all-JVM form of similarity.semantic_clusters_arrow: a
    cell-keyed self-join whose predicate is the JVM cosine expression,
    then components.connected_components over the above-threshold
    pairs. (id, cluster_id, _ccos) per vector; a vector in no pair is
    its own cluster."""
    from psyndex2linkeddata_spark.operators.components import connected_components

    # per-row norm staged ONCE: the pair predicate then evaluates only the
    # dot product — dot/(na·nb) is the exact same double arithmetic as
    # cosine(va, vb) (norms are per-vector values)
    staged = withc.select(
        "cell", id_col, vec_col, norm(F.col(vec_col)).alias("_nrm")
    )
    a = staged.select(
        F.col("cell"),
        F.col(id_col).alias("_ida"),
        F.col(vec_col).alias("_va"),
        F.col("_nrm").alias("_na"),
    )
    b = staged.select(
        F.col("cell"),
        F.col(id_col).alias("_idb"),
        F.col(vec_col).alias("_vb"),
        F.col("_nrm").alias("_nb"),
    )
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
    return withc.join(comp, F.col(id_col) == F.col("node"), "left").select(
        F.col(id_col),
        F.coalesce(F.col("component"), F.col(id_col)).alias("cluster_id"),
        F.col("_ccos"),
    )


def semantic_dedup_native(corpus: DataFrame, **kwargs) -> DataFrame:
    """similarity.semantic_dedup with its per-cell cluster kernel
    replaced by semantic_clusters_native: the same quantizer, assignment
    and keeper rule around the pairs → connected_components closure."""
    with mock.patch.object(
        similarity, "semantic_clusters_arrow", semantic_clusters_native
    ):
        return similarity.semantic_dedup(corpus, **kwargs)


# ---------------------------------------------------------------------------
# functions/textstats.py
# ---------------------------------------------------------------------------


def repetition_stats_native(
    df: "DataFrame",
    id_col: str = "doc_id",
    text_col: str = "text",
) -> "DataFrame":
    """Gopher-style within-document repetition signals (Rae et al. 2021,
    §A1.1 repetition filters): (id, dup_word_frac, top_bigram_frac).

    - dup_word_frac: fraction of tokens that are repeats of an earlier
      token (1 - distinct/total) — computed per-row, no shuffle.
    - top_bigram_frac: fraction of all bigram occurrences taken by the
      single most frequent bigram — boilerplate/spam pages score high.
      Computed per-row as the longest equal run of the SORTED bigram
      array (mode count without a frequency map): staged attribute
      columns + one aggregate lambda — ZERO shuffles. Measured 10×
      faster (7s vs 72s on 100k × 600-token docs) than the obvious
      explode → groupBy(doc, bigram) → max/sum plan, which shuffles one
      row per distinct bigram occurrence; at corpus scale that shuffle
      is the entire cost of the operator.

    Fractions round to 4dp so the DuckDB oracle compares stably (the
    oracle keeps the frequency-map formulation — same values).
    """
    from psyndex2linkeddata_spark.operators.chunking import tokens

    toks = tokens(F.col(text_col))
    n = F.size(toks)
    # case-preserving single-space form of the token stream: gram_array
    # over it yields exactly the concat_ws bigrams of `tokens` (with
    # multiplicity), built by two codegen regex extractions instead of
    # an interpreted transform with two element_at calls per element
    # (r06; measured 3.1s → 2.2s for the sorted-bigram stage at 50k
    # docs). NOT norm_text — that lowercases, which would case-fold
    # distinct bigrams together and change the mode count.
    norm_case = F.regexp_replace(
        F.trim(F.coalesce(F.col(text_col), F.lit(""))), r"\s+", " "
    )
    base = df.select(
        F.col(id_col),
        norm_case.alias("_nc"),
        F.when(
            n > 0,
            F.round((n - F.size(F.array_distinct(toks))) / n.cast("double"), 4),
        )
        .otherwise(F.lit(0.0))
        .alias("dup_word_frac"),
    )
    sorted_b = base.select(
        id_col,
        "dup_word_frac",
        F.array_sort(gram_array(F.col("_nc"), 2)).alias("_b"),
    )
    acc0 = F.struct(
        F.lit("").alias("prev"), F.lit(0).alias("run"), F.lit(0).alias("best")
    )
    max_run = F.aggregate(
        F.col("_b"),
        acc0,
        lambda a, x: F.struct(
            x.alias("prev"),
            F.when(x == a["prev"], a["run"] + 1).otherwise(F.lit(1)).alias("run"),
            F.greatest(
                a["best"],
                F.when(x == a["prev"], a["run"] + 1).otherwise(F.lit(1)),
            ).alias("best"),
        ),
        lambda a: a["best"],
    )
    return sorted_b.select(
        id_col,
        "dup_word_frac",
        F.when(
            F.size(F.col("_b")) > 0,
            F.round(max_run / F.size(F.col("_b")).cast("double"), 4),
        )
        .otherwise(F.lit(0.0))
        .alias("top_bigram_frac"),
    )


def with_top_bigram_frac_native(
    df: "DataFrame", text_col: str = "text", out_col: str = "top_bigram_frac"
) -> "DataFrame":
    """Append the per-row top-bigram fraction, preserving all other
    columns — the filter-friendly form of the repetition_stats signal
    (same staged sorted-run computation, zero shuffles)."""
    from psyndex2linkeddata_spark.operators.chunking import tokens

    keep = df.columns
    staged = df.select("*", tokens(F.col(text_col)).alias("__tbf_t"))
    bigrams = F.when(
        F.size(F.col("__tbf_t")) >= 2,
        F.transform(
            F.sequence(F.lit(0), F.size(F.col("__tbf_t")) - 2),
            lambda i: F.concat_ws(
                " ",
                F.element_at(F.col("__tbf_t"), i + 1),
                F.element_at(F.col("__tbf_t"), i + 2),
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))
    sb = staged.select("*", F.array_sort(bigrams).alias("__tbf_b"))
    acc0 = F.struct(
        F.lit("").alias("prev"), F.lit(0).alias("run"), F.lit(0).alias("best")
    )
    max_run = F.aggregate(
        F.col("__tbf_b"),
        acc0,
        lambda a, x: F.struct(
            x.alias("prev"),
            F.when(x == a["prev"], a["run"] + 1).otherwise(F.lit(1)).alias("run"),
            F.greatest(
                a["best"],
                F.when(x == a["prev"], a["run"] + 1).otherwise(F.lit(1)),
            ).alias("best"),
        ),
        lambda a: a["best"],
    )
    frac = F.when(
        F.size(F.col("__tbf_b")) > 0,
        F.round(max_run / F.size(F.col("__tbf_b")).cast("double"), 4),
    ).otherwise(F.lit(0.0))
    # PUSHDOWN HAZARD (measured, sf0.1/local[32]): do NOT `.where` on
    # out_col over a live lineage. PushPredicateThroughNonJoin substitutes
    # the aliased expression into the predicate with no cheapness check,
    # so the interpreted aggregate plus the staged token/bigram arrays
    # (and any upstream scrub chain) re-inline per reference and the
    # element_at lambda re-evaluates the split per ELEMENT: 1.2s unfiltered
    # → 19s filtered bare → 152s filtered behind a regex scrub. Filter on
    # a materialized barrier instead (localCheckpoint / a written table),
    # where out_col is a stored attribute — plans/corpus.py does exactly
    # that. (A dummy non-deterministic projection column does NOT protect
    # this: fixed-point column pruning deletes it before pushdown runs.)
    return sb.select(*keep, frac.alias(out_col))


# ---------------------------------------------------------------------------
# operators/retrieval.py
# ---------------------------------------------------------------------------


def bm25_scores(
    docs: DataFrame,
    queries: DataFrame,
    max_df_frac: float | None = None,
) -> DataFrame:
    """(query_id, doc_id, score DECIMAL(20,10)) for every document that
    shares at least one term with the query: the general fan-out-join
    scoring path that bm25_topk's dense per-batch kernel replaced. One
    join of the per-posting score table with the query terms and one
    bigint sum per (query, doc); the decimal is rebuilt exactly from
    that sum."""
    per_posting, qterms = _bm25_per_posting(docs, queries, max_df_frac=max_df_frac)
    return (
        per_posting.join(F.broadcast(qterms), "term")
        .groupBy("query_id", "doc_id")
        .agg(F.sum("_sl").alias("score_unscaled"))
        .select(
            "query_id",
            "doc_id",
            _unscaled_to_decimal(F.col("score_unscaled")).alias("score"),
        )
    )
