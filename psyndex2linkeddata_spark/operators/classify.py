"""Document classification: multinomial Naive Bayes over unigram tokens
— the train-a-cheap-text-classifier lever a CCNet/RefinedWeb-style
corpus pipeline uses for quality and domain gating (CCNet trains a
fastText linear classifier for exactly this slot; NB over token counts
is the closed-form member of the same family and, unlike SGD models,
trains in ONE distributed aggregation pass with no iteration).

Reference scope note: the reference engine (psyndex2linkeddata) has no
classifier — this is part of the beyond-reference training-data-pipeline
layer, like operators/selection.py (DSIR) and operators/lm.py (CCNet
perplexity). Where DSIR scores documents against a target DISTRIBUTION
and the LM scores fluency, the classifier scores membership in a labeled
class — the three cover the standard data-quality triad.

Train (one pass over the labeled corpus, no iteration):
- per-class token counts: explode tokens → groupBy(token, label) with
  map-side combine; the groupBy key is (token, label) so even stopword
  rows split across classes;
- the model is the DENSE (vocab × labels) table of add-α smoothed
  log-likelihoods ln((c + α) / (T_label + α·V)) — dense so scoring is a
  single equi-join with no per-class missing-token fixup;
- class log-priors ln(n_docs_label / n_docs).

Score (one join + one aggregation):
- doc tokens (WITH multiplicity) inner-join the model on token — OOV
  tokens (absent from the training vocab) are dropped, the standard
  multinomial-NB treatment, and the drop is class-symmetric so ranking
  is unaffected;
- score(doc, label) = logprior + Σ_token ll. Both terms are
  DECIMAL(20,10) (cast ONCE per model row), so the per-doc sum is an
  EXACT decimal — row-order / shuffle-layout independent and replayable
  token-for-token by the DuckDB oracle.

Scale shape (10^12 docs, 10^6-token vocab, ≤10s of labels):
- the model is V×C rows ≈ tens of MB — broadcast by default, so scoring
  is a map-side join: NO shuffle touches the corpus until the
  groupBy(doc, label) partial-aggregates;
- `min_df` prunes the vocab long-tail (hapaxes are most of V and carry
  no signal) before the dense cross join;
- the one corpus-sized shuffle in training is groupBy(token, label),
  whose key space is uniform enough for AQE; the labeled TRAINING set
  is normally orders of magnitude smaller than the corpus anyway.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

from psyndex2linkeddata_spark.operators.retrieval import tokenize_terms

_DEC = "decimal(20,10)"


def nb_train(
    labeled: DataFrame,
    label_col: str = "label",
    text_col: str = "text",
    alpha: float = 1.0,
    min_df: int = 1,
) -> tuple[DataFrame, DataFrame]:
    """Fit multinomial NB on (text, label) rows. Returns
    (model, priors): model = (token, label, ll DECIMAL(20,10)) DENSE over
    vocab × labels; priors = (label, logprior DECIMAL(20,10)).
    `alpha` is the add-α smoothing; `min_df` drops tokens seen in fewer
    than min_df training documents (the vocab-size scale lever)."""
    toks = labeled.select(
        F.col(label_col).alias("label"),
        F.monotonically_increasing_id().alias("_doc"),
        tokenize_terms(F.col(text_col)).alias("_toks"),
    )
    exploded = toks.select("label", "_doc", F.explode("_toks").alias("token"))
    # ONE pass over the exploded token stream (r06): a doc carries
    # exactly one label, so per-token df = Σ over labels of the
    # per-(token, label) distinct-doc counts — the (token, label) grain
    # aggregation yields both the count table and the vocabulary. The
    # previous form re-executed the tokenize+explode subtree for the
    # vocab aggregate, its count() action, the semi-joined count table
    # and the dense-model branch (~4×); the grain table is vocab-sized,
    # so the eager checkpoint pins it for every consumer.
    grain = (
        exploded.groupBy("token", "label")
        .agg(
            F.count(F.lit(1)).alias("c"),
            F.count_distinct("_doc").alias("_dfl"),
        )
        .localCheckpoint(eager=True)
    )
    vocab = grain.groupBy("token").agg(F.sum("_dfl").alias("df"))
    if min_df > 1:
        vocab = vocab.where(F.col("df") >= min_df)
    vocab = vocab.select("token")
    counts = grain.join(vocab, "token", "left_semi").select("token", "label", "c")

    labels = labeled.groupBy(F.col(label_col).alias("label")).agg(
        F.count(F.lit(1)).alias("n_docs_label")
    )
    n_docs = labeled.count()
    v_size = vocab.count()
    totals = counts.groupBy("label").agg(F.sum("c").alias("t"))

    dense = (
        vocab.crossJoin(labels.select("label"))
        .join(counts, ["token", "label"], "left")
        .join(F.broadcast(totals), "label", "left")
        .select(
            "token",
            "label",
            F.log(
                (F.coalesce(F.col("c"), F.lit(0)) + F.lit(float(alpha)))
                / (F.coalesce(F.col("t"), F.lit(0)) + F.lit(float(alpha) * v_size))
            )
            .cast(_DEC)
            .alias("ll"),
        )
    )
    priors = labels.select(
        "label",
        F.log(F.col("n_docs_label") / F.lit(float(n_docs))).cast(_DEC).alias(
            "logprior"
        ),
    )
    return dense, priors


def nb_scores(
    docs: DataFrame,
    model: DataFrame,
    priors: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    broadcast_model: bool = True,
) -> DataFrame:
    """(id, label, score DECIMAL(20,10)) for every doc × label: exact
    decimal logprior + Σ token log-likelihoods. Docs whose tokens are all
    OOV still get every label's prior (via the docs × priors frame).
    `broadcast_model=False` falls back to a shuffle join for a vocab too
    large to broadcast.

    broadcast_model=True (the scale default — the model is vocab×labels,
    bounded by nb_train's min_df lever) dispatches to an Arrow scoring
    kernel (r06 second wave): the model and priors are collected once —
    the same bound that lets the native plan broadcast them — into a
    vocab-indexed (V × L) matrix of unscaled-bigint log-likelihoods; per
    document the kernel re-derives the token stream from the JVM-lowered
    text (tokenize_terms' [^a-z0-9]+ split replicated byte-for-byte on
    the UTF-8 bytes — see operators/lm.lm_mean_nll), drops OOV tokens
    (exact byte-equality vocab lookup, the inner join's behavior), and
    sums each label's column with one vectorized gather + prefix-sum per
    batch — the token explode, the broadcast join fan-out (×L rows per
    token), the doc-keyed aggregation exchange AND the final left join
    all disappear, and every (doc, label) row is emitted exactly once.
    Sums of unscaled bigints are exact; the decimal reconstruction and
    the prior addition stay the identical JVM expressions. Pinned equal
    to the native form by tests/test_arrow_kernel_parity."""
    if broadcast_model:
        return _nb_scores_arrow(docs, model, priors, id_col, text_col)
    return nb_scores_native(
        docs, model, priors, id_col, text_col, broadcast_model
    )


def _nb_scores_arrow(
    docs: DataFrame,
    model: DataFrame,
    priors: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    import numpy as np

    from psyndex2linkeddata_spark.operators.retrieval import _unscaled_to_decimal

    labels = sorted(r["label"] for r in priors.select("label").distinct().collect())
    lidx = {l: i for i, l in enumerate(labels)}
    L = len(labels)
    mrows = model.select(
        "token",
        "label",
        (F.col("ll").cast("decimal(16,10)") * F.lit(10_000_000_000))
        .cast("long")
        .alias("_lll"),
    ).collect()
    vmap: dict = {}
    entries: list = []
    for r in mrows:
        li = lidx.get(r["label"])
        if li is None:
            # labels absent from priors are dropped by the native
            # crossJoin(priors) left join — drop them here too
            continue
        ti = vmap.setdefault(r["token"].encode(), len(vmap))
        entries.append((ti, li, r["_lll"]))
    ll_mat = np.zeros((len(vmap), L), dtype=np.int64)
    for ti, li, v in entries:
        ll_mat[ti, li] = v

    sep = bytes(
        b if chr(b) in "abcdefghijklmnopqrstuvwxyz0123456789" else 0x20
        for b in range(256)
    )
    staged = docs.select(F.col(id_col), F.lower(F.col(text_col)).alias("_low"))
    id_t = staged.schema[id_col].dataType.simpleString()

    def kernel(batches):
        import pyarrow as pa

        for b in batches:
            ids = b.column(0)
            lows = b.column(1).cast(pa.binary()).to_pylist()
            n_rows = len(lows)
            if n_rows == 0:
                continue
            flat: list = []
            lens = np.empty(n_rows, dtype=np.int64)
            for r, nb in enumerate(lows):
                hits = [
                    ti
                    for ti in (
                        vmap.get(t) for t in (nb or b"").translate(sep).split()
                    )
                    if ti is not None
                ]
                lens[r] = len(hits)
                flat.extend(hits)
            if flat:
                gathered = ll_mat[np.asarray(flat, dtype=np.int64)]
                cs = np.zeros((len(flat) + 1, L), dtype=np.int64)
                np.cumsum(gathered, axis=0, dtype=np.int64, out=cs[1:])
                ends = np.cumsum(lens)
                sums = cs[ends] - cs[ends - lens]
            else:
                sums = np.zeros((n_rows, L), dtype=np.int64)
            rep_idx = pa.array(np.repeat(np.arange(n_rows), L))
            yield pa.RecordBatch.from_arrays(
                [
                    ids.take(rep_idx),
                    pa.array(labels * n_rows, pa.string()),
                    pa.array(sums.ravel()),
                ],
                [id_col, "label", "_tok_sum_l"],
            )

    scored = staged.mapInArrow(
        kernel, f"{id_col} {id_t}, label string, _tok_sum_l bigint"
    )
    return scored.join(F.broadcast(priors), "label").select(
        F.col(id_col),
        F.col("label"),
        (
            F.col("logprior")
            + _unscaled_to_decimal(F.col("_tok_sum_l"))
        )
        .cast(_DEC)
        .alias("score"),
    )


def nb_scores_native(
    docs: DataFrame,
    model: DataFrame,
    priors: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    broadcast_model: bool = True,
) -> DataFrame:
    """The all-JVM form of nb_scores (cross-check / too-big-to-collect
    fallback)."""
    # the per-token fan-out sums UNSCALED bigints of the decimal ll
    # (converted once per model row — the model is vocab×labels, tiny
    # next to the corpus token stream); a bigint sum of unscaled values
    # IS the decimal sum, reconstructed exactly below (same pattern as
    # operators/retrieval). |ll| < 10^6 comfortably, so the ×10^10
    # product fits decimal(26,0) and the per-doc sum fits bigint.
    mconv = model.select(
        "token",
        "label",
        (F.col("ll").cast("decimal(16,10)") * F.lit(10_000_000_000))
        .cast("long")
        .alias("_lll"),
    )
    m = F.broadcast(mconv) if broadcast_model else mconv
    from psyndex2linkeddata_spark.operators.retrieval import _unscaled_to_decimal

    # explode_OUTER: avoids the inferred size>0 pre-filter that would
    # re-run tokenization per row; null tokens (empty docs) are dropped
    # by the inner model join exactly as explode dropped the row
    tok_scores = (
        docs.select(
            F.col(id_col),
            F.explode_outer(tokenize_terms(F.col(text_col))).alias("token"),
        )
        .join(m, "token")
        .groupBy(id_col, "label")
        .agg(F.sum("_lll").alias("_tok_sum_l"))
    )
    return (
        docs.select(id_col)
        .crossJoin(F.broadcast(priors))
        .join(tok_scores, [id_col, "label"], "left")
        .select(
            F.col(id_col),
            F.col("label"),
            (
                F.col("logprior")
                + F.coalesce(
                    _unscaled_to_decimal(F.col("_tok_sum_l")),
                    F.lit(0).cast(_DEC),
                )
            )
            .cast(_DEC)
            .alias("score"),
        )
    )


def nb_classify(
    docs: DataFrame,
    model: DataFrame,
    priors: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    broadcast_model: bool = True,
) -> DataFrame:
    """(id, label, score): the argmax class per document, ties broken by
    the lexicographically smallest label — fully deterministic. The
    window partitions by doc over ≤|labels| rows, so it never skews."""
    scored = nb_scores(docs, model, priors, id_col, text_col, broadcast_model)
    w = Window.partitionBy(id_col).orderBy(F.col("score").desc(), F.col("label").asc())
    return (
        scored.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .drop("_rn")
    )

