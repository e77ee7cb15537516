"""CCNet-style n-gram LM perplexity scoring (Wenzek et al. 2020,
"CCNet: Extracting High Quality Monolingual Datasets from Web Crawl
Data", §3.3): score every document by the mean negative log-likelihood
of an interpolated add-alpha bigram model trained on a high-quality
target corpus, then bucket/filter on it. CCNet uses KenLM; this is the
same stage re-expressed as pure DataFrame algebra so the model train,
the scoring pass and the filter are ONE Spark plan with no external
artifacts.

Model: tokens outside the top-`vocab_size` target vocabulary map to
'<unk>'; unigram p1(w) = (c1(w)+1)/(T+V); bigram
p(w2|w1) = (c(w1,w2) + alpha*p1(w2)) / (c1(w1) + alpha). The log
decomposes per bigram into  ln(c12 + alpha*p1(w2)) - ln(c1(w1)+alpha),
so the trained model is THREE small log tables — seen-bigram numerator,
per-w2 backoff numerator, per-w1 denominator — each ln computed ONCE
per model row and cast to DECIMAL(20,10): every document score is an
exact, row-order-independent decimal sum (the determinism pattern of
operators/selection.py and operators/retrieval.py), byte-replayable by
the DuckDB oracle.

Scale design:
- vocab = top-V term counts via orderBy+limit (TakeOrderedAndProject —
  partial top-V per partition, no global sort), tie-broken (count desc,
  term asc) for cross-engine determinism; broadcast everywhere.
- the target corpus is tokenized once behind a lazy localCheckpoint
  and re-read by the vocab/unigram/bigram aggregations (three uniform-
  key groupBys) — never re-tokenized per consumer.
- the model is bounded by construction (V+1 backoff/denominator rows,
  ≤ (V+1)² seen-bigram rows), so the scoring pass collects it once and
  scores every document in one narrow mapInArrow kernel — no
  corpus-sized shuffle.
- docs with < 2 tokens have no bigram evidence and are passed through
  with NULL mean_nll (callers decide; perplexity_filter keeps them).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
import pyspark.sql.functions as F

from psyndex2linkeddata_spark.operators.retrieval import tokenize_terms

__all__ = ["lm_mean_nll", "perplexity_filter"]

UNK = "<unk>"


def _bigrams(toks):
    return F.zip_with(
        F.slice(toks, 1, F.size(toks) - 1),
        F.slice(toks, 2, F.size(toks) - 1),
        lambda a, b: F.struct(a.alias("w1"), b.alias("w2")),
    )


def _lm_model(
    model_docs: DataFrame, vocab_size: int, alpha: float, text_col: str
) -> tuple[DataFrame, DataFrame, DataFrame, DataFrame]:
    """The bigram model trained on `model_docs` as four small tables:
    (vocab (term), bigram_l (w1, w2, _num_l), backoff_l (w2, _back_l),
    denom_l (w1, _den_l)) — the log tables as UNSCALED bigints of their
    decimal(20,10) values."""
    if vocab_size <= 0:
        raise ValueError("vocab_size must be > 0")
    mtoks = model_docs.select(
        tokenize_terms(F.col(text_col)).alias("_toks")
    ).where(F.size("_toks") > 0)
    mtoks = mtoks.localCheckpoint(eager=False)
    mstream = mtoks.select(F.explode("_toks").alias("term"))
    vocab = (
        mstream.groupBy("term")
        .agg(F.count(F.lit(1)).alias("_c"))
        .orderBy(F.col("_c").desc(), F.col("term").asc())
        .limit(vocab_size)
        .select("term")
    )
    # unigram counts over MAPPED tokens (unk aggregates the tail).
    # The model's type set is vocab ∪ {<unk>} EXPLICITLY — even when the
    # target corpus has no OOV token, <unk> gets a c1=0 row (p1 via the
    # +1 numerator), so scoring-time OOV bigrams always find their
    # backoff/denominator rows instead of being dropped by the joins.
    base = vocab.select(F.col("term").alias("w")).union(
        model_docs.sparkSession.range(1).select(F.lit(UNK).alias("w"))
    )
    counts = (
        mstream.join(F.broadcast(vocab.withColumn("_in", F.lit(1))), "term", "left")
        .select(
            F.when(F.col("_in").isNotNull(), F.col("term"))
            .otherwise(F.lit(UNK))
            .alias("w")
        )
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("c1"))
    )
    uni = base.join(counts, "w", "left").select(
        "w", F.coalesce(F.col("c1"), F.lit(0)).alias("c1")
    )
    totals = uni.agg(
        F.sum("c1").alias("t_tokens"), F.count(F.lit(1)).alias("v_types")
    )
    # per-w2 backoff numerator ln(alpha*p1) and per-w1 denominator
    # ln(c1+alpha), each ln once per model row
    p1 = uni.crossJoin(F.broadcast(totals)).select(
        "w",
        "c1",
        (
            (F.col("c1") + F.lit(1.0))
            / (F.col("t_tokens") + F.col("v_types"))
        ).alias("p1"),
    )
    backoff = p1.select(
        F.col("w").alias("w2"),
        F.col("p1"),
        F.log(F.lit(alpha) * F.col("p1"))
        .cast("decimal(20,10)")
        .alias("l_backoff"),
    )
    denom = p1.select(
        F.col("w").alias("w1"),
        F.log(F.col("c1") + F.lit(alpha)).cast("decimal(20,10)").alias("l_denom"),
    )
    mapped_bg = (
        mtoks.select(F.explode(_bigrams(F.col("_toks"))).alias("bg"))
        .select(F.col("bg.w1").alias("rw1"), F.col("bg.w2").alias("rw2"))
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
            F.when(F.col("_i1").isNotNull(), F.col("rw1")).otherwise(F.lit(UNK)).alias("w1"),
            F.when(F.col("_i2").isNotNull(), F.col("rw2")).otherwise(F.lit(UNK)).alias("w2"),
        )
    )
    bigram = (
        mapped_bg.groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("c12"))
        .join(F.broadcast(backoff.select("w2", "p1")), "w2")
        .select(
            "w1",
            "w2",
            F.log(F.col("c12") + F.lit(alpha) * F.col("p1"))
            .cast("decimal(20,10)")
            .alias("l_num"),
        )
    )
    # score with UNSCALED bigints of the decimal(20,10) model logs —
    # converted once per (tiny) model row, summed as longs across the
    # corpus bigram stream, reconstructed exactly for the output (the
    # operators/retrieval pattern; |log| < 10^6 so every cast is exact
    # and a doc's sum stays far inside bigint)
    def _l(c: str):
        return (
            F.col(c).cast("decimal(16,10)") * F.lit(10_000_000_000)
        ).cast("long")

    bigram_l = bigram.select("w1", "w2", _l("l_num").alias("_num_l"))
    backoff_l = backoff.select("w2", _l("l_backoff").alias("_back_l"))
    denom_l = denom.select("w1", _l("l_denom").alias("_den_l"))
    return vocab, bigram_l, backoff_l, denom_l


def lm_mean_nll(
    docs: DataFrame,
    model_docs: DataFrame,
    vocab_size: int = 512,
    alpha: float = 0.5,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """(doc_id, n_bigrams, mean_nll): mean negative log-likelihood of
    each document under the bigram model trained on `model_docs`.
    mean_nll is exact-decimal-sum / n_bigrams rendered as a double;
    lower = more target-like. Docs with < 2 tokens get NULL mean_nll."""
    from psyndex2linkeddata_spark.operators.retrieval import _unscaled_to_decimal

    vocab, bigram_l, backoff_l, denom_l = _lm_model(
        model_docs, vocab_size, alpha, text_col
    )
    # ---- Arrow scoring kernel (r06 second wave) ----
    # The model is bounded by construction (V+1 backoff/denominator
    # rows, ≤ (V+1)² seen-bigram rows — the same bound that lets the
    # native plan broadcast all three tables), so it is collected once
    # and closed over, exactly like the bm25 query mask and the
    # semantic-dedup centroids. The kernel replaces the interpreted
    # zip_with bigram construction, the explode, three broadcast joins,
    # the doc-keyed aggregation exchange AND the final left join: per
    # document it re-derives the token stream from the JVM-lowered text
    # (tokenize_terms splits on the ASCII class [^a-z0-9]+ — token bytes
    # are pure ASCII alnum and UTF-8 continuation bytes are ≥ 0x80, so
    # mapping every non-[a-z0-9] BYTE to space and splitting reproduces
    # the codepoint split byte-for-byte; the Unicode-aware lower() stays
    # in the JVM), maps tokens to vocab indices (exact byte equality;
    # miss → <unk>, the same when/join fallback), sums the unscaled
    # bigint log-probs with one vectorized searchsorted lookup per
    # batch, and emits ONE row per document. Sums of unscaled bigints
    # are exact; the decimal reconstruction, the double division and the
    # round(…, 4) stay the identical JVM expressions. Pinned equal to
    # the all-JVM scoring tail tests/native_twins.lm_score_native by
    # tests/test_arrow_kernel_parity.
    vocab_terms = [r[0] for r in vocab.collect()]
    vmap = {t.encode(): i for i, t in enumerate(vocab_terms)}
    V1 = len(vocab_terms) + 1  # + <unk>
    unk_i = V1 - 1

    def _widx(w: str) -> int:
        return unk_i if w == UNK else vmap[w.encode()]

    import numpy as np

    back_arr = np.zeros(V1, dtype=np.int64)
    for r in backoff_l.collect():
        back_arr[_widx(r["w2"])] = r["_back_l"]
    den_arr = np.zeros(V1, dtype=np.int64)
    for r in denom_l.collect():
        den_arr[_widx(r["w1"])] = r["_den_l"]
    big_rows = bigram_l.collect()
    bkeys = np.array(
        sorted(_widx(r["w1"]) * V1 + _widx(r["w2"]) for r in big_rows),
        dtype=np.int64,
    )
    bvals = np.empty(len(big_rows), dtype=np.int64)
    order = {k: p for p, k in enumerate(bkeys.tolist())}
    for r in big_rows:
        bvals[order[_widx(r["w1"]) * V1 + _widx(r["w2"])]] = r["_num_l"]

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
                toks = (nb or b"").translate(sep).split()
                lens[r] = len(toks)
                flat.extend(vmap.get(t, unk_i) for t in toks)
            ids_flat = np.asarray(flat, dtype=np.int64)
            ends = np.cumsum(lens)
            starts = ends - lens
            # bigram positions: every adjacent pair NOT crossing a doc
            # boundary; per-doc sums via prefix sums of the masked lps
            if len(ids_flat) >= 2:
                w1 = ids_flat[:-1]
                w2 = ids_flat[1:]
                if len(bkeys):
                    keys = w1 * V1 + w2
                    pos = np.searchsorted(bkeys, keys)
                    pos_c = np.minimum(pos, len(bkeys) - 1)
                    hit = (pos < len(bkeys)) & (bkeys[pos_c] == keys)
                    lp = np.where(hit, bvals[pos_c], back_arr[w2]) - den_arr[w1]
                else:
                    lp = back_arr[w2] - den_arr[w1]
                # zero out pairs that cross doc boundaries (position
                # ends[r]-1 pairs the last token of doc r with the first
                # of doc r+1)
                cross = ends[:-1][(ends[:-1] > 0) & (ends[:-1] < len(ids_flat))]
                lp[cross - 1] = 0
                cs = np.zeros(len(lp) + 1, dtype=np.int64)
                np.cumsum(lp, dtype=np.int64, out=cs[1:])
                # clamp: a trailing empty doc has starts == ends ==
                # len(ids_flat), one past the last prefix-sum slot; its
                # clamped start==end still yields the required 0
                sum_starts = np.minimum(starts, len(lp))
                sum_ends = np.minimum(np.maximum(ends - 1, starts), len(lp))
                sums = cs[sum_ends] - cs[sum_starts]
            else:
                sums = np.zeros(n_rows, dtype=np.int64)
            nbg = np.maximum(lens - 1, 0)
            yield pa.RecordBatch.from_arrays(
                [ids, pa.array(nbg), pa.array(sums)],
                [id_col, "n_bigrams", "_sum_lp_l"],
            )

    scored = staged.mapInArrow(
        kernel, f"{id_col} {id_t}, n_bigrams bigint, _sum_lp_l bigint"
    )
    return scored.select(
        F.col(id_col),
        F.col("n_bigrams"),
        F.when(
            F.col("n_bigrams") > 0,
            F.round(
                (-_unscaled_to_decimal(F.col("_sum_lp_l")).cast("double"))
                / F.col("n_bigrams"),
                4,
            ),
        ).alias("mean_nll"),
    )


def perplexity_filter(
    docs: DataFrame,
    model_docs: DataFrame,
    max_nll: float,
    vocab_size: int = 512,
    alpha: float = 0.5,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """docs whose mean_nll under the target LM is <= max_nll (CCNet's
    head/middle cut). Docs too short to score (NULL mean_nll) are KEPT —
    absence of evidence, per CCNet practice of routing unscorable docs
    to a separate bucket rather than silently dropping them."""
    nll = lm_mean_nll(docs, model_docs, vocab_size, alpha, id_col, text_col)
    keep = nll.where(
        F.col("mean_nll").isNull() | (F.col("mean_nll") <= F.lit(max_nll))
    ).select(id_col)
    return docs.join(keep, id_col, "left_semi")
