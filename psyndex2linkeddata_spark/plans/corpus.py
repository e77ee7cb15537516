"""The training-corpus preparation pipeline, composed as one plan.

docs → PII scrub → quality/repetition filter → benchmark decontamination
→ deterministic mix sampling → near-dup dedup (canonical only) → chunking.

Everything up to dedup is NARROW (scrub and every repetition/quality
signal are per-row projections and filters that fuse into the scan —
including top_bigram, computed as a sorted-run mode count rather than a
frequency-map shuffle; decontamination is a broadcast semi-join; mix
sampling is a hash filter). The whole prep therefore costs: one corpus
scan + the dedup stage's LSH bucket shuffle + the (tiny) pair-graph
closure — which is the minimum any near-dup-deduped corpus prep can pay.

Order matters and is deliberate:
- scrub BEFORE anything that hashes text (PII must not reach chunk/dedup
  keys);
- cheap per-row filters BEFORE the decontamination explode (fewer grams);
- dedup BEFORE chunking (don't pay chunking for documents that get
  dropped, and canonical docs keep chunk keys stable);
- mix sampling before dedup: the hash decision is content-keyed, so the
  sample is reproducible regardless of where it sits; putting it early
  shrinks every downstream stage.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from psyndex2linkeddata_spark.functions.textstats import with_top_bigram_frac
from psyndex2linkeddata_spark.operators.chunking import cdc_chunks, chunk_tokens
from psyndex2linkeddata_spark.operators.decontaminate import contaminated_ids
from psyndex2linkeddata_spark.operators.dedup import neardup_clusters, tokens
from psyndex2linkeddata_spark.operators.pii import scrub_pii
from psyndex2linkeddata_spark.operators.sampling import stratified_hash_sample


def prepare_training_corpus(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    benchmark: DataFrame | None = None,
    decontaminate_n: int = 8,
    mix_rates: dict[str, float] | None = None,
    strata_col: str = "source",
    min_tokens: int = 5,
    max_dup_word_frac: float = 0.9,
    max_top_bigram_frac: float | None = None,
    dedup: bool = True,
    chunking: str = "cdc",
    chunk_window: int = 512,
    chunk_stride: int = 448,
    cdc_divisor: int = 512,
    lm_model_docs: DataFrame | None = None,
    lm_max_nll: float = 9.0,
    lm_vocab_size: int = 512,
) -> DataFrame:
    """(id, chunk_id, chunk_text, n_tokens) training chunks from raw docs.

    `chunking`: 'cdc' (content-defined, edit-stable keys), 'fixed'
    (sliding windows), or 'none' (return cleaned docs instead).
    `benchmark=None` skips decontamination; `mix_rates=None` keeps
    every stratum; `max_top_bigram_frac=None` skips that gate.
    `lm_model_docs` inserts the CCNet perplexity cut (operators/lm)
    after the per-row gates and before decontamination/dedup — the
    CCNet ordering (lang/quality → LM filter → dedup); docs scoring
    worse than `lm_max_nll` under the bigram model trained on the
    given target corpus are dropped (unscorable short docs are kept).
    """
    d = docs
    if mix_rates is not None:
        d = stratified_hash_sample(d, mix_rates, strata_col, id_col)
    d = d.withColumn(text_col, scrub_pii(F.col(text_col)))
    # Per-row quality signals as COLUMNS, then one materialization, then
    # the gates as attribute filters. Gating on live expressions instead
    # lets predicate pushdown substitute the whole signal tree (scrub
    # regexes, token split, sorted-bigram aggregate) into the filter and
    # re-evaluate it per reference — and per element inside the HOF
    # lambdas (see the pushdown-hazard note on with_top_bigram_frac);
    # measured 21s → ~3s for this gate block at sf0.1/local[32]. The
    # checkpoint is the same "persist the cleaned corpus once" barrier a
    # production run pays anyway before the global passes.
    toks = tokens(F.col(text_col))
    d = d.select("*", toks.alias("__toks"))
    n = F.size(F.col("__toks"))
    dup_frac = F.when(
        n > 0,
        (n - F.size(F.array_distinct(F.col("__toks")))) / n.cast("double"),
    ).otherwise(F.lit(0.0))
    d = d.select("*", n.alias("__ntok"), dup_frac.alias("__dup")).drop("__toks")
    if max_top_bigram_frac is not None:
        # per-row signal: sorted-run mode count, no shuffle (textstats)
        d = with_top_bigram_frac(d, text_col, "__tbf")
    d = d.localCheckpoint(eager=False)
    d = d.where(
        (F.col("__ntok") >= min_tokens) & (F.col("__dup") <= max_dup_word_frac)
    )
    if max_top_bigram_frac is not None:
        d = d.where(F.col("__tbf") <= max_top_bigram_frac).drop("__tbf")
    d = d.drop("__ntok", "__dup")
    if lm_model_docs is not None:
        from psyndex2linkeddata_spark.operators.lm import perplexity_filter

        # runs on the checkpointed post-gate corpus, so the scoring
        # pass reads materialized partitions, not the gate chain
        d = perplexity_filter(
            d,
            lm_model_docs,
            max_nll=lm_max_nll,
            vocab_size=lm_vocab_size,
            id_col=id_col,
            text_col=text_col,
        )
    if benchmark is not None:
        bad = contaminated_ids(
            d, benchmark, decontaminate_n, id_col, text_col
        )
        d = d.join(bad, id_col, "left_anti")
    if dedup:
        # The cleaned corpus is consumed three times below (the LSH pair
        # edges, the id side of the cluster assignment join, and the
        # chunker); without a materialization every reference re-executes
        # the gate/decontamination chain — including the n-gram explode —
        # from the scan. Lazy localCheckpoint: first use materializes, the
        # rest read partitions. Together with the signal barrier above,
        # the composed corpus_prep went 101s → 19s at sf0.1/local[32]. On
        # a real cluster this is where the prepped corpus would be written
        # to the warehouse table anyway (sources/warehouse.py) — a
        # reusable barrier either way.
        d = d.localCheckpoint(eager=False)
        keep = neardup_clusters(d, id_col, text_col).where("is_canonical")
        d = d.join(keep.select(id_col), id_col, "left_semi")
    if chunking == "none":
        return d
    if chunking == "fixed":
        return chunk_tokens(d, id_col, text_col, chunk_window, chunk_stride)
    if chunking == "cdc":
        return cdc_chunks(d, id_col, text_col, divisor=cdc_divisor)
    raise ValueError(f"unknown chunking mode {chunking!r}")

