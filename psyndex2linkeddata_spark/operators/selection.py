"""Target-distribution data selection: DSIR-style importance resampling
(Xie et al. 2023, arXiv:2302.03169 — "Data Selection for Language Models
via Importance Resampling") over hashed n-gram features.

The pipeline shape a pre-training corpus needs when a small high-quality
TARGET corpus (wiki/books-like) should steer what is kept from a huge RAW
crawl: featurize both sides into B hashed n-gram buckets, fit smoothed
bag-of-buckets distributions p (target) and q (raw), score every raw
document by its log importance weight sum_b cnt_b·(ln p_b − ln q_b), and
resample via the Gumbel-top-k trick (deterministic md5-derived Gumbel
noise — reproducible across runs, partitionings and engines).

Scale shape (10^12 raw docs):
- featurization is a narrow explode + one groupBy(doc, bucket) with
  map-side combine; bucket keys are md5-uniform;
- both distributions reduce to B≈10^4 rows — the log-ratio table
  is broadcast, never shuffled;
- per-doc weights: one groupBy(doc) sum over the doc's own buckets;
- the only global step is top-k, which Spark executes as per-partition
  top-k + driver merge (TakeOrderedAndProject), not a full sort.

Determinism: the per-bucket log-ratio is cast to DECIMAL(20,10) ONCE
(one value per bucket), so each doc's weight is an EXACT decimal sum —
independent of row order and shuffle layout, and replayable bucket-for-
bucket in DuckDB (the driver oracle does).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window, functions as F

from psyndex2linkeddata_spark.operators.dedup import norm_text


def hashed_ngram_counts(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_buckets: int = 1024,
    max_n: int = 2,
) -> DataFrame:
    """(id, bucket, cnt): hashed uni..max_n-gram counts per document, via
    one mapInArrow kernel over the JVM-normalized text (r06 second Arrow
    wave — the same hash-each-distinct-value-once shape as the minhash
    signature kernel). A gram's bucket is the first 32 md5 bits of its
    UTF-8 bytes mod n_buckets — DuckDB replays
    ('0x' || substr(md5(g),1,8))::bigint % B.

    String semantics stay in the JVM (norm_text); the kernel sees UTF-8
    bytes and builds the grams itself as byte slices of the normalized
    text (norm_text is single-space separated, so splitting on the space
    byte with empties dropped is byte-for-byte the JVM's `\\S+` token
    run set, and joining n-token windows with b" " reproduces exactly
    the n-grams with multiplicity). Each
    DISTINCT gram is bucketed once per task as
    int.from_bytes(md5(bytes)[:4], 'big') % B — byte-identical to the
    JVM's conv(substring(md5(g),1,8),16,10) % B, both the unsigned
    big-endian value of the first 32 digest bits — and (doc, bucket)
    pairs are counted with one np.unique over docindex*B + bucket keys.
    A document is one input row, so its counts are complete within its
    batch and the (id, bucket) grain is final — the multi-regex gram
    construction, the per-row interpreted conv, the explode, the
    explicit exchange and both aggregations all disappear. Docs with no
    grams emit nothing. Pinned equal to the explode→groupBy JVM form
    tests/native_twins.hashed_ngram_counts_native by
    tests/test_arrow_kernel_parity."""
    import pyarrow as pa

    from psyndex2linkeddata_spark.operators.skew import fanout_partitions

    staged = df.select(
        F.col(id_col), norm_text(F.col(text_col)).alias("_norm")
    ).repartition(fanout_partitions(df), id_col)
    id_t = staged.schema[id_col].dataType.simpleString()

    def kernel(batches):
        import hashlib

        import numpy as np

        cache: dict = {}

        def _bucket(sb: bytes) -> int:
            got = cache.get(sb)
            if got is None:
                got = (
                    int.from_bytes(hashlib.md5(sb).digest()[:4], "big")
                    % n_buckets
                )
                cache[sb] = got
            return got

        for b in batches:
            ids = b.column(0)
            norms = b.column(1).cast(pa.binary()).to_pylist()
            if len(norms) == 0:
                continue
            if len(cache) > 4_000_000:  # bound per-task memory on
                cache.clear()           # real-web vocabularies
            docidx: list = []
            buckets: list = []
            for r, nb in enumerate(norms):
                toks = [t for t in nb.split(b" ") if t]
                if not toks:
                    continue
                row_buckets = [_bucket(t) for t in toks]
                # the JVM gram construction's quirk replicated (see
                # the kernel docstring of dedup.minhash_signatures):
                # leading-space norm degenerates every offset to offset
                # 0, and the grams CONCAT without distinct — n copies
                # of the stride-n windows
                leading = nb.startswith(b" ")
                for n in range(2, max_n + 1):
                    if leading:
                        row_buckets.extend(
                            _bucket(b" ".join(toks[i : i + n]))
                            for _ in range(n)
                            for i in range(0, len(toks) - n + 1, n)
                        )
                    else:
                        row_buckets.extend(
                            _bucket(b" ".join(toks[i : i + n]))
                            for i in range(len(toks) - n + 1)
                        )
                buckets.extend(row_buckets)
                docidx.extend([r] * len(row_buckets))
            if not buckets:
                continue
            key = (
                np.asarray(docidx, dtype=np.int64) * n_buckets
                + np.asarray(buckets, dtype=np.int64)
            )
            uniq, counts = np.unique(key, return_counts=True)
            out_ids = ids.take(pa.array(uniq // n_buckets))
            yield pa.RecordBatch.from_arrays(
                [
                    out_ids,
                    pa.array((uniq % n_buckets).astype(np.int32)),
                    pa.array(counts.astype(np.int64)),
                ],
                [id_col, "bucket", "cnt"],
            )

    return staged.mapInArrow(
        kernel, f"{id_col} {id_t}, bucket int, cnt bigint"
    )


def bucket_log_probs(
    features: DataFrame, n_buckets: int, smoothing: float = 1.0
) -> DataFrame:
    """(bucket, logp) over ALL buckets 0..B-1: add-λ smoothed corpus
    distribution ln((c_b + λ) / (total + λ·B)). The full-range sequence
    keeps unseen buckets present, so the ratio table below never drops a
    bucket."""
    spark = features.sparkSession
    per_bucket = features.groupBy("bucket").agg(F.sum("cnt").alias("c"))
    all_buckets = spark.range(n_buckets).select(F.col("id").cast("int").alias("bucket"))
    filled = all_buckets.join(per_bucket, "bucket", "left").select(
        "bucket", F.coalesce(F.col("c"), F.lit(0)).alias("c")
    )
    total = filled.agg(F.sum("c").alias("t"))
    return filled.crossJoin(F.broadcast(total)).select(
        "bucket",
        F.log(
            (F.col("c") + F.lit(float(smoothing)))
            / (F.col("t") + F.lit(float(smoothing) * n_buckets))
        ).alias("logp"),
    )


def dsir_weights(
    raw: DataFrame,
    target: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_buckets: int = 1024,
    max_n: int = 2,
    smoothing: float = 1.0,
) -> DataFrame:
    """(id, weight): per-raw-doc log importance weight
    sum_b cnt_b · (ln p_target(b) − ln q_raw(b)), as an exact decimal sum
    over the per-bucket DECIMAL(20,10) log-ratio (row-order independent).
    Docs with no grams (empty text) get weight 0."""
    raw_feats = hashed_ngram_counts(raw, id_col, text_col, n_buckets, max_n)
    tgt_feats = hashed_ngram_counts(target, id_col, text_col, n_buckets, max_n)
    logq = bucket_log_probs(raw_feats, n_buckets, smoothing)
    logp = bucket_log_probs(tgt_feats, n_buckets, smoothing)
    ratio = (
        logp.join(logq.withColumnRenamed("logp", "logq"), "bucket")
        .select(
            "bucket",
            (F.col("logp") - F.col("logq")).cast("decimal(20,10)").alias("lr"),
        )
    )
    weights = (
        raw_feats.join(F.broadcast(ratio), "bucket")
        .groupBy(id_col)
        .agg(F.sum(F.col("cnt") * F.col("lr")).alias("weight"))
    )
    return raw.select(id_col).join(weights, id_col, "left").select(
        F.col(id_col),
        F.coalesce(F.col("weight"), F.lit(0).cast("decimal(20,10)")).alias("weight"),
    )


def gumbel_noise(id_col: Column) -> Column:
    """Deterministic standard Gumbel draw per id: u = the first 52 md5
    bits of the id's decimal string scaled to (0,1) — an exact dyadic
    rational, so the double is reproduced bit-for-bit by DuckDB's
    ('0x'||substr(md5(id::VARCHAR),1,13))::bigint / 2^52 — then
    −ln(−ln(u)). The +1 offset keeps u > 0."""
    u = (
        F.conv(F.substring(F.md5(id_col.cast("string")), 1, 13), 16, 10).cast(
            "double"
        )
        + F.lit(1.0)
    ) / F.lit(float(2**52))
    return -F.log(-F.log(u))


def dsir_select(
    raw: DataFrame,
    target: DataFrame,
    k: int,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_buckets: int = 1024,
    max_n: int = 2,
    smoothing: float = 1.0,
    temperature: float = 1.0,
    gumbel: bool = True,
) -> DataFrame:
    """Top-k selection from `raw` steered toward `target`'s distribution:
    Gumbel-top-k over weight/temperature + Gumbel noise ≡ sampling k docs
    without replacement with probability ∝ exp(weight/temperature) — the
    paper's resampling step with md5-derived noise instead of an RNG.
    `gumbel=False` degrades to deterministic hard top-k by weight
    (the paper's ablation). Returns (id, weight, score, rank ≤ k)."""
    w = dsir_weights(raw, target, id_col, text_col, n_buckets, max_n, smoothing)
    score = F.col("weight").cast("double") / F.lit(float(temperature))
    if gumbel:
        score = score + gumbel_noise(F.col(id_col))
    scored = w.select(id_col, "weight", score.alias("score"))
    # distributed top-k (TakeOrderedAndProject: per-partition heaps +
    # driver merge), NOT a global row_number window (which would drag the
    # whole corpus into one partition); the rank window then runs over
    # only the k survivors
    topk = scored.orderBy(F.col("score").desc(), F.col(id_col).asc()).limit(k)
    win = Window.orderBy(F.col("score").desc(), F.col(id_col).asc())
    return topk.withColumn("rank", F.row_number().over(win)).select(
        id_col, "weight", "score", "rank"
    )
