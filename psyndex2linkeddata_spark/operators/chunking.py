"""Sliding-window text chunking for training-data pipelines.

A pretraining corpus is consumed as fixed-size token windows with a
stride (overlap keeps context across boundaries). This is the standard
"pack documents into W-token chunks, stride S" pass, expressed fully
natively: tokenize with `split`, explode a `sequence` of chunk indices,
`slice` the token array per index, `array_join` back to text. No UDF,
no HOF lambda in the hot path — one narrow projection plus one explode,
so it fuses into the scan stage and the output is exactly as partitioned
as the input (no shuffle at any scale).

Chunk k of a document covers tokens [k*S, k*S + W); the number of
chunks is ceil(max(n - (W - S), 1) / S) — i.e. windows advance by S and
the last window may be short; an empty/whitespace document still yields
one empty chunk so every doc_id survives (auditable 1:N lineage).

The identical arithmetic runs in the DuckDB oracle (1-based inclusive
list slicing mirrors Spark's slice(start, length)).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F


def tokens(col: Column) -> Column:
    """Whitespace tokens of the trimmed text. After trim the only way
    split produces an empty token is the empty string ([''] — Java split
    semantics), so a single `when` keeps blank/null docs at zero tokens
    without an interpreted higher-order filter."""
    t = F.coalesce(F.trim(col), F.lit(""))
    return F.when(t == "", F.array().cast("array<string>")).otherwise(
        F.split(t, r"\s+")
    )


def chunk_tokens(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    window: int = 40,
    stride: int = 30,
) -> DataFrame:
    """(id, chunk_id, chunk_text, n_tokens): sliding W-token windows
    advancing by `stride` tokens (stride ≤ window ⇒ window-stride tokens
    of overlap between consecutive chunks)."""
    if not 0 < stride <= window:
        raise ValueError("require 0 < stride <= window")
    toks = tokens(F.col(text_col))
    n = F.size(toks)
    # windows advance by S; everything past the first W-S tokens needs
    # ceil(·/S) more windows. greatest(…,1): blank docs keep one chunk.
    n_chunks = F.greatest(
        F.ceil((n - (window - stride)) / F.lit(float(stride))).cast("int"), F.lit(1)
    )
    return (
        df.select(F.col(id_col), toks.alias("_t"), n_chunks.alias("_nc"))
        .select(
            id_col,
            "_t",
            # outer: _nc >= 1 always, so rows are identical — the outer
            # form just never triggers the inferred size>0 pre-filter
            F.explode_outer(F.sequence(F.lit(0), F.col("_nc") - 1)).alias("chunk_id"),
        )
        .select(
            id_col,
            "chunk_id",
            F.slice(F.col("_t"), F.col("chunk_id") * stride + 1, window).alias("_c"),
        )
        .select(
            id_col,
            "chunk_id",
            F.array_join(F.col("_c"), " ").alias("chunk_text"),
            F.size(F.col("_c")).cast("long").alias("n_tokens"),
        )
    )


def _gram_hash32(gram: Column) -> Column:
    """First 32 bits of md5 as a bigint — the one hash both Spark and
    DuckDB compute identically (xxhash64 doesn't exist in DuckDB), so
    the oracle can replay boundary decisions bit-for-bit."""
    return F.conv(F.substring(F.md5(gram), 1, 8), 16, 10).cast("bigint")


def cdc_chunks(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    divisor: int = 8,
) -> DataFrame:
    """Content-defined chunking: (id, chunk_id, chunk_text, n_tokens)
    where a boundary falls AFTER token i whenever the hash of the k-gram
    ending at i ≡ 0 (mod divisor) — expected chunk length = `divisor`
    tokens.

    Why content-defined instead of fixed windows: boundaries depend only
    on a local k-token context, so inserting or deleting text re-chunks
    ONLY the neighborhood of the edit — every downstream chunk hash
    (dedup keys, embedding cache keys) stays stable, where fixed windows
    shift every subsequent chunk. That stability is the point at 100 TB:
    recrawls of near-identical pages dedup at the chunk level.

    Plan shape: one mapInArrow kernel, entirely per-row, zero shuffles.
    Kernel exactness: the JVM stages the case-preserving
    whitespace-collapsed text (trim + \\s+ → one space — Unicode/regex
    semantics stay in Catalyst); splitting its UTF-8 bytes on the space
    byte WITH empties kept reproduces Spark's split(trim(text), '\\s+')
    exactly (leading non-space whitespace yields the same leading empty
    token, Spark's limit=-1 keeps the same trailing empty), boundary
    decisions hash the same b\" \"-joined k-gram bytes through md5
    (first 32 digest bits mod divisor — the _gram_hash32 rule the DuckDB
    oracle replays), and chunk texts are the same single-space joins.
    Pinned bit-equal to the per-row HOF plan
    tests/native_twins.cdc_chunks_native by
    tests/test_arrow_kernel_parity."""
    import pyarrow as pa

    norm_case = F.regexp_replace(
        F.trim(F.coalesce(F.col(text_col), F.lit(""))), r"\s+", " "
    )
    staged = df.select(F.col(id_col), norm_case.alias("_nc"))
    id_t = staged.schema[id_col].dataType.simpleString()

    def kernel(batches):
        from hashlib import md5

        for b in batches:
            ids = b.column(0)
            norms = b.column(1).cast(pa.binary()).to_pylist()
            if not norms:
                continue
            out_idx: list = []
            out_cid: list = []
            out_txt: list = []
            out_ntk: list = []
            for r, nb in enumerate(norms):
                toks = nb.split(b" ") if nb else []
                n = len(toks)
                edges = [0]
                if n - 1 >= k:
                    sep = b" "
                    for i in range(k, n):
                        g = sep.join(toks[i - k : i])
                        if (
                            int.from_bytes(md5(g).digest()[:4], "big")
                            % divisor
                            == 0
                        ):
                            edges.append(i)
                edges.append(n)
                for j in range(len(edges) - 1):
                    piece = toks[edges[j] : edges[j + 1]]
                    out_idx.append(r)
                    out_cid.append(j)
                    out_txt.append(b" ".join(piece))
                    out_ntk.append(len(piece))
            yield pa.RecordBatch.from_arrays(
                [
                    ids.take(pa.array(out_idx, pa.int64())),
                    pa.array(out_cid, pa.int64()),
                    pa.array(out_txt, pa.binary()).cast(pa.string()),
                    pa.array(out_ntk, pa.int64()),
                ],
                [id_col, "chunk_id", "chunk_text", "n_tokens"],
            )

    return staged.mapInArrow(
        kernel,
        f"{id_col} {id_t}, chunk_id long, chunk_text string, n_tokens long",
    )


def pack_sequences(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    seq_len: int = 64,
    n_shards: int = 8,
    tokens_col: str | None = None,
) -> DataFrame:
    """Sequence packing for LM training: concatenate the shard's token
    stream in `id_col` order and cut it every `seq_len` tokens (the
    "concat-then-cut" packing that pretraining dataloaders apply), so
    every output row but the shard's last carries exactly `seq_len`
    tokens and NOTHING is padded or dropped.

    Why shards: a single global stream would serialize the cut through
    one partition. Documents are hash-sharded (md5 of the id — layout-
    and engine-independent, same keying as operators/sampling), each
    shard packs its own stream independently, and the shard count is the
    parallelism knob: at 10^12 docs you run n_shards ≈ O(cluster cores),
    each shard's stream is packed by window + groupBy inside one
    partition's worth of keys, and no task ever materializes more than
    one row-group of token arrays.

    Plan shape (fully native, no UDF): one window cumsum per shard for
    each row's global token offset, an explode of the row onto the
    [first, last] sequence indices it overlaps (a row crosses a cut ⇒ it
    contributes a slice to both neighbors), then groupBy (shard, seq_id)
    reassembles the pieces with array_sort on the (offset, piece)
    structs. ONE exchange total (verified in PLANS.md): the window
    shuffles on `shard`, and the groupBy's ClusteredDistribution on
    (shard, seq_id) is already satisfied by that hash partitioning —
    every (shard, seq_id) group lives inside one shard partition — so the
    aggregate runs shuffle-free on the window's output.

    Output: (shard, seq_id, seq_text, n_tokens, n_docs) — n_tokens ==
    seq_len everywhere except each shard's final partial sequence;
    n_docs = how many documents contributed (packing lineage).
    """
    from pyspark.sql import Window

    if seq_len <= 0 or n_shards <= 0:
        raise ValueError("require seq_len > 0 and n_shards > 0")
    # tokens_col: pack a pre-tokenized array column (e.g. operators/bpe
    # bpe_encode output) instead of whitespace-tokenizing text — the
    # real-tokenizer pre-training shape; the packing plan is identical
    toks = F.col(tokens_col) if tokens_col else tokens(F.col(text_col))
    shard = F.pmod(
        _gram_hash32(F.col(id_col).cast("string")), F.lit(n_shards)
    ).cast("int")
    base = df.select(
        F.col(id_col),
        shard.alias("shard"),
        toks.alias("_t"),
        F.size(toks).cast("long").alias("_n"),
    ).where(F.col("_n") > 0)
    w = (
        Window.partitionBy("shard")
        .orderBy(id_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    pos = base.withColumn("_start", F.sum("_n").over(w) - F.col("_n"))
    first = F.floor(F.col("_start") / seq_len).cast("int")
    last = F.floor((F.col("_start") + F.col("_n") - 1) / seq_len).cast("int")
    ex = pos.select(
        "shard",
        "_t",
        "_n",
        "_start",
        F.explode(F.sequence(first, last)).alias("seq_id"),
    )
    sid = F.col("seq_id").cast("long")
    lo = F.greatest(F.lit(0).cast("long"), sid * seq_len - F.col("_start"))
    take = F.least(F.col("_n"), (sid + 1) * seq_len - F.col("_start")) - lo
    sliced = ex.select(
        "shard",
        "seq_id",
        "_start",
        F.slice(F.col("_t"), (lo + 1).cast("int"), take.cast("int")).alias("_piece"),
    )
    agg = sliced.groupBy("shard", "seq_id").agg(
        F.array_sort(
            F.collect_list(F.struct(F.col("_start"), F.col("_piece")))
        ).alias("_parts"),
        F.count(F.lit(1)).cast("long").alias("n_docs"),
    )
    flat = F.flatten(F.transform(F.col("_parts"), lambda p: p["_piece"]))
    return agg.select(
        "shard",
        F.col("seq_id").cast("long").alias("seq_id"),
        F.array_join(flat, " ").alias("seq_text"),
        F.size(flat).cast("long").alias("n_tokens"),
        "n_docs",
    )
