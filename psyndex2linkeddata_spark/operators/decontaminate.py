"""Benchmark decontamination: flag training documents that share any
word n-gram with an evaluation/benchmark corpus.

The standard pretraining hygiene pass (e.g. GPT-3 appendix C, PaLM §6):
a doc containing any benchmark n-gram (typically 8-13 words) leaks eval
answers into training and must be dropped or flagged before the mix.

Scale shape: benchmark corpora are tiny next to the training corpus
(10^5-10^7 grams vs 10^12 docs), so the gram set broadcasts and the
check is a broadcast LEFT SEMI join on the exploded doc grams — the
corpus side never shuffles; the explode is narrow and the semi-join
short-circuits per match. `broadcast_bench=False` degrades to a plain
shuffle semi-join for oversized benchmark sets. Token/shingle arrays are
staged as attributes: an inlined expression is re-evaluated by the
interpreted HOF evaluator per element, O(n²) per doc.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from psyndex2linkeddata_spark.operators.dedup import norm_text, shingle_array


def _grams(
    df: DataFrame, text_col: str, n: int, extra_cols: list[str]
) -> DataFrame:
    # explode_OUTER: avoids Catalyst's inferred size>0 pre-filter,
    # which re-evaluates the staged shingle construction per row;
    # shingle_array is never empty/null, so the rows are identical.
    return df.select(
        *extra_cols, norm_text(F.col(text_col)).alias("_norm")
    ).select(
        *extra_cols,
        F.explode_outer(shingle_array(F.col("_norm"), n)).alias("_gram"),
    )


def contaminated_ids(
    docs: DataFrame,
    benchmark: DataFrame,
    n: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
    bench_text_col: str = "text",
    broadcast_bench: bool = True,
) -> DataFrame:
    """Distinct ids of docs sharing ≥1 word n-gram with `benchmark`.

    broadcast_bench=True (the scale default — benchmark suites are tiny
    next to the corpus, the same bound that let the native plan
    broadcast the gram set) dispatches to an Arrow kernel: the benchmark
    gram set is collected once into a Python set of UTF-8 byte strings
    and each document's n-gram windows are probed against it with an
    early exit on the first hit — the corpus-side explode and the
    broadcast semi-join disappear. The kernel emits one id per
    contaminated row, so a final distinct keeps the contract when
    `docs` repeats an id (decontaminate's left join would fan out
    otherwise). Gram construction is the
    byte-slice replication of shingle_array (see
    operators/dedup.minhash_signatures — n ≥ 4 uses the
    quirk-free lookahead semantics; n ≤ 3 replicates the leading-space
    stride); set membership is byte equality == the JVM's string
    equality. Pinned bit-equal to the native form
    (`contaminated_ids_native`) by tests/test_arrow_kernel_parity.
    broadcast_bench=False keeps the shuffle semi-join for oversized
    benchmark sets."""
    if not broadcast_bench:
        return contaminated_ids_native(
            docs, benchmark, n, id_col, text_col, bench_text_col, False
        )
    import pyarrow as pa

    bench_grams = _grams(benchmark, bench_text_col, n, []).distinct()
    bench_set = {
        r["_gram"].encode() for r in bench_grams.collect()
    }
    staged = docs.select(
        F.col(id_col), norm_text(F.col(text_col)).alias("_norm")
    )
    id_t = staged.schema[id_col].dataType.simpleString()

    def kernel(batches):
        for b in batches:
            ids = b.column(0)
            norms = b.column(1).cast(pa.binary()).to_pylist()
            if not norms:
                continue
            hit_idx: list = []
            for r, nb in enumerate(norms):
                toks = [t for t in nb.split(b" ") if t]
                if len(toks) >= n:
                    if n <= 3 and nb.startswith(b" "):
                        rng = range(0, len(toks) - n + 1, n)
                    else:
                        rng = range(len(toks) - n + 1)
                    for i in rng:
                        if b" ".join(toks[i : i + n]) in bench_set:
                            hit_idx.append(r)
                            break
                elif nb in bench_set:
                    hit_idx.append(r)
            yield pa.RecordBatch.from_arrays(
                [ids.take(pa.array(hit_idx, pa.int64()))], [id_col]
            )

    return staged.mapInArrow(kernel, f"{id_col} {id_t}").distinct()


def contaminated_ids_native(
    docs: DataFrame,
    benchmark: DataFrame,
    n: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
    bench_text_col: str = "text",
    broadcast_bench: bool = True,
) -> DataFrame:
    """The all-JVM explode + semi-join form of contaminated_ids
    (cross-check / oversized-benchmark fallback)."""
    bench_grams = _grams(benchmark, bench_text_col, n, []).distinct()
    if broadcast_bench:
        bench_grams = F.broadcast(bench_grams)
    return (
        _grams(docs, text_col, n, [id_col])
        .join(bench_grams, "_gram", "left_semi")
        .select(id_col)
        .distinct()
    )


def decontaminate(
    docs: DataFrame,
    benchmark: DataFrame,
    n: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
    bench_text_col: str = "text",
    broadcast_bench: bool = True,
) -> DataFrame:
    """docs + a `contaminated` boolean (keep-filter: `where NOT
    contaminated`; flagging instead of dropping keeps the audit trail)."""
    hits = contaminated_ids(
        docs, benchmark, n, id_col, text_col, bench_text_col, broadcast_bench
    ).withColumn("contaminated", F.lit(True))
    return docs.join(hits, id_col, "left").withColumn(
        "contaminated", F.coalesce(F.col("contaminated"), F.lit(False))
    )
