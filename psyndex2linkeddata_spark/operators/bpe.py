"""Byte-pair-encoding tokenizer: corpus-scale training and encoding —
the train-your-own-tokenizer stage of a pre-training data pipeline
(token budgeting, dedup-by-token-count, sequence packing all want the
REAL subword token stream, not the whitespace proxy in
functions/textstats.py).

Word-level BPE exactly as in Sennrich et al. 2016 (arXiv:1508.07909)
and its reference implementation subword-nmt: words never merge across
boundaries, each word ends with the `</w>` marker, and each round
merges the globally most frequent adjacent symbol pair (ties broken
lexicographically so training is fully deterministic).

Scale split — the part that must distribute vs the part that must not:

- `bpe_word_counts` is the ONE corpus-sized pass: tokenize + explode +
  groupBy(word) with map-side combine. 10^12 documents reduce to the
  distinct-word table (10^7-ish rows for web text — Heaps' law), which
  is exactly the "aggregate to a small table, then work on that" shape
  of a broadcast dim build.
- `train_bpe` runs the merge loop over that aggregated table
  driver-side (collected once, documented bound: the WORD-COUNT table,
  never the corpus). This is how subword-nmt/fastBPE train too — the
  loop is inherently sequential (merge k+1 depends on merge k), and
  10^3-10^5 rounds of Spark jobs over a table that fits in one
  executor's memory would be pure scheduler overhead. The distributed
  system's job is the counting pass and the encoding pass.
- `bpe_encode` / `bpe_token_counts` distribute again: the learned merge
  ranks broadcast to an Arrow-batched pandas UDF that applies greedy
  lowest-rank-first merging per word (the GPT-2-style rank loop) with
  an LRU word cache — Zipf makes the cache hit rate ~99% on web text,
  so the per-batch cost is dominated by the few novel words.
"""

from __future__ import annotations


import pandas as pd
from pyspark.sql import Column, DataFrame, functions as F
from pyspark.sql.types import ArrayType, StringType

from psyndex2linkeddata_spark.operators.retrieval import tokenize_terms

__all__ = [
    "bpe_word_counts",
    "bounded_word_counts",
    "train_bpe",
    "bpe_encode",
    "bpe_token_counts",
]

_EOW = "</w>"


def bpe_word_counts(
    docs: DataFrame, text_col: str = "text"
) -> DataFrame:
    """(word, cnt) over the corpus — the single corpus-sized pass of
    BPE training. Same tokenizer as retrieval/classify ([a-z0-9]+ on
    lowercased text) so token accounting is consistent across the
    pipeline."""
    return (
        docs.select(F.explode(tokenize_terms(F.col(text_col))).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def _pairs_of(syms: tuple[str, ...]):
    return zip(syms, syms[1:])


def bounded_word_counts(
    word_counts: DataFrame,
    min_count: int = 1,
    max_vocab: int | None = 1_000_000,
) -> DataFrame:
    """Bound the (word, cnt) table BEFORE it is collected to the driver.

    A 100 TB web corpus has billions of distinct alphanumeric "words"
    (typos, numbers, other scripts) — an unbounded collect OOMs the
    driver even though the merge loop itself only needs the frequent
    head. Standard subword-nmt practice: drop words below `min_count`
    and cap to the `max_vocab` most frequent (ties broken on the word
    for determinism) — this changes learned merges only in the hapax
    tail. The cap compiles to TakeOrderedAndProject (per-partition
    top-V, no full sort), so driver memory is bounded by
    max_vocab · avg_word_len bytes regardless of corpus size."""
    wc = word_counts
    if min_count > 1:
        wc = wc.where(F.col("cnt") >= F.lit(int(min_count)))
    if max_vocab is not None:
        wc = wc.orderBy(F.col("cnt").desc(), F.col("word").asc()).limit(
            int(max_vocab)
        )
    return wc


def train_bpe(
    word_counts: DataFrame | list[tuple[str, int]],
    n_merges: int = 1000,
    min_pair_count: int = 2,
    min_count: int = 1,
    max_vocab: int | None = 1_000_000,
) -> list[tuple[str, str]]:
    """Learn `n_merges` BPE merges from a (word, cnt) table. Returns the
    ordered merge list [(left, right), ...] — rank = list position.

    Accepts the DataFrame from bpe_word_counts — bounded via
    `bounded_word_counts(min_count, max_vocab)` and only then collected,
    so driver memory is max_vocab · avg_word_len regardless of corpus
    size (an unbounded distinct-word collect OOMs at web scale) — or a
    plain list for tests (used as-is). Stops early when the best
    remaining pair occurs < min_pair_count times (merging hapax pairs
    just memorizes the corpus). Ties on count break on the
    lexicographically smallest (left, right) so the result is
    deterministic and engine-independent.

    Incremental pair maintenance: a merge only changes pair counts for
    words CONTAINING the merged pair, so each round touches the
    index entry of that one pair — O(occurrences) per round, the
    standard subword-nmt optimization, not a full recount."""
    if isinstance(word_counts, DataFrame):
        bounded = bounded_word_counts(word_counts, min_count, max_vocab)
        rows = [(r["word"], r["cnt"]) for r in bounded.collect()]
    else:
        rows = list(word_counts)

    # word -> (symbol tuple, count); start from characters + </w>
    words: dict[int, tuple[tuple[str, ...], int]] = {}
    for i, (w, c) in enumerate(rows):
        if w:
            words[i] = (tuple(w) + (_EOW,), int(c))

    # pair -> total count, and pair -> {word ids containing it}
    pair_counts: dict[tuple[str, str], int] = {}
    pair_words: dict[tuple[str, str], set[int]] = {}
    for wid, (syms, cnt) in words.items():
        for p in _pairs_of(syms):
            pair_counts[p] = pair_counts.get(p, 0) + cnt
            pair_words.setdefault(p, set()).add(wid)

    merges: list[tuple[str, str]] = []
    for _ in range(n_merges):
        if not pair_counts:
            break
        best = min(pair_counts.items(), key=lambda kv: (-kv[1], kv[0]))[0]
        if pair_counts[best] < min_pair_count:
            break
        merges.append(best)
        a, b = best
        ab = a + b
        for wid in list(pair_words.get(best, ())):
            syms, cnt = words[wid]
            # remove this word's contribution to every old pair
            for p in _pairs_of(syms):
                pair_counts[p] -= cnt
                if pair_counts[p] <= 0:
                    pair_counts.pop(p, None)
                s = pair_words.get(p)
                if s is not None:
                    s.discard(wid)
                    if not s:
                        pair_words.pop(p, None)
            # greedy left-to-right single-rule application
            out: list[str] = []
            i = 0
            while i < len(syms):
                if i + 1 < len(syms) and syms[i] == a and syms[i + 1] == b:
                    out.append(ab)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            new_syms = tuple(out)
            words[wid] = (new_syms, cnt)
            for p in _pairs_of(new_syms):
                pair_counts[p] = pair_counts.get(p, 0) + cnt
                pair_words.setdefault(p, set()).add(wid)
    return merges


def _encode_word(word: str, ranks: dict[tuple[str, str], int]) -> list[str]:
    """Apply learned merges to one word, lowest rank first — the
    rank-priority loop (equivalent to replaying merges in training
    order, since each round's winner is exactly the lowest-rank pair
    present)."""
    syms = list(word) + [_EOW]
    while len(syms) > 1:
        best_rank = None
        best_i = -1
        for i in range(len(syms) - 1):
            r = ranks.get((syms[i], syms[i + 1]))
            if r is not None and (best_rank is None or r < best_rank):
                best_rank = r
                best_i = i
        if best_rank is None:
            break
        syms[best_i : best_i + 2] = [syms[best_i] + syms[best_i + 1]]
    return syms


def bpe_encode(
    docs: DataFrame,
    merges: list[tuple[str, str]],
    text_col: str = "text",
    out_col: str = "bpe_tokens",
) -> DataFrame:
    """docs + an `out_col` array<string> of BPE tokens. The merge-rank
    table broadcasts inside an Arrow-batched pandas UDF; per-word LRU
    cache exploits the Zipf head (most batch words repeat)."""
    ranks = {tuple(p): i for i, p in enumerate(merges)}
    # closure-level cache: deserialized ONCE per python worker and kept
    # across Arrow batches (an lru_cache defined inside the UDF body is
    # rebuilt every batch, wasting the Zipf head). Bounded by a clear —
    # web-text vocab is ~10^6-ish, well under the cap
    cache: dict[str, tuple[str, ...]] = {}

    @F.pandas_udf(ArrayType(StringType()))
    def encode(texts: pd.Series) -> pd.Series:
        import re

        tok = re.compile(r"[^a-z0-9]+")

        def enc(word: str) -> tuple[str, ...]:
            r = cache.get(word)
            if r is None:
                if len(cache) >= 1_000_000:
                    cache.clear()
                r = tuple(_encode_word(word, ranks))
                cache[word] = r
            return r

        def per_doc(t):
            if t is None:
                return []
            out: list[str] = []
            for w in tok.split(t.lower()):
                if w:
                    out.extend(enc(w))
            return out

        return texts.map(per_doc)

    return docs.withColumn(out_col, encode(F.col(text_col)))


def bpe_token_counts(
    docs: DataFrame,
    merges: list[tuple[str, str]],
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """(id, n_bpe_tokens, bpe_crc): per-doc subword token count plus a
    crc32 fingerprint of the space-joined token stream — the cheap
    whole-stream checksum the oracle pins."""
    enc = bpe_encode(docs, merges, text_col)
    return enc.select(
        F.col(id_col),
        F.size("bpe_tokens").alias("n_bpe_tokens"),
        F.crc32(F.array_join("bpe_tokens", " ")).alias("bpe_crc"),
    )
