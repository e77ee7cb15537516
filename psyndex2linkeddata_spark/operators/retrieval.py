"""Sparse lexical retrieval: BM25 scoring + top-k over an inverted
postings table, built entirely from native DataFrame ops (no Python in
the hot path).

This is the lexical complement to the dense ANN family in
operators/similarity.py (cosine_topk / lsh_cosine_topk / ivf_topk):
a training-data pipeline uses it for query-steered corpus selection,
benchmark decontamination by retrieval, and hard-negative mining.

Scale design (the 10^12-doc regime drives every stage):

- The corpus is tokenized ONCE and immediately semi-joined against the
  broadcast query vocabulary BEFORE the tf aggregation — the postings
  shuffle carries only query-vocabulary terms, a tiny fraction of the
  corpus token stream. The full inverted index is never materialized.
- df(term) is computed AFTER that filter, which is lossless: filtering
  by term keeps every posting of a kept term, so per-term document
  frequencies are exact.
- Corpus-wide N and avgdl come from one narrow partial-agg (no
  shuffle) crossJoined back as a broadcast 1-row table — no collect(),
  the whole job stays one plan.
- Per-term idf is cast to DECIMAL(20,10) once (one value per query
  term) so each (query, doc) score is an EXACT decimal sum —
  row-order independent, hence byte-replayable by the DuckDB oracle
  (same trick as operators/selection.py's DSIR log-ratio table).
- Top-k per query is the salted two-phase window of
  operators/hosts.cap_per_host: phase 1 ranks within (query, salt)
  where salt = md5-bits of the doc id, so a query whose terms hit 10^9
  documents never funnels through one task; phase 2 ranks the
  <= k*n_salts survivors exactly. Result is identical to one global
  window (top-k distributes over a partition of the candidates).

Hot-term skew note: a stop-word-ish query term with a 10^8-row postings
list skews the (doc, term) tf groupBy no worse than the corpus itself
(keys are (doc, dl, term) — doc-unique), and the scoring join
broadcasts the term-side tables; the only doc-keyed shuffle is the
final per-(query, doc) decimal sum, uniform in doc.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
import pyspark.sql.functions as F

__all__ = ["tokenize_terms", "bm25_topk", "rrf_fuse"]


def tokenize_terms(col: Column) -> Column:
    """Lowercase alphanumeric terms (empty tokens from leading/trailing
    separators dropped) — mirrored verbatim by the DuckDB oracle's
    string_split_regex(lower(x), '[^a-z0-9]+')."""
    return F.filter(F.split(F.lower(col), "[^a-z0-9]+"), lambda t: t != "")


def _unscaled_to_decimal(col: Column) -> Column:
    """bigint unscaled(×10^10) → DECIMAL(20,10), exactly: the product
    with the 1e-10 decimal literal is a pure scale shift inside
    decimal(35,10) (no rounding), then a value-preserving downcast."""
    from decimal import Decimal

    return (col.cast("decimal(24,0)") * F.lit(Decimal("0.0000000001"))).cast(
        "decimal(20,10)"
    )


def _bm25_per_posting(
    docs: DataFrame,
    queries: DataFrame,
    k1: float = 1.2,
    b: float = 0.75,
    id_col: str = "doc_id",
    text_col: str = "text",
    query_id_col: str = "query_id",
    query_text_col: str = "query_text",
    barrier: bool = True,
    max_df_frac: float | None = None,
) -> tuple[DataFrame, DataFrame]:
    """((doc_id, term, _sl), (query_id, term)) — the per-(term, doc)
    unscaled BM25 contribution table (doc-partitioned, exchange-free
    aggregations; see inline notes) and the distinct query-term pairs.
    Lucene-style BM25:
    idf = ln(1 + (N - df + 0.5)/(df + 0.5)), tf component
    tf*(k1+1) / (tf + k1*(1 - b + b*dl/avgdl)); duplicate query terms
    count once (standard short-query practice).

    `barrier` puts a lazy localCheckpoint on the postings table: both
    the df(term) aggregation and the scoring join consume postings, and
    without the barrier Catalyst re-inlines the tokenize→explode→semi-
    join subtree into each consumer — the corpus would be tokenized
    twice per run (the same re-evaluation trap documented on
    plans/corpus.prepare_training_corpus).

    `max_df_frac` is the scale lever for stop-word-grade query terms:
    scoring cost is Σ_q Σ_t |postings(t)|, and a term present in a
    constant fraction of a 10^12-doc corpus makes that product corpus-
    sized while contributing ~zero idf. Setting e.g. 0.1 drops query
    terms with df > 0.1·N AFTER the exact df computation (the cut is on
    true document frequency, not an estimate) — the classic stop-term /
    WAND-style pruning. Measured at 200 queries over 100k × 600-token
    docs (tools/retrieval_scale_run.py): 151.5s exact → 89.9s with the
    0.1 cut, self-retrieval precision unchanged at 200/200 — the cut
    removes the entire hot-term scoring-join component; the remaining
    wall is the one-pass postings build itself, which a multi-batch
    deployment amortizes by persisting the checkpointed postings across
    query batches. None (default) scores every term —
    the oracle-gated exact mode."""
    # the Arrow postings kernel below replaces the tokenize→explode
    # subtree entirely; the corpus scalars (n_docs over dl>0 docs,
    # sum_dl — exact long sum + one double division, identical in
    # DuckDB) come from its per-doc marker rows
    qterms = queries.select(
        query_id_col, F.explode(tokenize_terms(F.col(query_text_col))).alias("term")
    ).distinct()
    qvocab = qterms.select("term").distinct()
    # The postings table is explicitly hash-partitioned by the DOC id at
    # operator-chosen width (r06): scoring fans each posting out to every
    # query containing its term — a blow-up AQE cannot see (it sizes
    # partitions from map-output bytes), so left to itself it coalesced
    # the tf exchange to ~one partition and the entire Σ_q Σ_t |postings|
    # fan-out plus the (query, doc) partial aggregation ran on one core
    # (measured 143s at 50k docs × 516 queries; ~14s after). Doc-keyed
    # partitioning also makes BOTH aggregations exchange-free:
    # hashpartitioning(doc) satisfies ClusteredDistribution for the
    # (doc, dl, term) tf groupBy and for the (query, doc) score groupBy
    # (each group lives in one partition), so the only post-repartition
    # exchanges are the tiny df(term) rollup and the top-k window.
    from psyndex2linkeddata_spark.operators.skew import fanout_partitions

    n_parts = fanout_partitions(docs)
    # Arrow postings kernel (r06 second wave): the query vocabulary is
    # collected once (broadcast-sized by this operator's contract — the
    # top-k scorer already collects the full (query, term) mask), and
    # the kernel emits the (id, dl, term, tf) grain FINAL, counting each
    # document's in-vocab terms per batch: the [^a-z0-9]+ term split is
    # replicated byte-exactly on the JVM-lowered text (see
    # operators/lm.lm_mean_nll — token bytes are pure ASCII alnum),
    # vocab membership is byte equality (the semi-join's behavior), so
    # the tokenize→explode→semi-join→repartition→groupBy pipeline
    # disappears. One extra null-term marker row per non-empty doc
    # carries (n_docs, sum_dl) so the corpus scalars need no second
    # tokenization pass. No native build of the postings is kept to
    # compare against: the scores are held by the DuckDB oracle for
    # bm25_topk (tools/check_oracles.py) and by
    # tests/test_operators.py::test_bm25_topk_vs_pure_python (a
    # row-at-a-time BM25).
    qvocab_set = {r["term"].encode() for r in qvocab.collect()}
    sep = bytes(
        c if chr(c) in "abcdefghijklmnopqrstuvwxyz0123456789" else 0x20
        for c in range(256)
    )
    staged = docs.select(
        F.col(id_col), F.lower(F.col(text_col)).alias("_low")
    )
    id_t = staged.schema[id_col].dataType.simpleString()

    def kernel(batches):
        import pyarrow as pa
        from collections import Counter

        for bt in batches:
            ids = bt.column(0)
            lows = bt.column(1).cast(pa.binary()).to_pylist()
            if not lows:
                continue
            out_idx: list = []
            out_dl: list = []
            out_term: list = []
            out_tf: list = []
            for r, nb in enumerate(lows):
                tk = (nb or b"").translate(sep).split()
                dl = len(tk)
                if dl == 0:
                    continue
                out_idx.append(r)
                out_dl.append(dl)
                out_term.append(None)
                out_tf.append(0)
                cnt = Counter(t for t in tk if t in qvocab_set)
                for term, tf in cnt.items():
                    out_idx.append(r)
                    out_dl.append(dl)
                    out_term.append(term)
                    out_tf.append(tf)
            yield pa.RecordBatch.from_arrays(
                [
                    ids.take(pa.array(out_idx, pa.int64())),
                    pa.array(out_dl, pa.int32()),
                    pa.array(out_term, pa.binary()).cast(pa.string()),
                    pa.array(out_tf, pa.int64()),
                ],
                [id_col, "dl", "term", "tf"],
            )

    krows = staged.mapInArrow(
        kernel, f"{id_col} {id_t}, dl int, term string, tf bigint"
    )
    if barrier:
        # one execution feeds the df(term) rollup, the corpus scalars
        # AND the scoring join; the repartition re-establishes the
        # doc-keyed clustering the downstream (query, doc) / posting-
        # list aggregations rely on (a checkpoint comes back as
        # UnknownPartitioning)
        krows = krows.localCheckpoint(eager=False)
    stats = (
        krows.where(F.col("term").isNull())
        .agg(F.count(F.lit(1)).alias("n_docs"), F.sum("dl").alias("sum_dl"))
    )
    postings = (
        krows.where(F.col("term").isNotNull())
        .repartition(n_parts, id_col)
    )
    dft = (
        postings.groupBy("term")
        .agg(F.count(F.lit(1)).alias("df"))
        .crossJoin(F.broadcast(stats))
    )
    if max_df_frac is not None:
        dft = dft.where(F.col("df") <= F.lit(max_df_frac) * F.col("n_docs"))
    idf = (
        dft.select(
            "term",
            F.log(
                F.lit(1.0)
                + (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5)
            )
            .cast("decimal(20,10)")
            .alias("idf"),
            (F.col("sum_dl").cast("double") / F.col("n_docs")).alias("avgdl"),
        )
    )
    tfc = (F.col("tf") * F.lit(k1 + 1.0)) / (
        F.col("tf")
        + F.lit(k1) * (F.lit(1.0 - b) + F.lit(b) * F.col("dl") / F.col("avgdl"))
    )
    # _s depends only on (term, doc) — compute it (double mul + decimal
    # cast) ONCE per posting row BEFORE the per-query fan-out join, not
    # once per (query, term, doc) row (guide §2.3: put per-row work below
    # the blow-up). The per-(query, doc) sum then runs on the UNSCALED
    # long of the decimal(20,10): the scale shift (decimal × 10^10 →
    # bigint) is exact, a bigint sum of unscaled values IS the decimal
    # sum (order-independent either way), and long aggregation buffers
    # avoid per-row Decimal arithmetic across the fan-out. The cast
    # chain is exact end to end: _s < 100 (idf ≤ ln(1+2N), tf component
    # < k1+1) so decimal(16,10) holds it, and the ×10^10 product stays
    # within decimal(37,10).
    per_posting = postings.join(F.broadcast(idf), "term").select(
        id_col,
        "term",
        (
            (F.col("idf").cast("double") * tfc)
            .cast("decimal(20,10)")
            .cast("decimal(16,10)")
            * F.lit(10_000_000_000)
        )
        .cast("long")
        .alias("_sl"),
    )
    return per_posting, qterms


def bm25_topk(
    docs: DataFrame,
    queries: DataFrame,
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
    id_col: str = "doc_id",
    text_col: str = "text",
    query_id_col: str = "query_id",
    query_text_col: str = "query_text",
    n_salts: int = 16,
    max_df_frac: float | None = None,
) -> DataFrame:
    """Top-k BM25 hits per query: (query_id, doc_id, score double, rank).
    Ordering is (score desc, doc_id asc) on the exact decimal score —
    fully deterministic, so the two-phase salted ranking (see module
    docstring) returns exactly the single-window result the oracle
    computes. `max_df_frac` prunes stop-word-grade query terms (see
    _bm25_per_posting)."""
    if k <= 0 or n_salts <= 0:
        raise ValueError("require k > 0 and n_salts > 0")
    per_posting, qterms = _bm25_per_posting(
        docs,
        queries,
        k1,
        b,
        id_col,
        text_col,
        query_id_col,
        query_text_col,
        max_df_frac=max_df_frac,
    )
    # Dense batch scorer (r06): the query side is broadcast-sized by
    # this operator's contract (the fan-out join path,
    # tests/native_twins.bm25_scores, broadcasts qterms too), so its
    # (query, term) pairs collect to a Q×V 0/1 mask. Each task turns its
    # docs' posting lists into a B×V matrix of
    # unscaled-bigint scores and computes ALL (doc, query) sums as ONE
    # float64 gemm — exact, because every value and every partial sum is
    # an integer < 2^53 (score_unscaled ≤ ~3.4e13) and float64 adds of
    # such integers are exact; a second indicator gemm counts shared
    # terms so zero-score shared-term pairs stay ranked exactly like the
    # join path ranked them. Per batch only the per-query top-k by
    # (score desc, doc asc) survives (a superset of every query's global
    # top-k), and the final window ranks the ≤ batches×Q×k survivors —
    # the global result is identical to the single-window form. This
    # replaces the Σ_q Σ_t |postings(t)| row fan-out (301M rows at 50k
    # docs × 516 queries) with ~|docs|×|queries| fused multiply-adds in
    # BLAS, and the salted two-phase window with a per-batch heap.
    qrows = [
        (r[0], r[1]) for r in qterms.select(query_id_col, "term").collect()
    ]
    vocab = sorted({t for _, t in qrows})
    vidx = {t: i for i, t in enumerate(vocab)}
    qids = sorted({q for q, _ in qrows})
    qpos = {q: i for i, q in enumerate(qids)}
    mask_entries = [(qpos[q], vidx[t]) for q, t in qrows]

    docs_arr = per_posting.groupBy(id_col).agg(
        F.collect_list(F.struct(F.col("term"), F.col("_sl"))).alias("_ps")
    )

    def _score(batches):
        import numpy as np
        import pandas as pd

        V, Q = len(vocab), len(qids)
        mask = np.zeros((V, Q), dtype=np.float64)
        for qi, ti in mask_entries:
            mask[ti, qi] = 1.0
        for pdf in batches:
            B = len(pdf)
            if B == 0 or Q == 0:
                continue
            D = np.zeros((B, V), dtype=np.float64)
            ind = np.zeros((B, V), dtype=np.float64)
            ids = pdf[id_col].to_numpy()
            for r, plist in enumerate(pdf["_ps"]):
                for e in plist:
                    ti = vidx.get(e["term"])
                    if ti is not None:
                        D[r, ti] = float(e["_sl"])
                        ind[r, ti] = 1.0
            S = D @ mask           # exact: integer values < 2^53
            shared = ind @ mask    # n shared terms per (doc, query)
            out_q, out_d, out_s = [], [], []
            for qi in range(Q):
                cand = np.nonzero(shared[:, qi] > 0)[0]
                if len(cand) == 0:
                    continue
                sc = S[cand, qi]
                order = np.lexsort((ids[cand], -sc))
                take = order[: min(k, len(order))]
                out_q.extend([qids[qi]] * len(take))
                out_d.extend(ids[cand][take].tolist())
                out_s.extend(sc[take].astype(np.int64).tolist())
            yield pd.DataFrame(
                {
                    query_id_col: pd.Series(out_q),
                    id_col: pd.Series(out_d),
                    "score_unscaled": pd.Series(out_s, dtype="int64"),
                }
            )

    id_t = docs.schema[id_col].dataType.simpleString()
    qid_t = queries.schema[query_id_col].dataType.simpleString()
    cand = docs_arr.mapInPandas(
        _score, f"{query_id_col} {qid_t}, {id_col} {id_t}, score_unscaled long"
    )
    order = [F.col("score_unscaled").desc(), F.col(id_col).asc()]
    w2 = Window.partitionBy(query_id_col).orderBy(*order)
    return (
        cand.withColumn("rank", F.row_number().over(w2))
        .where(F.col("rank") <= k)
        .select(
            query_id_col,
            id_col,
            F.round(
                _unscaled_to_decimal(F.col("score_unscaled")).cast("double"), 4
            ).alias("score"),
            "rank",
        )
    )


def rrf_fuse(
    rankings: list[DataFrame],
    k_rrf: int = 60,
    topk: int = 10,
    query_id_col: str = "query_id",
    doc_id_col: str = "doc_id",
    rank_col: str = "rank",
    weight_scale: int = 1_000_000_000,
) -> DataFrame:
    """Reciprocal-rank fusion (Cormack, Clarke & Buettcher, SIGIR 2009)
    of N per-query rankings — the standard way a retrieval stack merges
    the lexical (bm25_topk) and dense (similarity.cosine_topk /
    ivf_topk) lists into one hybrid ranking without score calibration:
    each list contributes 1/(k_rrf + rank) per (query, doc).

    Determinism: the contribution is computed as the INTEGER
    `weight_scale div (k_rrf + rank)` so the fused score is an exact
    bigint sum — no float summation order, identical in any engine (the
    DuckDB oracle replays it with `//`). With weight_scale=1e9 the
    truncation error is < 1e-9 per term, far below any meaningful rank
    separation of 1/(60+r) terms.

    Scale shape: the inputs are ALREADY top-k lists, so the union holds
    ≤ Σ k_i rows per query; the fuse is one uniform groupBy(query, doc)
    and a per-query window over ≤ Σ k_i candidates — nothing here ever
    sees corpus-sized data, and no query key can skew beyond Σ k_i.

    Each input needs columns (query_id_col, doc_id_col, rank_col);
    output: (query_id, doc_id, rrf_score bigint, rank)."""
    if not rankings:
        raise ValueError("rrf_fuse needs at least one ranking")
    if k_rrf <= 0 or topk <= 0:
        raise ValueError("require k_rrf > 0 and topk > 0")
    parts = [
        r.select(
            F.col(query_id_col),
            F.col(doc_id_col),
            F.col(rank_col).alias("_r"),
        )
        for r in rankings
    ]
    u = parts[0]
    for p in parts[1:]:
        u = u.unionByName(p)
    w = F.expr(f"{int(weight_scale)} div ({int(k_rrf)} + _r)")
    scored = u.groupBy(query_id_col, doc_id_col).agg(
        F.sum(w).alias("rrf_score")
    )
    win = Window.partitionBy(query_id_col).orderBy(
        F.col("rrf_score").desc(), F.col(doc_id_col).asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(win))
        .where(F.col("rank") <= topk)
    )
