"""Deduplication operators for web-scale corpora (SURVEY §2 extension:
training-data pipeline ops over the `documents` table).

Scale design:
- exact: one groupBy on a 128-bit content hash — the only shuffle; AQE
  coalesces. Hot hash values (boilerplate pages) are bounded by the
  group-by being a pure count/collect of ids per hash.
- MinHash-LSH: signatures are row-local (narrow); the candidate join
  shuffles on (band_index, band_hash) — bucket keys are uniform by
  construction, so no skew; candidate verification is again row-local.
- SimHash: a row-local signature table (simhash_hex_table); grouping
  documents by signature is one uniform-key shuffle.
- n-gram Jaccard: exact verification for candidate pairs, or exhaustive
  at small scale (explode→join on shingle→agg), shuffling on shingle —
  stopword-like shingles are the skew risk; cap shingle frequency.
- embedding near-dup: see similarity.py (same kernel).

Hashes are md5 hex strings — lexicographic min == numeric min (fixed
32-char encoding), identical in Spark and DuckDB.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F


def tokens(col: Column) -> Column:
    """Lowercased whitespace tokens (empty strings dropped)."""
    return F.filter(
        F.split(F.lower(F.trim(col)), r"\s+"), lambda t: F.length(t) > 0
    )


def norm_text(col: Column) -> Column:
    """Lowercased, whitespace-collapsed text — the string whose
    single-space token stream equals tokens(col)."""
    return F.regexp_replace(F.lower(F.trim(F.coalesce(col, F.lit("")))), r"\s+", " ")


def shingle_array(norm: Column, n: int = 3) -> Column:
    """The distinct word n-gram shingles (n consecutive tokens,
    space-joined) of a norm_text column, built codegen-only: a
    transform/slice HOF tower over a token array evaluates interpreted
    and was the hot spot of every shingle consumer (23.6s → 8.2s for
    100k × 600-token docs at local[32]). Construction: n interleaved
    NON-overlapping regexp extractions — offset o strips o leading tokens,
    then `\\S+( \\S+){n-1}` takes consecutive n-token groups, so offsets
    0..n-1 together yield every overlapping shingle exactly once —
    concatenated and array_distinct'ed. Element ORDER is interleaved,
    not positional; every consumer is order-insensitive (min-hash,
    md5-min fingerprints, set joins). Docs with fewer than n tokens
    yield the whole normalized text, so the array is never empty.

    For n ≥ 4 the n interleaved extractions are replaced by ONE
    lookahead-capture pass (r06): `(?=(tok( tok){n-1}))tok` captures the
    n-gram starting at every token position while consuming one token —
    a mid-token start can never produce a spurious match because the
    engine only advances into a token after the whole-token attempt
    failed, and any mid-token suffix sees no more full tokens than that
    failed attempt did. Same distinct SET (verified element-set-equal
    over the corpus), one regex scan instead of n (measured 4.8s → 3.9s
    at n=5 over 50k docs; at n ≤ 3 the interleave is faster and is
    kept)."""
    if n >= 4:
        pat = r"(?=(\S+(?: \S+){%d}))\S+" % (n - 1)
        allsh = F.regexp_extract_all(norm, F.lit(pat), F.lit(1))
    else:
        pat = r"\S+(?: \S+){%d}" % (n - 1)
        arrs = []
        for o in range(n):
            s = F.regexp_replace(norm, r"^(?:\S+ ){%d}" % o, "") if o else norm
            arrs.append(F.regexp_extract_all(s, F.lit(pat), F.lit(0)))
        allsh = F.concat(*arrs)
    return F.when(F.size(allsh) > 0, F.array_distinct(allsh)).otherwise(
        F.array(norm)
    )


def content_hash(col: Column) -> Column:
    """Exact-dup key: md5 of the raw text."""
    return F.md5(col)


def exact_duplicate_groups(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Groups of byte-identical documents: (hash, n_docs, doc_ids sorted).

    One shuffle (groupBy hash). At 10^12 docs: hash is uniform → no skew;
    ids per group collected only for groups >1 (duplicates are rare)."""
    return (
        df.select(content_hash(F.col(text_col)).alias("hash"), F.col(id_col))
        .groupBy("hash")
        .agg(
            F.count("*").alias("n_docs"),
            F.sort_array(F.collect_list(id_col)).alias("doc_ids"),
        )
        .where(F.col("n_docs") > 1)
    )


def minhash_signatures(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 16,
    n: int = 3,
) -> DataFrame:
    """(id, _sig array<string>) MinHash signatures via one mapInArrow
    kernel over the JVM-normalized text (r06 second Arrow wave):
    signature i is the minimum over the document's word n-gram shingles
    of 8 hex chars carved from md5("{i//4}:" + shingle).

    All STRING SEMANTICS stay in the JVM: norm_text + shingle_array build
    the shingle set with Catalyst expressions exactly as before, and the
    kernel only ever sees their UTF-8 bytes through Arrow. Per batch it
    dictionary-encodes the flattened shingle column — the corpus
    vocabulary is tiny relative to the row stream, so each DISTINCT
    shingle is hashed once per task instead of once per (row, digest) —
    computes hashlib.md5(b"{g}:" + shingle_bytes) per digest group
    (byte-identical to the JVM's md5(concat(lit, col)): Spark casts the
    string to its UTF-8 bytes), carves each 16-byte digest into four
    big-endian uint32 seed hashes (== the 8-hex-char digest substrings),
    takes the per-document minimum with one segmented numpy reduction,
    and formats the minima back to 8-char lowercase hex. min over
    fixed-width lowercase hex strings == min over the uint32 values, so
    the output equals the explode→groupBy JVM aggregation bit-for-bit
    (the reference form is tests/native_twins.minhash_signatures_native,
    pinned by tests/test_arrow_kernel_parity).

    This replaces the per-row seed-hash evaluation + min(string)
    SortAggregate (string buffers are not hash-aggregable) and its
    doc-keyed exchange with a narrow map stage; the explicit id-keyed
    repartition only sets kernel parallelism (the scan's partition count
    is file-size-derived and can be tiny).

    The kernel builds the shingles itself as BYTE SLICES of the
    normalized text (second pass: the multi-regex shingle_array
    construction was the dominant cost left). Exactness: norm_text is
    single-space separated by construction, so `norm.split(b" ")`
    (empties dropped) is byte-for-byte the JVM's `\\S+` token run set,
    and joining n-token windows with b" " reproduces exactly the
    substrings shingle_array extracts; docs with < n tokens yield [norm]
    on both paths. array_distinct is dropped because a MINIMUM over seed
    hashes is duplicate-insensitive. One quirk replicated deliberately:
    when norm starts with a space (possible only for text whose leading
    whitespace is non-0x20 — trim strips spaces, the \\s+ collapse then
    leaves one), shingle_array's offset-strip regex `^(?:\\S+ ){o}`
    cannot match, every offset degenerates to offset 0, and the distinct
    set is just the NON-OVERLAPPING windows from token 0 — the kernel
    enumerates windows with stride n in that case (pinned by the
    leading-tab row of tests/test_arrow_kernel_parity)."""
    import pyarrow as pa

    from psyndex2linkeddata_spark.operators.skew import fanout_partitions

    ndig = (num_hashes + 3) // 4
    prefixes = [f"{g}:".encode() for g in range(ndig)]

    staged = df.select(
        F.col(id_col), norm_text(F.col(text_col)).alias("_norm")
    ).repartition(fanout_partitions(df), id_col)

    id_t = staged.schema[id_col].dataType.simpleString()
    out_ddl = ", ".join(
        [f"{id_col} {id_t}"] + [f"_m{i} string" for i in range(num_hashes)]
    )

    def _seeds_of(sb: bytes) -> list:
        parts = []
        for g in range(ndig):
            d = hashlib_md5(prefixes[g] + sb).digest()
            parts.extend(
                int.from_bytes(d[r * 4 : r * 4 + 4], "big") for r in range(4)
            )
        return parts[:num_hashes]

    from hashlib import md5 as hashlib_md5

    def kernel(batches):
        import numpy as np

        cache: dict = {}
        for b in batches:
            ids = b.column(0)
            norms = b.column(1).cast(pa.binary()).to_pylist()
            n_rows = len(norms)
            if n_rows == 0:
                continue
            if len(cache) > 4_000_000:  # bound per-task memory on
                cache.clear()           # real-web vocabularies
            mins = np.empty((n_rows, num_hashes), dtype=np.uint32)
            for r, nb in enumerate(norms):
                toks = [t for t in nb.split(b" ") if t]
                row = None
                if len(toks) >= n:
                    # the leading-space offset-strip quirk exists only on
                    # the n<=3 interleave path; n>=4 uses the lookahead
                    # regex, which yields every window regardless
                    stride = n if (n <= 3 and nb.startswith(b" ")) else 1
                    for i in range(0, len(toks) - n + 1, stride):
                        sb = b" ".join(toks[i : i + n])
                        got = cache.get(sb)
                        if got is None:
                            got = _seeds_of(sb)
                            cache[sb] = got
                        row = (
                            got
                            if row is None
                            else [min(a, c) for a, c in zip(row, got)]
                        )
                else:
                    row = cache.get(nb)
                    if row is None:
                        row = _seeds_of(nb)
                        cache[nb] = row
                mins[r] = row
            cols = [ids] + [
                pa.array(
                    [format(int(v), "08x") for v in mins[:, i]], pa.string()
                )
                for i in range(num_hashes)
            ]
            yield pa.RecordBatch.from_arrays(
                cols, [id_col] + [f"_m{i}" for i in range(num_hashes)]
            )

    agg = staged.mapInArrow(kernel, out_ddl)
    return agg.select(
        F.col(id_col),
        F.array(*[F.col(f"_m{i}") for i in range(num_hashes)]).alias("_sig"),
    )


def lsh_bands(sig: Column, bands: int, rows_per_band: int) -> Column:
    """array<struct<band,key>>: md5 over each band's concatenated minhashes."""
    return F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                F.md5(
                    F.concat_ws(
                        "|", *[sig[b * rows_per_band + r] for r in range(rows_per_band)]
                    )
                ).alias("key"),
            )
            for b in range(bands)
        ]
    )


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 16,
    bands: int = 4,
    n: int = 3,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """Candidate near-duplicate pairs (id_a < id_b) sharing ≥1 LSH band.

    shingle→minhash→band→bucket-join: the join shuffles on (band, key);
    verification (true Jaccard) composes with ngram_jaccard_verify.

    `max_bucket_size` is the skew guard the band join needs at corpus
    scale: a bucket of k docs contributes k² join rows, and web corpora
    have boilerplate families (identical banners, parked domains) where
    k reaches millions — one such bucket is a job-killing straggler.
    Buckets above the cap are dropped from the PAIR join (one uniform
    count pass first); their members are near-exact duplicate families
    by construction, which the exact-dup pass (content_hash groupBy —
    linear, skew-free) already collapses, so route those through
    exact_duplicate_groups rather than through a quadratic join. None
    disables the guard (and its extra aggregation) for small corpora."""
    from pyspark.sql import Window

    rows_per_band = num_hashes // bands
    # narrow Arrow signature pass (see minhash_signatures)
    sigd = minhash_signatures(df, id_col, text_col, num_hashes, n)
    banded = sigd.select(
        F.col(id_col),
        F.explode(lsh_bands(F.col("_sig"), bands, rows_per_band)).alias("b"),
    ).select(id_col, F.col("b.band").alias("band"), F.col("b.key").alias("key"))
    # r06: one explicit bucket-keyed exchange shared by both join sides
    # (ReuseExchange), window-based bucket guard on that partitioning,
    # FORCED sort-merge join — the same rewrite as ngram_jaccard_pairs:
    # Catalyst otherwise broadcast the banded table (corpus-sized at
    # scale) and ran the bucket fan-out on the AQE-coalesced (~single-
    # partition) stream side.
    from psyndex2linkeddata_spark.operators.skew import fanout_partitions

    n_parts = fanout_partitions(df)
    banded = banded.repartition(n_parts, "band", "key")
    if max_bucket_size is not None:
        w = Window.partitionBy("band", "key")
        banded = (
            banded.withColumn("_bk", F.count(F.lit(1)).over(w))
            .where(F.col("_bk") <= max_bucket_size)
            .drop("_bk")
        )
    a = banded.alias("a")
    b = banded.alias("b")
    return (
        a.join(
            b.hint("merge"),
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.key") == F.col("b.key"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b")
        )
        .distinct()
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.8,
    max_shingle_freq: int | None = 1000,
    pair_parallelism: int | None = None,
) -> DataFrame:
    """Exact n-gram Jaccard similarity for all pairs sharing ≥1 shingle.

    AUDITED AND KEPT NATIVE in the r06 second Arrow wave (negative
    result, measured at the 50k-doc corpus): a full Python pair kernel
    (byte-slice shingle rows → shingle-keyed exchange → vectorized
    per-bucket triu pair expansion + np.unique partial counts) LOST
    20.8s vs 12.6s — the ~67M distinct (id_a, id_b) partial counts must
    cross the Arrow boundary and a shuffle either way, while the codegen
    sort-merge join feeds its hash aggregate without materializing pairs
    anywhere; the milder hybrid (Python shingle rows only, native
    join/agg tail) also LOST, 17.1s vs 12.6s — the Arrow round-trip of
    the 2.6M exploded shingle rows costs more than the regex
    construction it saves when no aggregation collapses inside the
    kernel.

    explode→self-join on shingle→count intersections→|A∪B| from per-doc
    sizes. `max_shingle_freq` drops boilerplate shingles (the skew guard:
    a shingle shared by k docs creates k² join rows); None disables the
    guard (and its extra pass) for skew-free corpora.

    Plan shape (r06 rewrite — measured 245s → seconds at 50k docs): the
    exploded shingle rows go through ONE explicit hash exchange on
    `shingle`; the frequency guard is a count window over that same
    partitioning (no second aggregation subtree) and the self-join is a
    FORCED sort-merge join whose both sides reuse the one exchange, its
    sort already satisfied by the window. The previous form let Catalyst
    broadcast BOTH sides of the bucket join (the exploded corpus fit
    under the local autoBroadcastJoinThreshold — never true at corpus
    scale) and re-computed the shingle subtree four times; worse, the
    streaming side was an AQE-coalesced near-singleton partition, so the
    k²-per-bucket fan-out and the pair-count partial aggregation — the
    ~100×-the-input quadratic part — ran on ~one core. AQE sizes
    partitions from MAP OUTPUT bytes and cannot see a downstream
    fan-out, so the operator pins the exchange width itself
    (`pair_parallelism`, default defaultParallelism — the one thing it
    knows that the optimizer doesn't, per the decide-with-small-rows
    playbook).

    The normalized text and shingle arrays are materialized in their own
    projections so the per-row computation runs once (size+explode
    reference attributes, not expressions); shingle_array keeps the
    construction codegen-only."""
    from pyspark.sql import Window

    sh = df.select(
        F.col(id_col), norm_text(F.col(text_col)).alias("_norm")
    ).select(F.col(id_col), shingle_array(F.col("_norm"), n).alias("_sh"))
    # explode_OUTER: plain explode makes Catalyst infer a size>0
    # pre-filter that re-evaluates the staged shingle construction;
    # shingle_array is never empty, so the rows are identical
    ex = sh.select(
        F.col(id_col),
        F.size("_sh").alias("n_sh"),
        F.explode_outer("_sh").alias("shingle"),
    )
    from psyndex2linkeddata_spark.operators.skew import fanout_partitions

    n_parts = fanout_partitions(df, pair_parallelism)
    ex = ex.repartition(n_parts, "shingle")
    if max_shingle_freq is not None:
        w = Window.partitionBy("shingle")
        ex = (
            ex.withColumn("_k", F.count(F.lit(1)).over(w))
            .where(F.col("_k") <= max_shingle_freq)
            .drop("_k")
        )
    a, b = ex.alias("a"), ex.alias("b")
    inter = (
        a.join(
            b.hint("merge"),
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .groupBy(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            F.col("a.n_sh").alias("n_a"),
            F.col("b.n_sh").alias("n_b"),
        )
        .agg(F.count("*").alias("n_inter"))
    )
    return inter.select(
        "id_a",
        "id_b",
        (
            F.col("n_inter")
            / (F.col("n_a") + F.col("n_b") - F.col("n_inter"))
        ).alias("jaccard"),
    ).where(F.col("jaccard") >= threshold)


def simhash_hex_table(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """(id, simhash): 32-bit SimHash as a '0'/'1' string, one bit per
    md5 hex position — bit p is 1 when most of the document's lowercased
    whitespace tokens have a high hex digit (≥ '8') at position p of
    their md5. Byte-wise string compare makes this identical across
    engines (the DuckDB oracle computes the same string).

    One mapInArrow kernel over the JVM-normalized text: it md5s each
    DISTINCT token's UTF-8 bytes once per task (byte-identical to the
    JVM md5), turns the 32 lowercase-hex digest chars into ±1 votes
    (char ≥ '8' ⇔ ASCII byte ≥ 56 — hex digits are '0'-'9','a'-'f'),
    and sums the votes per document as exact integers. A document with
    no tokens (empty, blank or NULL text) gets all-zero votes → '0'*32.
    The value equals the explode→32-vote-aggregate JVM form
    tests/native_twins.simhash_hex_table_native (pinned by
    tests/test_arrow_kernel_parity)."""
    import pyarrow as pa

    from psyndex2linkeddata_spark.operators.skew import fanout_partitions

    # the kernel tokenizes the JVM-normalized text itself (norm_text is
    # single-space separated; splitting on the space byte with empties
    # dropped is byte-for-byte the `tokens` expression's output — same
    # argument as the minhash kernel) so neither the JVM split+filter
    # nor a list<string> Arrow column is paid
    staged = df.select(
        F.col(id_col), norm_text(F.col(text_col)).alias("_norm")
    ).repartition(fanout_partitions(df), id_col)
    id_t = staged.schema[id_col].dataType.simpleString()

    def kernel(batches):
        import hashlib

        import numpy as np

        cache: dict = {}
        for b in batches:
            ids = b.column(0)
            norms = b.column(1).cast(pa.binary()).to_pylist()
            n_rows = len(norms)
            if n_rows == 0:
                continue
            if len(cache) > 4_000_000:  # bound per-task memory on
                cache.clear()           # real-web vocabularies
            sums = np.zeros((n_rows, 32), dtype=np.int64)
            for r, nb in enumerate(norms):
                acc = None
                for t in nb.split(b" "):
                    if not t:
                        continue
                    got = cache.get(t)
                    if got is None:
                        h = hashlib.md5(t).hexdigest().encode()
                        got = (
                            (np.frombuffer(h, dtype=np.uint8) >= 56).astype(
                                np.int64
                            )
                            * 2
                            - 1
                        )
                        cache[t] = got
                    acc = got if acc is None else acc + got
                if acc is not None:
                    sums[r] = acc
            chars = np.where(sums > 0, np.uint8(ord("1")), np.uint8(ord("0")))
            raw = chars.tobytes()
            sigs = pa.array(
                [raw[i * 32 : i * 32 + 32].decode() for i in range(n_rows)],
                pa.string(),
            )
            yield pa.RecordBatch.from_arrays([ids, sigs], [id_col, "simhash"])

    return staged.mapInArrow(kernel, f"{id_col} {id_t}, simhash string")


def neardup_clusters(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 16,
    bands: int = 4,
    n: int = 3,
) -> DataFrame:
    """Near-duplicate document clustering: MinHash-LSH candidate pairs →
    connected components → one canonical representative per cluster.

    This is the "keep one copy of each near-dup family" pass a training
    corpus runs after pairwise dedup scoring: transitive closure turns
    A~B, B~C into one {A,B,C} cluster even when A~C never met in a band.
    Returns (id, cluster_id, is_canonical) for EVERY input document —
    singletons are their own cluster — so the keep-filter is just
    `where is_canonical`.

    Scale shape: the pair list is the LSH bucket join (never all-pairs);
    the closure (operators/components.connected_components) runs over
    pairs only — near-dup graphs are tiny relative to the corpus
    (pairs ≪ docs), so the closure touches a sliver of the data and the
    final assignment is one left join back to the corpus on the doc id.
    """
    from psyndex2linkeddata_spark.operators.components import connected_components

    pairs = minhash_lsh_pairs(df, id_col, text_col, num_hashes, bands, n)
    comp = connected_components(pairs, src="id_a", dst="id_b")
    cluster = F.coalesce(F.col("component"), F.col(id_col))
    return (
        df.select(id_col)
        .join(comp, F.col(id_col) == F.col("node"), "left")
        .select(
            F.col(id_col),
            cluster.alias("cluster_id"),
            (cluster == F.col(id_col)).alias("is_canonical"),
        )
    )


def dedup_lines(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_docs: int = 1,
) -> DataFrame:
    """Cross-document LINE deduplication (the CCNet §3.1 boilerplate
    pass): a line whose normalized form (lowercased, trimmed) appears in
    MORE than `max_docs` distinct documents is dropped from every
    document — cookie banners, navigation, footers. Blank lines are
    always kept (they'd trivially exceed any threshold), and remaining
    lines keep their original order. Every input document survives, as
    possibly-empty text, so lineage is 1:1.

    Plan shape: posexplode lines → count distinct docs per line key
    (map-side partial agg; the key space is the distinct-line set) →
    left-anti join the hot keys back → groupBy doc reassembles with an
    array_sort on (pos, line) structs. Two shuffles (key count + doc
    regroup); the anti join shuffles on the md5 key, uniform by
    construction. Hot keys are NOT broadcast — at web scale the
    boilerplate set is itself large.
    """
    lines = df.select(
        F.col(id_col),
        F.posexplode(F.split(F.coalesce(F.col(text_col), F.lit("")), "\n")).alias(
            "_pos", "_line"
        ),
    )
    norm = F.lower(F.trim(F.col("_line")))
    keyed = lines.withColumn("_blank", norm == "").withColumn("_k", F.md5(norm))
    hot = (
        keyed.where(~F.col("_blank"))
        .groupBy("_k")
        .agg(F.count_distinct(F.col(id_col)).alias("_nd"))
        .where(F.col("_nd") > max_docs)
        .select("_k")
    )
    kept = keyed.where(F.col("_blank")).unionByName(
        keyed.where(~F.col("_blank")).join(hot, "_k", "left_anti")
    )
    rebuilt = kept.groupBy(id_col).agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("_pos", "_line"))),
                lambda s: s["_line"],
            ),
            "\n",
        ).alias("_text")
    )
    return df.select(id_col).join(rebuilt, id_col, "left").select(
        F.col(id_col),
        F.coalesce(F.col("_text"), F.lit("")).alias(text_col),
    )


# ---------------------------------------------------------------------------
# Exact-substring span dedup (ExactSubstr à la Lee et al. 2022,
# "Deduplicating Training Data Makes Language Models Better"): find maximal
# token runs that occur verbatim in ≥min_docs documents, and optionally cut
# them out. The suffix-array of the paper is replaced by a k-gram anchor
# join — every duplicated run of ≥ span_tokens tokens is a chain of
# duplicated k-grams, so merging adjacent duplicated k-gram positions
# recovers exactly the maximal duplicated spans at k-token resolution.
# ---------------------------------------------------------------------------


def span_tokens(col: Column) -> Column:
    """Case-preserving whitespace tokens (empty strings dropped) — span
    dedup is case-sensitive, unlike the lowercased `tokens` used by the
    set-similarity operators."""
    return F.filter(F.split(F.trim(F.coalesce(col, F.lit(""))), r"\s+"),
                    lambda t: F.length(t) > 0)


def duplicate_spans(
    docs: DataFrame,
    k: int = 8,
    min_docs: int = 2,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """(doc_id, start_tok, end_tok, n_grams) — maximal token spans
    [start_tok, end_tok) (0-based, end-exclusive) in which EVERY k-token
    window also occurs in ≥ min_docs distinct documents (self included).

    Plan shape: the k-gram fan-out is row-local over a PRE-STAGED token
    attribute — the transform lambda references it per element, and the
    interpreted HOF evaluator re-computes a non-attribute argument for
    every window, O(n²) per doc (measured 41× slower on 800-token
    docs); the one real exchange is the groupBy on the 16-hex-char
    gram hash — uniform by construction, partial map-side count. The
    join back to positions shuffles on the same key (no new partitioning).
    Span merging is a per-document window over the few surviving
    positions, not the full gram stream. Hot grams (boilerplate k-grams
    in millions of docs) cost a big count but never a pair explosion —
    there is no self-join anywhere, unlike pair-based dedup.
    """
    toks = docs.select(
        F.col(id_col), span_tokens(F.col(text_col)).alias("_toks")
    )
    n_win = F.size(F.col("_toks")) - (k - 1)
    grams = toks.select(
        F.col(id_col),
        F.explode(
            F.when(
                n_win > 0,
                F.transform(
                    F.sequence(F.lit(1), F.greatest(n_win, F.lit(1))),
                    lambda i: F.struct(
                        (i - 1).alias("pos"),
                        F.substring(
                            F.md5(F.concat_ws(" ", F.slice(F.col("_toks"), i, k))),
                            1,
                            16,
                        ).alias("h"),
                    ),
                ),
            ).otherwise(F.array())
        ).alias("g"),
    ).select(F.col(id_col), F.col("g.pos").alias("pos"), F.col("g.h").alias("h"))
    dup = (
        grams.groupBy("h")
        .agg(F.count_distinct(F.col(id_col)).alias("_nd"))
        .where(F.col("_nd") >= min_docs)
        .select("h")
    )
    hits = grams.join(dup, "h").select(F.col(id_col), "pos")
    from pyspark.sql import Window

    w = Window.partitionBy(id_col).orderBy("pos")
    flagged = hits.withColumn(
        "_new",
        F.when(
            F.lag("pos").over(w).isNull() | (F.col("pos") > F.lag("pos").over(w) + 1),
            F.lit(1),
        ).otherwise(F.lit(0)),
    ).withColumn("_grp", F.sum("_new").over(w))
    return (
        flagged.groupBy(F.col(id_col), F.col("_grp"))
        .agg(
            F.min("pos").alias("start_tok"),
            (F.max("pos") + k).alias("end_tok"),
            F.count(F.lit(1)).alias("n_grams"),
        )
        .select(id_col, "start_tok", "end_tok", "n_grams")
    )


def strip_duplicate_spans(
    docs: DataFrame,
    k: int = 8,
    min_docs: int = 2,
    min_span_tokens: int | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
    spans: DataFrame | None = None,
) -> DataFrame:
    """docs + `clean_text`: the whitespace-normalized text with every
    duplicated span (per duplicate_spans; optionally only spans of
    ≥ min_span_tokens tokens) cut out. Whitespace inside kept runs is
    canonicalized to single spaces — the same normalization the span
    index itself uses, so clean_text's token stream is exactly the kept
    token subsequence. Pass a precomputed `spans` table to amortize the
    gram index across consumers (the 10^12-doc shape: build once, strip
    in the same scan as the other per-doc gates)."""
    if spans is None:
        spans = duplicate_spans(
            docs, k=k, min_docs=min_docs, id_col=id_col, text_col=text_col
        )
    if min_span_tokens is not None:
        spans = spans.where(
            (F.col("end_tok") - F.col("start_tok")) >= min_span_tokens
        )
    per_doc = spans.groupBy(id_col).agg(
        F.collect_list(F.struct("start_tok", "end_tok")).alias("_spans")
    )
    joined = docs.join(per_doc, id_col, "left")
    toks = span_tokens(F.col(text_col))
    kept = F.filter(
        toks,
        lambda t, i: ~F.exists(
            F.coalesce(F.col("_spans"), F.array()),
            lambda s: (i >= s["start_tok"]) & (i < s["end_tok"]),
        ),
    )
    return joined.withColumn("clean_text", F.concat_ws(" ", kept)).drop("_spans")


# ---------------------------------------------------------------------------
# Incremental near-dup against a persisted MinHash index: the shape a
# continuously-crawling corpus needs — the accepted corpus's LSH band keys
# live in a partitioned index table, and each NEW batch is filtered against
# that index (plus within-batch closure) without ever re-shingling the
# historical corpus. Mirrors the reference's incremental re-run contract
# (convert_starxml_to_bf.py processes record slices against previously
# emitted graphs) lifted to corpus dedup.
# ---------------------------------------------------------------------------


def minhash_band_index(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 16,
    bands: int = 4,
    n: int = 3,
) -> DataFrame:
    """(id, band, key) LSH band-key rows — the persisted near-dup index.

    One narrow signature pass (minhash_signatures' Arrow kernel) and a
    band explode; no join. The RECOMMENDED persisted layout is the
    min-aggregated form `groupBy(band, key).agg(min(id))` — one row per
    bucket, idempotent under re-aggregation (min of mins), which is what
    incremental_neardup reduces the index to internally; keeping raw rows
    also works and lets the index answer "all members of bucket" queries.
    At crawl scale, partition/bucket the table by `key` so a batch probe
    prunes to the buckets it touches."""
    rows_per_band = num_hashes // bands
    sigd = minhash_signatures(df, id_col, text_col, num_hashes, n)
    return sigd.select(
        F.col(id_col),
        F.explode(lsh_bands(F.col("_sig"), bands, rows_per_band)).alias("b"),
    ).select(id_col, F.col("b.band").alias("band"), F.col("b.key").alias("key"))


def incremental_neardup(
    batch: DataFrame,
    index: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    index_id_col: str | None = None,
    num_hashes: int = 16,
    bands: int = 4,
    n: int = 3,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """Filter a NEW batch of documents against a persisted band-key index.

    Returns one row per batch document:
      (id_col, cluster_id, dup_of, accepted)
    - cluster_id: within-batch near-dup cluster representative (LSH pairs
      closed transitively; singletons are their own cluster);
    - dup_of:     the smallest indexed id any member of the cluster
                  collides with (null when the family is new) — the whole
                  family is considered already-represented when ANY member
                  hits the index, matching "keep one copy per family";
    - accepted:   dup_of is null AND the doc is its cluster's canonical
                  (min id). `where accepted` is the keep-filter; the
                  accepted docs' band rows (minhash_band_index over them)
                  are the delta to append to the index.

    Scale shape: the historical corpus is NEVER re-read — only its band
    keys. The index probe first reduces the index to one min-id row per
    (band, key) (map-side partial agg; idempotent if the caller already
    persists the aggregated form), so a boilerplate bucket with millions
    of indexed members joins as ONE row — the probe is linear in the
    batch's band rows and skew-proof by construction. The within-batch
    self-join is the standard banded bucket join with the same optional
    `max_bucket_size` guard as minhash_lsh_pairs. Both shuffles key on
    uniform md5 band keys; the closure runs over batch-batch pairs only
    (pairs ≪ batch ≪ corpus)."""
    from psyndex2linkeddata_spark.operators.components import connected_components

    index_id_col = index_id_col or id_col
    # the batch's band rows feed BOTH pair sides and the index probe —
    # materialize once (batch-sized, the small side by construction)
    # instead of re-shingling the batch per consumer
    bandrows = minhash_band_index(
        batch, id_col, text_col, num_hashes, bands, n
    ).localCheckpoint(eager=True)

    # within-batch candidate pairs + transitive closure — bucket-keyed
    # explicit exchange + window guard + forced merge join, as in
    # minhash_lsh_pairs (the checkpointed table comes back with
    # UnknownPartitioning, so the repartition is also what gives the
    # bucket fan-out its parallelism)
    from pyspark.sql import Window

    from psyndex2linkeddata_spark.operators.skew import fanout_partitions

    n_parts = fanout_partitions(batch)
    joinable = bandrows.repartition(n_parts, "band", "key")
    if max_bucket_size is not None:
        w = Window.partitionBy("band", "key")
        joinable = (
            joinable.withColumn("_bk", F.count(F.lit(1)).over(w))
            .where(F.col("_bk") <= max_bucket_size)
            .drop("_bk")
        )
    a, b = joinable.alias("a"), joinable.alias("b")
    pairs = (
        a.join(
            b.hint("merge"),
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.key") == F.col("b.key"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b"))
        .distinct()
    )
    comp = connected_components(pairs, src="id_a", dst="id_b")
    clusters = (
        batch.select(id_col)
        .join(comp, F.col(id_col) == F.col("node"), "left")
        .select(
            F.col(id_col),
            F.coalesce(F.col("component"), F.col(id_col)).alias("cluster_id"),
        )
    )

    # index probe: min indexed id per bucket, then per batch doc, then
    # per batch cluster
    idx_min = index.groupBy("band", "key").agg(
        F.min(F.col(index_id_col)).alias("_idx")
    )
    hits = (
        bandrows.join(idx_min, ["band", "key"])
        .groupBy(id_col)
        .agg(F.min("_idx").alias("_hit"))
    )
    cluster_hits = (
        clusters.join(hits, id_col, "left")
        .groupBy("cluster_id")
        .agg(F.min("_hit").alias("dup_of"))
    )
    return clusters.join(cluster_hits, "cluster_id").select(
        F.col(id_col),
        F.col("cluster_id"),
        F.col("dup_of"),
        (F.col("dup_of").isNull() & (F.col(id_col) == F.col("cluster_id"))).alias(
            "accepted"
        ),
    )
