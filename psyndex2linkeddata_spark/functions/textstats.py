"""Text-analysis functions for training-data pipelines (documents table):
language-ID, quality scoring, token counting, document fingerprinting.

All native column expressions (codegen). Two language-ID tiers: `lang_id`
reuses the de/en stopword heuristic from functions/lang.py (the abstract-
langtag stand-in for the reference's langid wrapper, helpers.py:159-165);
`lang_id_ngram` is the full character-trigram profile classifier
(en/de/fr/es/it/nl) for corpus-scale language tagging.
"""

from __future__ import annotations

from pyspark.sql import Column, functions as F

from psyndex2linkeddata_spark.functions.lang import (
    _DE_STOPWORDS,
    _EN_STOPWORDS,
    _stopword_hits,
    guess_language,
)

lang_id = guess_language  # F5 surface for documents

# BPE-ish tokenization: words, numbers, or single punctuation marks —
# approximates a byte-pair tokenizer's pre-tokenization split.
BPE_SPLIT_RE = r"\p{L}+|\p{N}+|[^\p{L}\p{N}\s]"


def whitespace_token_count(col: Column) -> Column:
    return F.size(
        F.filter(F.split(F.trim(col), r"\s+"), lambda t: F.length(t) > 0)
    )


def bpe_token_count(col: Column) -> Column:
    """Count of BPE-style pre-tokens (letters runs, digit runs, punct)."""
    return F.size(
        F.regexp_extract_all(F.coalesce(col, F.lit("")), F.lit(BPE_SPLIT_RE), F.lit(0))
    )


def punct_ratio(col: Column) -> Column:
    n_punct = F.length(F.regexp_replace(col, r"[\p{L}\p{N}\s]", ""))
    return n_punct / F.greatest(F.length(col), F.lit(1))


def stopword_ratio(col: Column) -> Column:
    hits = _stopword_hits(col, _DE_STOPWORDS + _EN_STOPWORDS)
    return hits / F.greatest(whitespace_token_count(col), F.lit(1))


def mean_token_len(col: Column) -> Column:
    toks = F.filter(F.split(F.trim(col), r"\s+"), lambda t: F.length(t) > 0)
    return F.aggregate(
        toks, F.lit(0).cast("long"), lambda acc, t: acc + F.length(t)
    ) / F.greatest(F.size(toks), F.lit(1))


def quality_score(col: Column) -> Column:
    """Heuristic document quality in [0,1]: rewards stopword density and
    sane token lengths, penalizes punctuation soup and very short docs.
    struct(n_chars, n_tokens, punct_ratio, stopword_ratio, mean_token_len,
    score)."""
    n_chars = F.length(col)
    n_tokens = whitespace_token_count(col)
    p = punct_ratio(col)
    s = stopword_ratio(col)
    m = mean_token_len(col)
    score = (
        F.least(n_tokens / F.lit(100.0), F.lit(1.0)) * 0.25
        + F.least(s * F.lit(2.0), F.lit(1.0)) * 0.35
        + F.when((m >= 3) & (m <= 10), F.lit(1.0)).otherwise(F.lit(0.3)) * 0.2
        + (F.lit(1.0) - F.least(p * F.lit(4.0), F.lit(1.0))) * 0.2
    )
    return F.struct(
        n_chars.alias("n_chars"),
        n_tokens.alias("n_tokens"),
        F.round(p, 6).alias("punct_ratio"),
        F.round(s, 6).alias("stopword_ratio"),
        F.round(m, 6).alias("mean_token_len"),
        F.round(score, 6).alias("score"),
    )


# F5 full tier — character-trigram profile language ID. The reference wraps
# the `langid` package (helpers.py:159-165, guess_language); langid itself is
# a byte-n-gram naive-Bayes model, so the faithful *shape* of a from-scratch
# stand-in is an n-gram profile vote, not a stopword list. Each language gets
# a fixed set of distinctive lowercase trigrams (spaces carry word-boundary
# signal); score = count of non-overlapping profile-trigram hits in the
# lowercased text (one JVM-side regexp_count per language — all alternatives
# are length 3, so Java-regex and RE2 agree exactly on the hit count, which
# is what keeps the DuckDB oracle byte-identical). Winner = highest count,
# ties broken by _NGRAM_PROFILES order, zero evidence → 'und'.
_NGRAM_PROFILES: list[tuple[str, list[str]]] = [
    ("en", ["the", " th", "ing", " an", "ion", " of", "tio", "ent", " to", "was"]),
    ("de", ["der", "die", "und", "sch", "ich", "ein", "ung", "cht", " ge", "nde"]),
    ("fr", [" le", "les", "que", " qu", "ait", "eur", "une", " et", "ais", "ont"]),
    ("es", [" la", "que", "ión", "los", "ado", " co", "ien", "una", " es", "nte"]),
    ("it", [" di", "che", "ell", "zio", "gli", "lla", " pe", "ito", " il", "nti"]),
    ("nl", ["een", "het", "aar", "oor", "van", "ijk", "eer", " ze", "ijn", "aan"]),
]


def lang_ngram_counts(col: Column) -> dict[str, Column]:
    """Per-language non-overlapping profile-trigram hit counts."""
    s = F.lower(F.coalesce(col, F.lit("")))
    return {
        lang: F.regexp_count(s, F.lit("|".join(tris)))
        for lang, tris in _NGRAM_PROFILES
    }


def lang_ngram_counts_table(df, id_col: str = "doc_id", text_col: str = "text"):
    """(id, c_<lang>…) — the per-language non-overlapping profile-trigram
    hit counts as one mapInArrow kernel (r06 second Arrow wave),
    bit-equal to six JVM regexp_count columns (`lang_ngram_counts`, the
    cross-check — pinned by tests/test_arrow_kernel_parity).

    Exactness: the profile patterns are alternations of LITERAL 3-char
    strings (no metacharacters), and both Java's and Python's regex
    engines count non-overlapping matches with the same leftmost-
    position, first-alternative rule, advancing past each match — over
    the same bytes (lower() stays a JVM expression; the one non-ASCII
    literal, 'ión', is matched as its UTF-8 bytes, which cannot match
    mid-codepoint since its lead/continuation bytes never align with a
    different character's). Java's alternation scan was the cost: six
    interpreted regex passes per row (~70× slower than CPython's sre on
    these literal alternations, measured)."""
    import pyarrow as pa

    langs = [lang for lang, _ in _NGRAM_PROFILES]
    pats = {
        lang: "|".join(tris).encode() for lang, tris in _NGRAM_PROFILES
    }
    staged = df.select(
        F.col(id_col),
        F.lower(F.coalesce(F.col(text_col), F.lit(""))).alias("_low"),
    )
    id_t = staged.schema[id_col].dataType.simpleString()
    fields = ", ".join(
        [f"{id_col} {id_t}"] + [f"c_{lang} int" for lang in langs]
    )

    def kernel(batches):
        import re

        cpats = [(lang, re.compile(p)) for lang, p in pats.items()]
        for b in batches:
            ids = b.column(0)
            lows = b.column(1).cast(pa.binary()).to_pylist()
            if not lows:
                continue
            cols = {lang: [] for lang in langs}
            for nb in lows:
                for lang, p in cpats:
                    cols[lang].append(len(p.findall(nb)))
            yield pa.RecordBatch.from_arrays(
                [ids] + [pa.array(cols[lang], pa.int32()) for lang in langs],
                [id_col] + [f"c_{lang}" for lang in langs],
            )

    return staged.mapInArrow(kernel, fields)


def lang_id_ngram(col: Column) -> Column:
    """Trigram-profile language guess over `_NGRAM_PROFILES` (en, de, fr,
    es, it, nl) — argmax of profile hits, first-in-table wins ties, 'und'
    when no profile trigram occurs at all. Pure column expression."""
    counts = lang_ngram_counts(col)
    langs = [lang for lang, _ in _NGRAM_PROFILES]
    result = None
    for lang in langs:
        c = counts[lang]
        cond = c > 0
        for other in langs:
            if other != lang:
                cond = cond & (c >= counts[other])
        result = (
            F.when(cond, F.lit(lang))
            if result is None
            else result.when(cond, F.lit(lang))
        )
    return result.otherwise(F.lit("und"))


def fingerprint(col: Column) -> Column:
    """Order-sensitive content fingerprint: md5 over normalized
    (lowercased, whitespace-collapsed) text."""
    return F.md5(F.regexp_replace(F.lower(F.trim(col)), r"\s+", " "))


def bag_fingerprint(col: Column) -> Column:
    """Order-insensitive fingerprint: md5 over the sorted distinct token
    bag — robust to shuffled word order (near-dup canonicalization key)."""
    toks = F.array_sort(
        F.array_distinct(
            F.filter(F.split(F.lower(F.trim(col)), r"\s+"), lambda t: F.length(t) > 0)
        )
    )
    return F.md5(F.concat_ws(" ", toks))


def with_rolling_fp(staged, norm_col: str, n: int = 5, out_col: str = "rolling_fp"):
    """staged (any columns + `norm_col` = norm_text output) → same rows
    with norm_col replaced by out_col = the rolling fingerprint
    min(md5(shingle)) as lowercase hex, computed in one mapInArrow
    kernel (r06 second Arrow wave) — byte-identical to
    array_min(transform(shingle_array(norm, n), md5)).

    Exactness: norm_text is single-space separated, so the kernel's
    `norm.split(b" ")` (empties dropped) is byte-for-byte the JVM's
    `\\S+` token run set and b" "-joined n-token windows are exactly the
    substrings shingle_array extracts; docs with < n tokens use the
    whole norm, as shingle_array's otherwise-branch does. md5 runs over
    the same UTF-8 bytes the JVM hashes; a MINIMUM is
    duplicate-insensitive so array_distinct is irrelevant; and min over
    the digests' hex strings == min over digest bytes (hex encodes
    bytes monotonically) == the JVM's UTF8String binary compare. The
    interpreted transform+array_min HOF and the multi-regex shingle
    construction both disappear. Pinned equal by
    tests/test_arrow_kernel_parity."""
    import pyarrow as pa

    other = [c for c in staged.columns if c != norm_col]
    fields = ", ".join(
        [f"{c} {staged.schema[c].dataType.simpleString()}" for c in other]
        + [f"{out_col} string"]
    )

    def kernel(batches):
        from hashlib import md5

        for b in batches:
            names = b.schema.names
            norms = b.column(names.index(norm_col)).cast(pa.binary()).to_pylist()
            if len(norms) == 0:
                continue
            mins = []
            for nb in norms:
                toks = [t for t in nb.split(b" ") if t]
                if len(toks) >= n:
                    best = None
                    for i in range(len(toks) - n + 1):
                        h = md5(b" ".join(toks[i : i + n])).hexdigest()
                        if best is None or h < best:
                            best = h
                else:
                    best = md5(nb).hexdigest()
                mins.append(best)
            cols = [b.column(names.index(c)) for c in other] + [
                pa.array(mins, pa.string())
            ]
            yield pa.RecordBatch.from_arrays(cols, other + [out_col])

    return staged.mapInArrow(kernel, fields)


def repetition_stats(
    df: "DataFrame",
    id_col: str = "doc_id",
    text_col: str = "text",
) -> "DataFrame":
    """Gopher-style within-document repetition signals (Rae et al. 2021,
    §A1.1 repetition filters): (id, dup_word_frac, top_bigram_frac).

    - dup_word_frac: fraction of tokens that are repeats of an earlier
      token (1 - distinct/total).
    - top_bigram_frac: fraction of all bigram occurrences taken by the
      single most frequent bigram — boilerplate/spam pages score high.

    Fractions round to 4dp so the DuckDB oracle compares stably. One
    mapInArrow kernel, zero shuffles: it consumes the JVM-staged
    case-preserving whitespace-collapsed text and emits the INTEGER
    stats only (token count, distinct-token count, mode bigram count,
    bigram count) — splitting its bytes on the space byte reproduces
    Spark's split(trim, '\\s+') including the leading/trailing
    empty-token and the JVM bigram construction's leading-space
    duplication quirks (see operators/dedup.minhash_signatures); byte
    equality == the JVM's string equality. The divisions and round(…, 4)
    stay JVM expressions. Pinned bit-equal to the all-JVM sorted-run
    form tests/native_twins.repetition_stats_native by
    tests/test_arrow_kernel_parity."""
    import pyarrow as pa

    norm_case = F.regexp_replace(
        F.trim(F.coalesce(F.col(text_col), F.lit(""))), r"\s+", " "
    )
    staged = df.select(F.col(id_col), norm_case.alias("_nc"))
    id_t = staged.schema[id_col].dataType.simpleString()

    def kernel(batches):
        from collections import Counter

        for b in batches:
            ids = b.column(0)
            norms = b.column(1).cast(pa.binary()).to_pylist()
            if not norms:
                continue
            n_l, nd_l, mr_l, nb_l = [], [], [], []
            for nb in norms:
                raw = nb.split(b" ") if nb else []
                n_l.append(len(raw))
                nd_l.append(len(set(raw)))
                toks = [t for t in raw if t]
                if len(toks) >= 2:
                    if nb.startswith(b" "):
                        # the JVM gram construction's leading-space quirk
                        # (tests/native_twins.gram_array): both offsets
                        # degenerate to offset 0 and CONCAT duplicates
                        # the stride-2 windows
                        wins = [
                            b" ".join(toks[i : i + 2])
                            for i in range(0, len(toks) - 1, 2)
                        ]
                        bigr = wins + wins
                    else:
                        bigr = [
                            b" ".join(toks[i : i + 2])
                            for i in range(len(toks) - 1)
                        ]
                    mr_l.append(max(Counter(bigr).values()))
                    nb_l.append(len(bigr))
                else:
                    mr_l.append(0)
                    nb_l.append(0)
            yield pa.RecordBatch.from_arrays(
                [
                    ids,
                    pa.array(n_l, pa.int32()),
                    pa.array(nd_l, pa.int32()),
                    pa.array(mr_l, pa.int32()),
                    pa.array(nb_l, pa.int32()),
                ],
                [id_col, "_n", "_nd", "_mr", "_nb"],
            )

    stats = staged.mapInArrow(
        kernel, f"{id_col} {id_t}, _n int, _nd int, _mr int, _nb int"
    )
    return stats.select(
        F.col(id_col),
        F.when(
            F.col("_n") > 0,
            F.round(
                (F.col("_n") - F.col("_nd")) / F.col("_n").cast("double"), 4
            ),
        )
        .otherwise(F.lit(0.0))
        .alias("dup_word_frac"),
        F.when(
            F.col("_nb") > 0,
            F.round(F.col("_mr") / F.col("_nb").cast("double"), 4),
        )
        .otherwise(F.lit(0.0))
        .alias("top_bigram_frac"),
    )


def with_top_bigram_frac(
    df: "DataFrame", text_col: str = "text", out_col: str = "top_bigram_frac"
) -> "DataFrame":
    """Append the per-row top-bigram fraction, preserving all other
    columns — the filter-friendly form of the repetition_stats signal.
    The kernel is the repetition_stats one minus the distinct-token
    stats: integer (mode-bigram, bigram) counts from the byte-split of
    the JVM-staged whitespace-collapsed text — HERE over the RAW token
    sequence with Spark's empty leading/trailing split tokens kept,
    exactly the concat_ws bigrams of chunking.tokens — with the division
    and round(…, 4) left as JVM expressions. The outputs are real
    attributes behind an opaque Python node, so a `.where` on out_col is
    safe: PushPredicateThroughNonJoin never substitutes into it. Pinned
    bit-equal to the all-JVM form
    tests/native_twins.with_top_bigram_frac_native by
    tests/test_arrow_kernel_parity."""
    import pyarrow as pa

    keep = df.columns
    norm_case = F.regexp_replace(
        F.trim(F.coalesce(F.col(text_col), F.lit(""))), r"\s+", " "
    )
    staged = df.select("*", norm_case.alias("__tbf_nc"))
    fields = ", ".join(
        [f"{c} {df.schema[c].dataType.simpleString()}" for c in keep]
        + ["__tbf_mr int", "__tbf_nb int"]
    )

    def kernel(batches):
        from collections import Counter

        for b in batches:
            names = b.schema.names
            norms = (
                b.column(names.index("__tbf_nc")).cast(pa.binary()).to_pylist()
            )
            if not norms:
                continue
            mr_l, nb_l = [], []
            for nb in norms:
                raw = nb.split(b" ") if nb else []
                if len(raw) >= 2:
                    bigr = [
                        b" ".join(raw[i : i + 2]) for i in range(len(raw) - 1)
                    ]
                    mr_l.append(max(Counter(bigr).values()))
                    nb_l.append(len(bigr))
                else:
                    mr_l.append(0)
                    nb_l.append(0)
            cols = [b.column(names.index(c)) for c in keep] + [
                pa.array(mr_l, pa.int32()),
                pa.array(nb_l, pa.int32()),
            ]
            yield pa.RecordBatch.from_arrays(
                cols, keep + ["__tbf_mr", "__tbf_nb"]
            )

    stats = staged.mapInArrow(kernel, fields)
    frac = F.when(
        F.col("__tbf_nb") > 0,
        F.round(
            F.col("__tbf_mr") / F.col("__tbf_nb").cast("double"), 4
        ),
    ).otherwise(F.lit(0.0))
    return stats.select(*keep, frac.alias(out_col))

