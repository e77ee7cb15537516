"""FRBR work extraction / deduplication over an instance-record table.

The reference leaves this stage as a design document —
other_conversions/work_extraction_deduplication/work_extraction.ipynb —
that works through real PSYNDEX cases and lands on a concrete decision
procedure; this plan operationalizes that procedure distributed (the
north-star names "work splitting" alongside contribution/instance):

- **Blocking** on a normalized (title_key, authors_key): "different
  punctuation, but resulting in same title_key" is the notebook's own
  equivalence for candidate pairs.
- **Over-populated blocks never merge** ("if there are more than 5
  records with the same title and author ... just don't merge them at
  all" — the 14 'Werbewirkungsforschung' yearly articles). At scale
  this heuristic doubles as the skew guard: a hot title block is
  excluded BEFORE the within-block self-join, so no block ever
  self-joins more than max_block² pairs.
- **Merge signal**: identical non-empty abstract (the notebook's md5
  hash comparison; its empty-abstract hashes collide and are
  explicitly not evidence) AND publication years within a small window
  ("they usually appear in a short timespan, like max 2 years apart").
- **Preprint pairs link, not merge**: same abstract but exactly one
  side is a report ("we should not merge as one work, but two
  different works linked via 'has preprint'").
- **Serial siblings**: same block + same journal but different
  abstracts are the yearly-series case — separate works, labeled so a
  curator can review.

Output: one row per record — (rec_id, work_id, block_size, relation)
with work_id = min rec_id of its same-work cluster (connected
components over merge edges) and relation the record's strongest pair
class (merged > preprint > serial > blocked_series > singleton).

Scale shape: one shuffle to count block sizes (window over the block
key), one bounded self-join inside small blocks only, and the
components closure of the (tiny) merge-edge set. Everything else is
native Column expressions — md5/lower/regexp_replace are JVM built-ins.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window, functions as F

from psyndex2linkeddata_spark.operators.components import connected_components

__all__ = ["dublettencheck", "extract_works", "record_keys", "title_key"]


def title_key(col: Column) -> Column:
    """Punctuation/case-insensitive blocking key: lowercase, strip
    everything but letters and digits (unicode-aware lower; the
    notebook's two 'Verteilung des Glaubens...' titles differ only in
    ':' vs '.' and must collide)."""
    return F.regexp_replace(F.lower(col), r"[^\p{L}\p{N}]+", "")


# Python str.casefold() expansions that JVM lower() does not perform AND
# whose loss is visible in a [a-z&0]-stripped key — the COMPLETE BMP set
# (probed exhaustively over 0x0000-0xFFFF: for every other codepoint,
# casefold and lower agree or differ only in characters the strip class
# removes). Values are the exact casefold expansions, combining marks
# included, so even regex-boundary contexts match the reference.
_CASEFOLD_COMPAT = (
    ("ŉ", "ʼn"),  # ŉ
    ("ſ", "s"),        # ſ  (long s — historical German text)
    ("ǰ", "ǰ"),  # ǰ
    ("ẖ", "ẖ"),
    ("ẗ", "ẗ"),
    ("ẘ", "ẘ"),
    ("ẙ", "ẙ"),
    ("ẚ", "aʾ"),
    ("ﬀ", "ff"),
    ("ﬁ", "fi"),
    ("ﬂ", "fl"),
    ("ﬃ", "ffi"),
    ("ﬄ", "ffl"),
    ("ﬅ", "st"),
    ("ﬆ", "st"),
)


def _fold(col: Column) -> Column:
    """The reference's casefold+umlaut normalization: casefold, then
    ö→oe ä→ae ü→ue ß→ss. (The reference casefolds BEFORE its translate
    map, so ß reaches 'ss' via casefold and its ß map entry is dead;
    Spark's lower() keeps ß, so the explicit replace restores the same
    result, and _CASEFOLD_COMPAT restores the remaining casefold
    expansions lower() lacks — ligatures, long s, etc.)"""
    c = F.lower(col)
    for a, b in _CASEFOLD_COMPAT + (
        ("ö", "oe"),
        ("ä", "ae"),
        ("ü", "ue"),
        ("ß", "ss"),
    ):
        c = F.replace(c, F.lit(a), F.lit(b))
    return c


def _author_key(author: Column) -> Column:
    # familyname + first letter of givenname, folded
    return _fold(
        F.concat(author["familyname"], F.substring(author["givenname"], 1, 1))
    )


def record_keys(records: DataFrame) -> DataFrame:
    """The reference's Dublettencheck keys, verbatim (pythontests.ipynb
    cell "generate a title key for deduplication", golden output
    checked in as other_conversions/records_with_keys.json and gated
    exactly in tests/test_dublettencheck.py):

    - title_key over mainTitle + ' ' + subtitle: casefold, umlaut fold,
      standalone and/und → '&', then strip everything outside
      ``[a-z&0]`` — the reference's character class is literally
      ``[^a-z&0-0]`` (the 0-0 range keeps only the digit 0, an
      upstream quirk kept verbatim: keys strip digits 1-9);
    - first_author_key / all_authors_key from familyname + first letter
      of givenname, folded; the all-key concatenates every author's key
      in order.

    Input columns: mainTitle, subtitle (nullable), and authors as
    array<struct<familyname:string, givenname:string>>. Adds the three
    key columns; everything is native Column logic (lower/replace/
    regexp_replace + array transform/aggregate)."""
    full_title = F.concat_ws(" ", F.col("mainTitle"), F.col("subtitle"))
    tkey = _fold(full_title)
    # (?U): Java's \b is ASCII-word by default while Python's re \b is
    # Unicode-aware — without the flag, `and` adjacent to a non-ASCII
    # letter ("andé") would be replaced here but not by the reference
    tkey = F.regexp_replace(tkey, r"(?U)\b(and|und)\b", "&")
    tkey = F.regexp_replace(tkey, "[^a-z&0-0]", "")
    return records.withColumns(
        {
            "title_key": tkey,
            "first_author_key": _author_key(F.element_at(F.col("authors"), 1)),
            "all_authors_key": F.aggregate(
                F.col("authors"),
                F.lit(""),
                lambda acc, a: F.concat(acc, _author_key(a)),
            ),
        }
    )


def dublettencheck(records: DataFrame) -> DataFrame:
    """The reference's two-tier duplicate check (find_duplicate_dfks):
    records sharing (title_key, first_author_key, all_authors_key) are
    'definite' duplicates; records sharing (title_key,
    first_author_key) are 'possible' duplicates (the superset — only
    the full author list differs). Returns one row per record with both
    keys' group sizes; a record is a definite/possible duplicate iff
    the respective size > 1.

    Scale: two window counts over key shuffles — the same hash keys a
    1000-executor run would partition by; no self-join, no pair
    explosion."""
    keyed = record_keys(records)
    w3 = Window.partitionBy("title_key", "first_author_key", "all_authors_key")
    w2 = Window.partitionBy("title_key", "first_author_key")
    return keyed.withColumns(
        {
            "n_definite": F.count(F.lit(1)).over(w3),
            "n_possible": F.count(F.lit(1)).over(w2),
        }
    )


def extract_works(
    records: DataFrame,
    max_block: int = 5,
    year_window: int = 2,
) -> DataFrame:
    """records(rec_id, title, authors, journal, year, doctype, abstract)
    → (rec_id, work_id, block_size, relation). doctype value 'report'
    marks the preprint-ish side of a has-preprint pair."""
    r = records.select(
        "rec_id",
        title_key(F.col("title")).alias("tk"),
        title_key(F.col("authors")).alias("ak"),
        # empty/punctuation-only journals normalize to '' — treat as
        # no-journal (null), matching the non-empty guard on abstracts,
        # so two journal-less records are never 'serial' siblings
        F.nullif(title_key(F.col("journal")), F.lit("")).alias("jk"),
        F.col("year").cast("int").alias("yr"),
        F.col("doctype"),
        F.when(
            F.length(F.trim(F.col("abstract"))) > 0,
            F.md5(F.col("abstract")),
        ).alias("ah"),
    )
    w = Window.partitionBy("tk", "ak")
    r = r.withColumn("block_size", F.count(F.lit(1)).over(w))

    small = r.where(F.col("block_size").between(2, max_block))
    a = small.select(
        "tk",
        "ak",
        F.col("rec_id").alias("rec_a"),
        F.col("jk").alias("jk_a"),
        F.col("yr").alias("yr_a"),
        F.col("doctype").alias("dt_a"),
        F.col("ah").alias("ah_a"),
    )
    b = small.select(
        "tk",
        "ak",
        F.col("rec_id").alias("rec_b"),
        F.col("jk").alias("jk_b"),
        F.col("yr").alias("yr_b"),
        F.col("doctype").alias("dt_b"),
        F.col("ah").alias("ah_b"),
    )
    pairs = a.join(b, ["tk", "ak"]).where(F.col("rec_a") < F.col("rec_b"))
    hash_eq = (
        F.col("ah_a").isNotNull()
        & F.col("ah_b").isNotNull()
        & (F.col("ah_a") == F.col("ah_b"))
        & (F.abs(F.col("yr_a") - F.col("yr_b")) <= year_window)
    )
    preprint_pair = (F.col("dt_a") == "report") != (F.col("dt_b") == "report")
    classed = pairs.select(
        "rec_a",
        "rec_b",
        F.when(hash_eq & preprint_pair, F.lit("preprint"))
        .when(hash_eq, F.lit("merged"))
        .when(
            F.col("jk_a").isNotNull() & (F.col("jk_a") == F.col("jk_b")),
            F.lit("serial"),
        )
        .alias("relation"),
    ).where(F.col("relation").isNotNull())
    # classed is consumed three times (merge edges, both touched
    # branches); without a cut each consumer would replay the blocking
    # window shuffle AND the self-join. The pair set is tiny (≤
    # max_block² per small block), so materialize it once.
    classed = classed.localCheckpoint(eager=False)

    merge_edges = classed.where(F.col("relation") == "merged").select(
        F.col("rec_a").alias("src"), F.col("rec_b").alias("dst")
    )
    # max_iter bounds only the distributed fallback for a star over the
    # one-task budget; cluster size ≤ max_block keeps its rounds under it
    cc = connected_components(merge_edges, max_iter=max(max_block, 2))

    rank = F.when(F.col("relation") == "merged", 3).when(
        F.col("relation") == "preprint", 2
    ).otherwise(1)
    touched = (
        classed.select(F.col("rec_a").alias("rec_id"), "relation")
        .union(classed.select(F.col("rec_b").alias("rec_id"), "relation"))
        .withColumn("rk", rank)
        .groupBy("rec_id")
        .agg(F.max(F.struct("rk", "relation")).alias("m"))
        .select("rec_id", F.col("m.relation").alias("pair_relation"))
    )

    return (
        r.join(touched, "rec_id", "left")
        .join(
            cc.select(F.col("node").alias("rec_id"), "component"),
            "rec_id",
            "left",
        )
        .select(
            "rec_id",
            F.coalesce(F.col("component"), F.col("rec_id")).alias("work_id"),
            "block_size",
            F.coalesce(
                F.col("pair_relation"),
                F.when(
                    F.col("block_size") > max_block, F.lit("blocked_series")
                ).otherwise(F.lit("singleton")),
            ).alias("relation"),
        )
    )
