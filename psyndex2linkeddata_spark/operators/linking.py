"""Entity linking against authority tables (SURVEY §2.4 J1-J18). The
reference's per-row HTTP lookups (ROR/Crossref/Skosmos, redis-cached —
local_api_lookups.py) become offline authority DataFrames joined by one
of two matchers:

  link_exact        exact broadcast hash join on the normalized key
  link_affiliation  ROR-affiliation-style token containment

The fuzzy tiers (J13-J15: LSH blocking, a token_sort_ratio score, the
top hit per key) are one search in plans/crossref.py; this module holds
their key normalization (`norm_key`) and scorer (`token_sort_ratio_udf`).

Spark-native memoization (replacing requests_cache/redis): `distinct()`
the mention keys before the expensive tier, join once, re-join to rows —
each unique dirty string is scored exactly once per job.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column, DataFrame, functions as F
from pyspark.sql.functions import pandas_udf


def norm_key(col: Column) -> Column:
    """Join key normalization: casefold, collapse whitespace, strip
    punctuation variants that the reference's replace lists target."""
    s = F.lower(F.trim(col))
    s = F.regexp_replace(s, r"[.,;:()]+", " ")
    return F.trim(F.regexp_replace(s, r"\s+", " "))


def _token_sort_ratio_py(a: str | None, b: str | None) -> float:
    """rapidfuzz fuzz.token_sort_ratio semantics: whitespace-tokenize,
    sort, rejoin, then normalized InDel similarity × 100. difflib's
    SequenceMatcher.ratio() (autojunk off) IS the normalized InDel
    similarity: 2M/(|a|+|b|) with M the matched chars."""
    import difflib

    if a is None or b is None:
        return 0.0
    ta = " ".join(sorted(a.split()))
    tb = " ".join(sorted(b.split()))
    if not ta and not tb:
        return 100.0
    return 100.0 * difflib.SequenceMatcher(None, ta, tb, autojunk=False).ratio()


def _token_sort_fn(s: pd.DataFrame) -> pd.Series:
    return s.apply(lambda r: _token_sort_ratio_py(r["a"], r["b"]), axis=1)


def token_sort_ratio_udf(a: Column, b: Column) -> Column:
    """Arrow-batched token_sort_ratio (0..100) — the reference's Crossref
    match scorer (research_info.py:966,1030: fuzz.token_sort_ratio over
    lowercased 'title authors' vs citation). Applied only to candidates
    that survive blocking/joins, never to full tables."""
    fn = pandas_udf(_token_sort_fn, "double")
    return fn(F.struct(a.alias("a"), b.alias("b")))


def link_exact(
    mentions: DataFrame,
    authority: DataFrame,
    mention_key: str,
    auth_key: str,
    auth_cols: list[str],
) -> DataFrame:
    """Tier 1: broadcast hash join on normalized keys. Returns mentions +
    authority columns (null where unmatched)."""
    auth = F.broadcast(
        authority.select(
            norm_key(F.col(auth_key)).alias("_akey"), *[F.col(c) for c in auth_cols]
        ).dropDuplicates(["_akey"])
    )
    return mentions.withColumn("_mkey", norm_key(F.col(mention_key))).join(
        auth, F.col("_mkey") == F.col("_akey"), "left"
    ).drop("_akey", "_mkey")


def link_affiliation(
    mentions: DataFrame,
    authority: DataFrame,
    mention_key: str,
    auth_key: str,
    auth_cols: list[str],
    mention_country_col: str | None = None,
    auth_country_col: str | None = None,
) -> DataFrame:
    """ROR-affiliation-style containment matcher — the offline stand-in
    for the reference's ``api.ror.org/organizations?affiliation=`` calls
    (norminstitute_ror_to_csv.py, norminstitute.ipynb): an authority org
    matches a mention string when ALL of its normalized name tokens
    appear among the mention's tokens, ranked

      1. contiguous phrase occurrences before scattered token sets,
      2. longer authority names first (more specific org),
      3. earliest first-token position in the mention,
      4. in-country rows first (when both country columns are given;
         a null mention country expresses no preference),
      5. smallest (auth_cols) tuple as the deterministic final tie-break.

    This ranking reproduces the reference's checked-in API run verbatim
    — 51/51 rows of Luxembourg_institute_cluster_with_ror.csv, resolved
    and unresolved alike (tests/test_skew_and_job.py
    test_ror_enrich_reference_artifact).

    Scale shape: the authority is dimension-sized and broadcast;
    candidate generation blocks on the authority name's FIRST token
    (a necessary condition for containment) against the mention's
    exploded token set, so the join carries |mentions|·avg_tokens rows
    against a |authority|-row build side — no quadratic pass. Scoring
    is all native array expressions (array_except / array_position /
    contains); distinct normalized mentions are scored once and
    re-joined (the engine's memoization idiom, replacing the
    reference's requests_cache).

    Returns mentions + auth_cols (null where nothing matched).
    """
    from pyspark.sql import Window

    keycols = ["_mnorm"] + (["_mland"] if mention_country_col else [])
    m = mentions.withColumn("_mnorm", norm_key(F.col(mention_key)))
    if mention_country_col:
        # '' = no-preference sentinel: a NULL key would break the
        # memoization re-join (NULL never equi-joins)
        m = m.withColumn(
            "_mland", F.coalesce(F.upper(F.col(mention_country_col)), F.lit(""))
        )
    distinct_m = m.select(*keycols).where(F.col("_mnorm") != "").distinct()
    toks = distinct_m.withColumn("_mtoks", F.split(F.col("_mnorm"), " "))

    a = authority.withColumn("_anorm", norm_key(F.col(auth_key)))
    if auth_country_col:
        a = a.withColumn("_aland", F.upper(F.col(auth_country_col)))
    acols = ["_tok", "_anorm", "_atoks"] + (
        ["_aland"] if auth_country_col else []
    )
    a = (
        a.where(F.col("_anorm") != "")
        .withColumn("_atoks", F.split(F.col("_anorm"), " "))
        .withColumn("_tok", F.element_at(F.col("_atoks"), 1))
        .select(*acols, *[F.col(c) for c in auth_cols])
        .dropDuplicates(
            ["_anorm"] + (["_aland"] if auth_country_col else [])
        )
    )

    cand = (
        toks.select(*keycols, "_mtoks", F.explode("_mtoks").alias("_tok"))
        .join(F.broadcast(a), "_tok")
        .drop("_tok")
        # dedup on the FULL authority identity — same-name orgs in two
        # countries are distinct candidates (the country tie-break must
        # see both)
        .dropDuplicates(
            keycols + ["_anorm"] + (["_aland"] if auth_country_col else [])
        )
    )
    full = cand.where(F.size(F.array_except(F.col("_atoks"), F.col("_mtoks"))) == 0)
    scored = full.select(
        *keycols,
        *auth_cols,
        F.when(
            F.contains(
                F.concat(F.lit(" "), F.col("_mnorm"), F.lit(" ")),
                F.concat(F.lit(" "), F.col("_anorm"), F.lit(" ")),
            ),
            F.lit(0),
        ).otherwise(F.lit(1)).alias("_scatter"),
        (-F.size(F.col("_atoks"))).alias("_neg_len"),
        F.array_min(
            F.transform(
                F.col("_atoks"),
                lambda t: F.array_position(F.col("_mtoks"), t),
            )
        ).alias("_first"),
        (
            F.when(
                (F.col("_mland") != "")
                & (F.col("_aland") != F.col("_mland")),
                F.lit(1),
            ).otherwise(F.lit(0))
            if (mention_country_col and auth_country_col)
            else F.lit(0)
        ).alias("_xcountry"),
    )
    w = Window.partitionBy(*keycols).orderBy(
        F.col("_scatter"), F.col("_neg_len"), F.col("_first"),
        F.col("_xcountry"), *[F.col(c) for c in auth_cols]
    )
    best = (
        scored.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .select(*keycols, *auth_cols)
    )
    # no broadcast hint on the re-join (r06, per round-5 advice): `best`
    # has one row per distinct normalized MENTION — mention-scaled, not
    # dimension-scaled — so forcing it into a broadcast would overflow
    # the driver on corpus-scale mention sets; AQE picks broadcast by
    # itself whenever the mention set is actually small.
    return m.join(best, keycols, "left").drop("_mnorm", "_mland")
