"""Offline Crossref tiers for citation-bearing relation fields (J13/J14).

The reference validates every extracted DOI against the live Crossref API
(research_info.py:911-976 validate_doi_against_crossref) and, for
citations with neither DOI nor URL, searches Crossref for the citation
and accepts the top hit when fuzz.token_sort_ratio ≥ threshold
(research_info.py:981-1042 check_crossref_for_citation_doi; thresholds
:1054 → 30 for RPLIC). Here the API becomes an offline authority table
`auth_crossref(doi, title, authors)` — a Crossref works dump slice:

  tier V (validate): candidate DOI joined on lower(doi); a DOI absent
    from the table is INVALID (the API's 404 path), present → valid when
    token_sort_ratio(lower(title+' '+authors), lower(citation)) ≥ thr.
    A citation that is empty / a bare URL / a bare DOI can't be compared
    — the DOI is assumed valid (reference :941-944).
  tier S (search): entries with no valid DOI and no URL block against
    the authority by word-MinHash LSH (rows_per_band=1 → a candidate
    surfaces if ANY of the num_hashes minhashes agree; the offline
    stand-in for Crossref's own search ranking), then score with
    token_sort_ratio and keep the top hit ≥ thr (ties: doi order —
    declared, Crossref's relevance rank is not reproducible offline).

Scale: the authority table is Crossref-sized (10^8 rows, NOT broadcast);
tier V is one shuffled equi-join on the doi key, tier S shuffles on the
LSH band key. Both run on the mention rows (emit/arrow.mentions_arrow:
one row per mention entry the maps read, ≪ pages), never on the page
table itself; each map filters them on `kind`.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

from psyndex2linkeddata_spark.operators.dedup import lsh_bands, minhash_signatures
from psyndex2linkeddata_spark.operators.linking import token_sort_ratio_udf


def _assume_valid(citation):
    """No comparable citation → trust the DOI (reference :941-944)."""
    c = F.trim(F.coalesce(citation, F.lit("")))
    return (c == "") | c.startswith("http") | c.startswith("10.")


def _citation_search(
    keys: DataFrame, auth: DataFrame, threshold: float, num_hashes: int
) -> DataFrame:
    """Tier S kernel: distinct citation keys (_ckey, lowercased) → best
    authority DOI (_ckey, _sdoi) with token_sort_ratio ≥ threshold.

    Blocking runs on punctuation-stripped keys (norm_key) — attached
    punctuation ('rand,' vs 'rand') otherwise craters the word-set
    jaccard and with it the minhash agreement probability; scoring stays
    on the raw lowercased strings (reference semantics). rows_per_band=1:
    any shared minhash surfaces the candidate pair."""
    from psyndex2linkeddata_spark.operators.linking import norm_key

    keys_b = keys.withColumn("_ckey_b", norm_key(F.col("_ckey")))
    m_sig = minhash_signatures(
        keys_b, "_ckey", "_ckey_b", num_hashes, n=1
    ).select(
        "_ckey", F.explode(lsh_bands(F.col("_sig"), num_hashes, 1)).alias("b")
    ).select("_ckey", "b.band", "b.key")
    auth_b = auth.withColumn("_akey_b", norm_key(F.col("_akey")))
    a_sig = minhash_signatures(
        auth_b, "_adoi", "_akey_b", num_hashes, n=1
    ).join(auth, "_adoi").select(
        "_akey",
        "_doi_out",
        F.explode(lsh_bands(F.col("_sig"), num_hashes, 1)).alias("b"),
    ).select("_akey", "_doi_out", "b.band", "b.key")
    pairs = m_sig.join(a_sig, ["band", "key"]).select(
        "_ckey", "_akey", "_doi_out"
    ).distinct()
    scored = pairs.withColumn(
        "_score", token_sort_ratio_udf(F.col("_akey"), F.col("_ckey"))
    ).where(F.col("_score") >= F.lit(threshold))
    wq = Window.partitionBy("_ckey").orderBy(F.col("_score").desc(), F.col("_doi_out"))
    return (
        scored.withColumn("_rn", F.row_number().over(wq))
        .where(F.col("_rn") == 1)
        .select("_ckey", F.col("_doi_out").alias("_sdoi"))
    )


def rplic_resolution_map(
    mentions: DataFrame,
    auth_crossref: DataFrame,
    threshold: float = 30.0,
    search_threshold: float | None = None,
    num_hashes: int = 16,
) -> DataFrame:
    """J13/J14 kernel: `rplic` mention rows -> (url, _rplic_res:
    map<idx, array<doi>>).

    The map's value REPLACES the RPLIC entry's candidate DOIs (empty
    array = all candidate DOIs invalid); build_triples joins it onto the
    pages for the emitter (emit/arrow.py record_triples `_rplic_res`).

    `threshold` is the reference's fuzz threshold (30 for RPLIC).
    `search_threshold` (default = threshold) applies to tier S only: the
    live API ranks by its own relevance engine and the 30-bar merely
    sanity-checks its top hit; a pure similarity ranking has no such
    prior, so a higher acceptance bar stands in for it."""
    if search_threshold is None:
        search_threshold = threshold
    auth = auth_crossref.select(
        F.lower(F.trim(F.col("doi"))).alias("_adoi"),
        F.lower(
            F.concat_ws(" ", F.col("title"), F.coalesce(F.col("authors"), F.lit("")))
        ).alias("_akey"),
        F.col("doi").alias("_doi_out"),
    ).dropDuplicates(["_adoi"])

    ex = mentions.where(F.col("kind") == "rplic").select(
        "url",
        F.col("idx").alias("_idx"),
        F.col("main").alias("_main"),
        F.col("dois").alias("_dois"),
        F.col("n_urls").alias("_n_urls"),
        F.col("key").alias("_unk"),
    )
    ex = ex.localCheckpoint(eager=False)  # consumed by 3 joins below

    # ---- tier V: validate candidate DOIs, keep the first valid one -----
    cands = ex.select(
        "url", "_idx", "_main", F.posexplode("_dois").alias("_pos", "_cand")
    )
    v = cands.join(auth, F.lower(cands["_cand"]) == auth["_adoi"], "left")
    score = token_sort_ratio_udf(F.col("_akey"), F.lower(F.col("_main")))
    v = v.withColumn(
        "_valid",
        _assume_valid(F.col("_main"))
        | (F.col("_adoi").isNotNull() & (score >= F.lit(threshold))),
    )
    w = Window.partitionBy("url", "_idx").orderBy("_pos")
    first_valid = (
        v.where(F.col("_valid"))
        .withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .select("url", "_idx", F.col("_cand").alias("_vdoi"))
    )

    base = ex.join(first_valid, ["url", "_idx"], "left")

    # ---- tier S: citation → DOI search for entries with nothing else ---
    need = base.where(
        F.col("_vdoi").isNull()
        & (F.col("_n_urls") == 0)
        & F.col("_unk").isNotNull()
    ).select("url", "_idx", F.lower(F.col("_unk")).alias("_ckey"))
    best = _citation_search(
        need.select("_ckey").distinct(), auth, search_threshold, num_hashes
    )
    searched = need.join(best, "_ckey", "left").select("url", "_idx", "_sdoi")

    # ---- resolution map per record ------------------------------------
    return (
        base.join(searched, ["url", "_idx"], "left")
        .select(
            "url",
            "_idx",
            F.coalesce(
                F.when(F.col("_vdoi").isNotNull(), F.array(F.col("_vdoi"))),
                F.when(F.col("_sdoi").isNotNull(), F.array(F.col("_sdoi"))),
                F.array().cast("array<string>"),
            ).alias("_new_dois"),
        )
        .groupBy("url")
        .agg(
            F.map_from_entries(
                F.collect_list(F.struct(F.col("_idx"), F.col("_new_dois")))
            ).alias("_rplic_res")
        )
    )


def rel_resolution_map(
    mentions: DataFrame,
    auth_crossref: DataFrame,
    threshold: float = 60.0,
    search_threshold: float | None = None,
    num_hashes: int = 16,
) -> DataFrame:
    """J14 for REL fields: `rel` mention rows -> (url, _rel_res:
    map<idx, doi>): searched DOI for the composed |a/|t/|j/|q citation
    (research_info.py:1268-1276; similarity_threshold=60 — 'low … to get
    most of the RELs'). Only entries whose whole string classified as
    'unknown' (no inline DOI/URL) and that don't lead with a DFK have a
    row (emit/arrow.page_mentions); REL has no validation tier (inline
    DOIs are trusted)."""
    if search_threshold is None:
        search_threshold = threshold
    auth = auth_crossref.select(
        F.lower(F.trim(F.col("doi"))).alias("_adoi"),
        F.lower(
            F.concat_ws(" ", F.col("title"), F.coalesce(F.col("authors"), F.lit("")))
        ).alias("_akey"),
        F.col("doi").alias("_doi_out"),
    ).dropDuplicates(["_adoi"])

    ex = mentions.where(F.col("kind") == "rel").select(
        "url", F.col("idx").alias("_idx"), F.lower(F.col("key")).alias("_ckey")
    )

    best = _citation_search(
        ex.select("_ckey").distinct(), auth, search_threshold, num_hashes
    )
    return (
        ex.join(best, "_ckey", "left")
        .where(F.col("_sdoi").isNotNull())
        .groupBy("url")
        .agg(
            F.map_from_entries(
                F.collect_list(F.struct(F.col("_idx"), F.col("_sdoi")))
            ).alias("_rel_res")
        )
    )


def _dsm_icd_mismatch(a, b):
    """The reference's guard against classification-version confusions
    (research_info.py:1366-1369): a ≥-threshold match is still rejected
    when the two names disagree on DSM/ICD versions. The condition list
    (including its asymmetry — no DSM-5-in-db vs DSM-IV-in-record case)
    is mirrored verbatim."""
    return (
        (a.contains("DSM-III") & b.contains("DSM-IV"))
        | (b.contains("DSM-III") & a.contains("DSM-IV"))
        | (a.contains("DSM-IV") & b.contains("DSM-5"))
        | (a.contains("ICD-10") & b.contains("ICD-11"))
        | (a.contains("ICD-11") & b.contains("ICD-10"))
    )


def testg_resolution_map(
    mentions: DataFrame,
    auth_tests: DataFrame,
    threshold: float = 70.0,
    num_hashes: int = 16,
) -> DataFrame:
    """J15: `testg` mention rows -> (url, _testg_res: map<idx, test_id>):
    fill the test id of uncontrolled entries (no |c; emit/arrow.py
    testg_parsed_of reads the map) by fuzzy longName lookup against the
    offline test database (auth_tests(test_id, long_name) — the
    all_tests.json dump the reference loads in
    research_info.py:1355-1373).

    Blocking: word-MinHash LSH on punctuation-normalized lowercased names
    (rows_per_band=1); scoring: token_sort_ratio on the RAW names (the
    reference passes unprocessed strings — case matters); acceptance:
    score ≥ 70 and no DSM/ICD version mismatch; tie-break: best score,
    then test_id (the reference takes the first file-order hit — file
    order is not meaningful offline, declared deviation)."""
    from psyndex2linkeddata_spark.operators.linking import norm_key

    auth = auth_tests.select(
        F.col("test_id").alias("_tid"), F.col("long_name").alias("_aname")
    ).dropDuplicates(["_aname"])

    ex = mentions.where(F.col("kind") == "testg").select(
        "url", F.col("idx").alias("_idx"), F.col("key").alias("_lname")
    )

    keys = ex.select("_lname").distinct().withColumn(
        "_lname_b", norm_key(F.col("_lname"))
    )
    m_sig = minhash_signatures(keys, "_lname", "_lname_b", num_hashes, n=1).select(
        "_lname", F.explode(lsh_bands(F.col("_sig"), num_hashes, 1)).alias("b")
    ).select("_lname", "b.band", "b.key")
    auth_b = auth.withColumn("_aname_b", norm_key(F.col("_aname")))
    a_sig = minhash_signatures(
        auth_b, "_tid", "_aname_b", num_hashes, n=1
    ).join(auth, "_tid").select(
        "_tid", "_aname", F.explode(lsh_bands(F.col("_sig"), num_hashes, 1)).alias("b")
    ).select("_tid", "_aname", "b.band", "b.key")
    pairs = m_sig.join(a_sig, ["band", "key"]).select("_lname", "_tid", "_aname").distinct()
    scored = pairs.withColumn(
        "_score", token_sort_ratio_udf(F.col("_aname"), F.col("_lname"))
    ).where(
        (F.col("_score") >= F.lit(threshold))
        & ~_dsm_icd_mismatch(F.col("_aname"), F.col("_lname"))
    )
    w = Window.partitionBy("_lname").orderBy(F.col("_score").desc(), F.col("_tid"))
    best = (
        scored.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .select("_lname", F.col("_tid").alias("_found"))
    )
    return (
        ex.join(best, "_lname", "left")
        .where(F.col("_found").isNotNull())
        .groupBy("url")
        .agg(
            F.map_from_entries(
                F.collect_list(F.struct(F.col("_idx"), F.col("_found")))
            ).alias("_testg_res")
        )
    )
