"""Offline Crossref and test-database tiers (J13/J14/J15).

The reference validates extracted DOIs against the live Crossref API
(research_info.py:911-976), searches Crossref for citations with neither
DOI nor URL and takes the top hit when fuzz.token_sort_ratio ≥ threshold
(:981-1042; 30 for RPLIC :1054, 60 for REL :1268-1276), and looks test
names up in its test database (:1355-1373, ≥ 70). Here the API becomes
an offline table `auth_crossref(doi, title, authors)` — a Crossref works
dump slice — and the database `auth_tests(test_id, long_name)`:

  tier V (validate, RPLIC only): candidate DOI joined on lower(doi); a
    DOI absent from the table is INVALID (the API's 404 path), present →
    valid when token_sort_ratio(lower(title+' '+authors),
    lower(citation)) ≥ 30. A citation that is empty / a bare URL / a
    bare DOI can't be compared — the DOI is assumed valid (:941-944).
  tier S (search: RPLIC/REL citations, TESTG names): `_top_match`, the
    offline stand-in for the API's own search ranking.

Scale: the works table is Crossref-sized (10^8 rows, NOT broadcast);
tier V is one shuffled equi-join on the doi key, tier S shuffles on the
LSH band key. Both run on the mention rows (emit/arrow.mentions_arrow:
one row per mention entry the maps read, ≪ pages), never on the page
table itself; each map filters them on `kind`.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

from psyndex2linkeddata_spark.operators.dedup import lsh_bands, minhash_signatures
from psyndex2linkeddata_spark.operators.linking import norm_key, token_sort_ratio_udf

RPLIC_THRESHOLD = 30.0
REL_THRESHOLD = 60.0
TESTG_THRESHOLD = 70.0
NUM_HASHES = 16


def _assume_valid(citation):
    """No comparable citation → trust the DOI (reference :941-944)."""
    c = F.trim(F.coalesce(citation, F.lit("")))
    return (c == "") | c.startswith("http") | c.startswith("10.")


def _top_match(keys: DataFrame, auth: DataFrame, reject=None) -> DataFrame:
    """Tier S kernel: distinct `_key` rows against an authority with one
    row per entry (_aname, _out) → (_key, _out, _score), the top
    candidate per key by token_sort_ratio, then `_out` (declared: the
    API's relevance rank and the test file's order are not reproducible
    offline). Candidates where `reject(_aname, _key)` holds drop out
    before the ranking; callers threshold `_score` after it (the top
    candidate clears a threshold exactly when some candidate does).

    Blocking: word-MinHash LSH with rows_per_band=1 (any shared minhash
    surfaces the pair) on punctuation-stripped strings (norm_key) —
    attached punctuation ('rand,' vs 'rand') otherwise craters the
    word-set jaccard; scoring stays on the strings as given. The
    authority columns ride the signature kernel as its id, so no join
    brings them back before the bands explode."""

    def banded(df, id_col, text_col):
        blk = df.withColumn("_blk", norm_key(F.col(text_col)))
        sig = minhash_signatures(blk, id_col, "_blk", NUM_HASHES, n=1)
        b = F.explode(lsh_bands(F.col("_sig"), NUM_HASHES, 1)).alias("b")
        return sig.select(id_col, b).select(id_col, "b.band", "b.key")

    m_sig = banded(keys, "_key", "_key")
    a = auth.select(F.struct("_aname", "_out").alias("_a"), "_aname")
    a_sig = banded(a, "_a", "_aname").select("_a.*", "band", "key")
    pairs = m_sig.join(a_sig, ["band", "key"]).select("_key", "_aname", "_out")
    pairs = pairs.distinct()
    if reject is not None:
        pairs = pairs.where(~reject(F.col("_aname"), F.col("_key")))
    score = token_sort_ratio_udf(F.col("_aname"), F.col("_key"))
    scored = pairs.withColumn("_score", score)
    w = Window.partitionBy("_key").orderBy(F.col("_score").desc(), F.col("_out"))
    return (
        scored.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .select("_key", "_out", "_score")
    )


def _searched(rows: DataFrame, auth: DataFrame, threshold: float, reject=None):
    """`rows` (url, _idx, _key) → (url, _idx, _key, _out): `_out` is the
    top match of `_key` when it scores ≥ threshold, else null."""
    best = _top_match(rows.select("_key").distinct(), auth, reject).where(
        F.col("_score") >= F.lit(threshold)
    )
    return rows.join(best.select("_key", "_out"), "_key", "left")


def _per_page(rows: DataFrame, value, name: str) -> DataFrame:
    """Fold (url, _idx, value) rows into one `name: map<_idx, value>`
    column per page."""
    return rows.groupBy("url").agg(
        F.map_from_entries(F.collect_list(F.struct(F.col("_idx"), value))).alias(name)
    )


def crossref_resolution_maps(
    mentions: DataFrame,
    auth_crossref: DataFrame,
    search_threshold: float | None = None,
) -> tuple[DataFrame, DataFrame]:
    """J13/J14: `rplic` and `rel` mention rows -> (url, _rplic_res:
    map<idx, array<doi>>) and (url, _rel_res: map<idx, doi>), over one
    projection of the works table.

    `_rplic_res` REPLACES an RPLIC entry's candidate DOIs (empty array =
    all candidate DOIs invalid): the first valid candidate (tier V), else
    for an entry with no URL the searched DOI of its citation (tier S).
    `_rel_res` holds the searched DOI of the composed |a/|t/|j/|q
    citation; only REL entries whose whole string classified as
    'unknown' (no inline DOI/URL) and that don't lead with a DFK have a
    row (emit/arrow.page_mentions), and REL has no validation tier
    (inline DOIs are trusted). build_triples joins both onto the pages
    for the emitter (emit/arrow.py record_triples).

    `search_threshold` (default 30) applies to the RPLIC search only: the
    live API ranks by its own relevance engine and the 30-bar merely
    sanity-checks its top hit; a pure similarity ranking has no such
    prior, so a higher acceptance bar stands in for it."""
    if search_threshold is None:
        search_threshold = RPLIC_THRESHOLD
    auth = auth_crossref.select(
        F.lower(F.trim(F.col("doi"))).alias("_adoi"),
        F.lower(
            F.concat_ws(" ", F.col("title"), F.coalesce(F.col("authors"), F.lit("")))
        ).alias("_aname"),
        F.col("doi").alias("_out"),
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
    score = token_sort_ratio_udf(F.col("_aname"), F.lower(F.col("_main")))
    v = v.withColumn(
        "_valid",
        _assume_valid(F.col("_main"))
        | (F.col("_adoi").isNotNull() & (score >= F.lit(RPLIC_THRESHOLD))),
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
    ).select("url", "_idx", F.lower(F.col("_unk")).alias("_key"))
    searched = _searched(need, auth, search_threshold).select("url", "_idx", "_out")

    rplic = _per_page(
        base.join(searched, ["url", "_idx"], "left"),
        F.coalesce(
            F.when(F.col("_vdoi").isNotNull(), F.array(F.col("_vdoi"))),
            F.when(F.col("_out").isNotNull(), F.array(F.col("_out"))),
            F.array().cast("array<string>"),
        ),
        "_rplic_res",
    )

    rel = mentions.where(F.col("kind") == "rel").select(
        "url", F.col("idx").alias("_idx"), F.lower(F.col("key")).alias("_key")
    )
    rel_res = _per_page(
        _searched(rel, auth, REL_THRESHOLD).where(F.col("_out").isNotNull()),
        F.col("_out"),
        "_rel_res",
    )
    return rplic, rel_res


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


def testg_resolution_map(mentions: DataFrame, auth_tests: DataFrame) -> DataFrame:
    """J15: `testg` mention rows -> (url, _testg_res: map<idx, test_id>):
    fill the test id of uncontrolled entries (no |c; emit/arrow.py
    testg_parsed_of reads the map) by fuzzy longName lookup against the
    offline test database (auth_tests(test_id, long_name) — the
    all_tests.json dump the reference loads in
    research_info.py:1355-1373).

    The authority holds one row per long name; scoring is
    token_sort_ratio on the RAW names (the reference passes unprocessed
    strings — case matters); a candidate with a DSM/ICD version mismatch
    never ranks; acceptance: score ≥ 70; tie-break: best score, then
    test_id (the reference takes the first file-order hit — file order
    is not meaningful offline, declared deviation)."""
    auth = auth_tests.select(
        F.col("long_name").alias("_aname"), F.col("test_id").alias("_out")
    ).dropDuplicates(["_aname"])
    ex = mentions.where(F.col("kind") == "testg").select(
        "url", F.col("idx").alias("_idx"), F.col("key").alias("_key")
    )
    return _per_page(
        _searched(ex, auth, TESTG_THRESHOLD, reject=_dsm_icd_mismatch).where(
            F.col("_out").isNotNull()
        ),
        F.col("_out"),
        "_testg_res",
    )
