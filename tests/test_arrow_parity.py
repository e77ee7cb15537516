"""Arrow-emitter parity gate: the mapInArrow hot path (emit/arrow.py)
must produce EXACTLY the triple set of the declarative Column path for
the same input — including the kill-list, the J1-J6 authority links
(in-stage on the Arrow path, plans/enrich.py joins on the Column path)
and the J13-J15 offline-linking resolution maps. This is what lets the
engine run the Python emitter at scale while the Column layer remains
the citable spec.

Cost control (round-3 verdict #5): the Column path is the expensive side
(~10^4-node interpreted expression tree), so it is materialized ONCE per
scenario in a module-scoped fixture and shared — the plain set serves
both the pages-input and records-input tests (their column sides are the
same plan: extract → normalize → emit → finalize), and the authorities
scenarios (with and without resolution maps) run on a deterministic
~1/3 subset of the corpus. 7 full Column executions → 3 (one full, two
third-size); parity stays exact-set.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from psyndex2linkeddata_spark.plans.pipeline import build_triples


def _tset(df):
    return {(r.subj, r.pred, r.obj, r.obj_is_iri, r.lang, r.dtype) for r in df.collect()}


def _diff_msg(a, c):
    return (
        f"arrow-only={len(a - c)} column-only={len(c - a)}; "
        f"examples: {sorted(a ^ c)[:5]}"
    )


@pytest.fixture(scope="module")
def column_plain(spark, pages):
    """The Column-path triple set, computed once for the two plain tests."""
    return _tset(build_triples(pages, emit_mode="columns"))


@pytest.fixture(scope="module")
def pages_subset(spark, pages, fixture_dir):
    """Deterministic ~1/3 slice (crc32(url) — stable across jobs, unlike
    limit(), whose row pick can vary between executions), plus the pages
    the bad_ids kill-list names, which the slice alone misses: the
    kill-list scenarios then drop real pages."""
    killed = [
        r.dfk
        for r in spark.read.parquet(os.path.join(fixture_dir, "bad_ids.parquet"))
        .select("dfk")
        .collect()
    ]
    dfk = F.regexp_extract(F.col("text"), r"(?m)^DFK (.*)$", 1)
    return pages.filter((F.crc32(F.col("url")) % 3 == 0) | dfk.isin(*killed))


@pytest.fixture(scope="module")
def authorities(spark, fixture_dir):
    names = ("auth_orgs", "auth_concepts", "bad_ids", "auth_crossref", "auth_tests")
    loaded = {}
    for n in names:
        p = os.path.join(fixture_dir, f"{n}.parquet")
        if os.path.exists(p):
            loaded[n] = spark.read.parquet(p)
    return {
        k: v
        for k, v in (
            ("auth_orgs", loaded.get("auth_orgs")),
            ("auth_concepts", loaded.get("auth_concepts")),
            ("bad_ids", loaded.get("bad_ids")),
            ("crossref", loaded.get("auth_crossref")),
            ("tests", loaded.get("auth_tests")),
        )
        if v is not None
    }


def test_arrow_matches_columns_plain(spark, pages, column_plain):
    a = _tset(build_triples(pages, emit_mode="arrow"))
    assert a == column_plain, _diff_msg(a, column_plain)


def test_arrow_matches_columns_records_input(spark, pages, column_plain):
    """records-shaped input (post-extract) through the same Arrow stage.

    The column-side expectation is the shared `column_plain` set:
    build_triples(columns) IS finalize(emit_triples(normalize(extract))),
    i.e. the very plan this test used to rebuild inline (clean_genres +
    dedup included via finalize)."""
    from psyndex2linkeddata_spark.emit.arrow import emit_triples_arrow
    from psyndex2linkeddata_spark.extract.parser import extract_records

    records = extract_records(pages)
    a = _tset(emit_triples_arrow(records).dropDuplicates())
    assert a == column_plain, _diff_msg(a, column_plain)


def _job_authorities(authorities):
    """The authority set jobs/convert.py loads (no resolution maps)."""
    from psyndex2linkeddata_spark.jobs.convert import AUTHORITY_TABLES

    return {k: authorities[k] for k in AUTHORITY_TABLES}


@pytest.mark.parametrize("scenario", ["maps", "job"])
def test_arrow_matches_columns_with_authorities(
    spark, pages_subset, authorities, scenario
):
    """Kill-list applied in-stage on both Arrow routes: `maps` adds the
    resolution maps the fixture provides (records input), `job` is the
    convert job's authority set (pages input)."""
    from psyndex2linkeddata_spark.extract.parser import extract_records

    auth = authorities if scenario == "maps" else _job_authorities(authorities)
    killed = extract_records(pages_subset).join(
        auth["bad_ids"].select(F.col("dfk").alias("DFK")), "DFK"
    )
    assert killed.count() > 0
    a = _tset(build_triples(pages_subset, auth, emit_mode="arrow"))
    c = _tset(build_triples(pages_subset, auth, emit_mode="columns"))
    assert a == c, _diff_msg(a, c)


def test_arrow_linking_parses_pages_once(
    spark, pages_subset, authorities, fixture_dir, monkeypatch
):
    """Plan shape of the Arrow linking path: with the job's authority set
    neither the Column parser nor the anti-join kill-list enters the plan
    (the stage parses pages and applies the kill-list itself); a
    resolution map still needs the Column parser's mention columns."""
    from psyndex2linkeddata_spark.extract import parser
    from psyndex2linkeddata_spark.plans import pipeline

    def forbidden(*args, **kwargs):
        raise AssertionError("Column parser or anti-join on the Arrow pages route")

    monkeypatch.setattr(parser, "filter_bad_ids", forbidden)
    monkeypatch.setattr(pipeline, "extract_records", forbidden)
    job = _job_authorities(authorities)
    assert build_triples(pages_subset, job, emit_mode="arrow").count() > 0

    calls = []

    def spy(pages):
        calls.append(pages)
        return parser.extract_records(pages)

    monkeypatch.setattr(pipeline, "extract_records", spy)
    crossref = spark.createDataFrame(
        [("10.1000/x", "a title", "an author")],
        "doi string, title string, authors string",
    )
    kern = spark.read.parquet(os.path.join(fixture_dir, "auth_kerndaten.parquet"))
    for key, table in (("crossref", crossref), ("kerndaten", kern)):
        calls.clear()
        build_triples(
            pages_subset, {"bad_ids": job["bad_ids"], key: table}, emit_mode="arrow"
        )
        assert len(calls) == 1, key


def test_arrow_linking_runs_no_enrich_joins(
    spark, pages, pages_subset, authorities, monkeypatch
):
    """The Arrow path links inside the emit stage: with enrich_triples and
    its six joins made to raise, the job's authority set still builds,
    runs and links; the Column path still calls enrich_triples once."""
    from psyndex2linkeddata_spark.plans import enrich

    def forbidden(*args, **kwargs):
        raise AssertionError("plans.enrich join on the Arrow path")

    for fn in (
        "enrich_triples",
        "topic_links",
        "genre_labels",
        "license_labels",
        "ror_links",
        "fundref_links",
        "country_fill",
    ):
        monkeypatch.setattr(enrich, fn, forbidden)
    job = _job_authorities(authorities)
    linked = build_triples(pages_subset, job, emit_mode="arrow")
    assert linked.where(F.col("subj").endswith("_rorid")).count() > 0

    calls = []

    def spy(triples, auth):
        calls.append(auth)
        return triples

    monkeypatch.setattr(enrich, "enrich_triples", spy)
    build_triples(pages.limit(3), job, emit_mode="columns")
    assert len(calls) == 1


def test_crlf_pages_match_lf_pages_both_paths(spark, pages_subset):
    """CRLF payloads (the Common-Crawl-reality line ending) must emit the
    SAME triples as their LF twins on BOTH emit paths: values ending in
    \\r would sit exactly where Spark's trim (0x20 only) and the
    reference's str.strip() disagree, so the parsers normalize \\r\\n
    before splitting. Without that normalization the column path leaks
    \\r into every scalar value (F.trim keeps it) and the two paths
    diverge from each other AND from the reference."""
    lf_arrow = _tset(build_triples(pages_subset, emit_mode="arrow"))
    for ending in ("\r\n", "\r"):  # CRLF and CR-only (old-Mac) conventions
        alt = pages_subset.withColumn(
            "text", F.replace(F.col("text"), F.lit("\n"), F.lit(ending))
        )
        alt_arrow = _tset(build_triples(alt, emit_mode="arrow"))
        assert alt_arrow == lf_arrow, ending + ": " + _diff_msg(alt_arrow, lf_arrow)
        alt_columns = _tset(build_triples(alt, emit_mode="columns"))
        assert alt_columns == lf_arrow, (
            ending + ": " + _diff_msg(alt_columns, lf_arrow)
        )
