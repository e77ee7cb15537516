"""Emit-stage regression gate: the mapInArrow emitter (emit/arrow.py)
must produce EXACTLY the pinned triple set of each scenario in
tests/triple_snapshots.py — the plain pages, the same pages as
extract_records output, the convert job's authority set, the maps set
(kill-list, J1-J6 links and the J13-J15 resolution maps), and CRLF /
CR-only payloads on the pages route and through extract_records. The
sets were pinned while the engine carried a second, declarative Column
emitter and both emitters agreed on every one of them; the golden
oracle (tests/test_golden.py) is the independent gate on the semantics.

A mismatch names the predicates whose triple counts moved.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from psyndex2linkeddata_spark.plans.pipeline import build_triples
from tests import triple_snapshots as ts


@pytest.fixture(scope="module")
def pinned():
    return ts.load()


@pytest.fixture(scope="module")
def pages_subset(spark, pages, fixture_dir):
    return ts.pages_subset(spark, pages, fixture_dir)


@pytest.fixture(scope="module")
def authorities(spark, fixture_dir):
    return ts.load_authorities(spark, fixture_dir)


def _check(name, df, pinned):
    got = ts.digest(ts.tset(df))
    assert got == pinned[name], ts.mismatch(name, got, pinned[name])


def test_plain_matches_snapshot(spark, pages, pinned):
    _check("plain", build_triples(pages), pinned)


def test_records_input_matches_snapshot(spark, pages, pinned):
    """records-shaped input (post-extract) through the same Arrow stage
    gives the pages route's set."""
    from psyndex2linkeddata_spark.emit.arrow import emit_triples_arrow
    from psyndex2linkeddata_spark.extract.parser import extract_records

    _check("plain", emit_triples_arrow(extract_records(pages)).dropDuplicates(), pinned)


@pytest.mark.parametrize("scenario", ["maps", "job"])
def test_authorities_match_snapshot(
    spark, pages, pages_subset, authorities, pinned, scenario
):
    """Kill-list applied in-stage on both routes: `maps` adds the
    resolution maps (records input), `job` is the convert job's authority
    set (pages input)."""
    from psyndex2linkeddata_spark.extract.parser import extract_records

    killed = extract_records(pages_subset).join(
        authorities["bad_ids"].select(F.col("dfk").alias("DFK")), "DFK"
    )
    assert killed.count() > 0
    _check(scenario, ts.scenario_triples(scenario, pages, pages_subset, authorities), pinned)


def test_arrow_linking_parses_pages_once(
    spark, pages_subset, authorities, fixture_dir, monkeypatch
):
    """Plan shape of the linking path: with the job's authority set
    neither the Column parser nor the anti-join kill-list enters the plan
    (the stage parses pages and applies the kill-list itself); a
    resolution map still needs the Column parser's mention columns."""
    from psyndex2linkeddata_spark.extract import parser
    from psyndex2linkeddata_spark.plans import pipeline

    def forbidden(*args, **kwargs):
        raise AssertionError("Column parser or anti-join on the pages route")

    monkeypatch.setattr(parser, "filter_bad_ids", forbidden)
    monkeypatch.setattr(pipeline, "extract_records", forbidden)
    job = ts.job_authorities(authorities)
    assert build_triples(pages_subset, job).count() > 0

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
        build_triples(pages_subset, {"bad_ids": job["bad_ids"], key: table})
        assert len(calls) == 1, key


def test_arrow_linking_runs_no_enrich_joins(
    spark, pages_subset, authorities, monkeypatch
):
    """build_triples links inside the emit stage: with enrich_triples and
    its six joins made to raise, the job's authority set still builds,
    runs and links."""
    from psyndex2linkeddata_spark.plans import enrich

    def forbidden(*args, **kwargs):
        raise AssertionError("plans.enrich join in build_triples")

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
    linked = build_triples(pages_subset, ts.job_authorities(authorities))
    assert linked.where(F.col("subj").endswith("_rorid")).count() > 0


@pytest.mark.parametrize("route", ["pages", "records"])
def test_crlf_pages_match_snapshots(spark, pages_subset, pinned, route):
    """CRLF payloads (the Common-Crawl-reality line ending) and CR-only
    ones must emit the SAME triples as their LF twins: values ending in
    \\r would sit exactly where Spark's trim (0x20 only) and the
    reference's str.strip() disagree, so both parsers normalize line
    endings before splitting. The pages route covers the kernel's parser
    (parse_page_text); the records route covers extract_records, which
    the maps route feeds to the resolution maps and the emit stage."""
    from psyndex2linkeddata_spark.emit.arrow import emit_triples_arrow
    from psyndex2linkeddata_spark.extract.parser import extract_records

    for ending in ("\r\n", "\r"):
        alt = pages_subset.withColumn(
            "text", F.replace(F.col("text"), F.lit("\n"), F.lit(ending))
        )
        if route == "pages":
            df = build_triples(alt)
        else:
            df = emit_triples_arrow(extract_records(alt)).dropDuplicates()
        got = ts.digest(ts.tset(df))
        assert got == pinned["subset"], repr(ending) + " " + ts.mismatch(
            "subset", got, pinned["subset"]
        )
