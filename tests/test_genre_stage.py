"""The pipeline's dedup + A2 genre stage
(operators/upsert.dedup_clean_genres).

On every route, with or without authorities, build_triples dedups and
applies both A2 rules in one subject-partitioned stage. This file pins
that stage exactly against the two clean_genres passes it replaces
(thesis rule, then thesis + ancestor rule over genre_ancestor_closure)
on hand-built triples, checks the cross-record case end to end, and
guards the plan: no clean_genres call, no persist, and a bounded number
of Spark jobs.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from psyndex2linkeddata_spark import namespaces as NS
from psyndex2linkeddata_spark.datagen.pages import make_record, pages_rows_from_records
from psyndex2linkeddata_spark.operators import upsert
from psyndex2linkeddata_spark.plans.enrich import genre_ancestor_closure
from psyndex2linkeddata_spark.plans.pipeline import build_triples
from psyndex2linkeddata_spark.schema import pages_schema, triples_schema
from tests import triple_snapshots as ts
from tests.conftest import spark_jobs

GF = NS.BF + "genreForm"
CONCEPT_SCHEMA = "vocab string, uri string, ancestors array<string>"


def G(name):
    return NS.GENRES + name


def _edges(subj, *names):
    return [(subj, GF, G(n), True, None, None) for n in names]


# (triples, genres vocab rows or None, genre edges that must survive)
CASES = {
    # C is dropped by A and B, B by A; A is nobody's descendant here
    "three_level_chain": (
        _edges("w1", "A", "B", "C") + _edges("w2", "B", "C") + _edges("w3", "C"),
        [("genres", G("A"), [G("B"), G("C")]), ("genres", G("B"), [G("C")])],
        {("w1", "A"), ("w2", "B"), ("w3", "C")},
    ),
    # Lonely is no genre's ancestor, and its own ancestor is absent
    "nobody_s_ancestor": (
        _edges("w1", "Lonely", "B") + _edges("w2", "Lonely"),
        [("genres", G("Lonely"), [G("Elsewhere")]), ("genres", G("C"), [G("B")])],
        {("w1", "Lonely"), ("w1", "B"), ("w2", "Lonely")},
    ),
    # a NULL uri row and a NULL ancestor element never match; a NULL
    # ancestors array and another vocab's row add nothing
    "nulls": (
        _edges("w1", "A", "B", "C") + _edges("w2", "D", "C"),
        [
            ("genres", None, [G("A")]),
            ("genres", G("A"), [None, G("B")]),
            ("genres", G("D"), None),
            ("terms", G("D"), [G("C")]),
        ],
        {("w1", "A"), ("w1", "C"), ("w2", "D"), ("w2", "C")},
    ),
    # two rows with one uri: their ancestors are unioned
    "same_uri_twice": (
        _edges("w1", "A", "B", "C"),
        [("genres", G("A"), [G("B")]), ("genres", G("A"), [G("C")])],
        {("w1", "A")},
    ),
    # rule 1 drops ScholarlyPaper before rule 2 looks: Foo, an ancestor
    # of ScholarlyPaper only, survives; a duplicate row is deduplicated
    "rule_order": (
        _edges("w1", "ThesisDoctoral", "ScholarlyPaper", "Foo", "Foo")
        + _edges("w2", "ScholarlyPaper", "Foo"),
        [("genres", G("ScholarlyPaper"), [G("Foo")])],
        {("w1", "ThesisDoctoral"), ("w1", "Foo"), ("w2", "ScholarlyPaper")},
    ),
    # rule 1 only (no auth_concepts): ancestors are not consulted
    "thesis_rule_only": (
        _edges("w1", "ThesisHabilitation", "ScholarlyWork", "ScholarlyPaper", "A")
        + _edges("w2", "ScholarlyWork", "B"),
        None,
        {("w1", "ThesisHabilitation"), ("w1", "A"), ("w2", "ScholarlyWork"), ("w2", "B")},
    ),
}


@pytest.mark.parametrize("case", sorted(CASES))
def test_dedup_clean_genres_matches_clean_genres_passes(spark, case):
    rows, vocab, kept = CASES[case]
    # every non-genre triple stays, whatever its object
    rows = rows + [
        ("w1", NS.RDF_TYPE, G("ScholarlyPaper"), True, None, None),
        (G("B"), NS.RDFS_LABEL, "B", False, "en", None),
    ]
    triples = spark.createDataFrame(rows, schema=triples_schema())
    closure, ancestors = None, None
    if vocab is not None:
        concepts = spark.createDataFrame(vocab, CONCEPT_SCHEMA)
        closure = genre_ancestor_closure(concepts)
        ancestors = upsert.genre_ancestor_map(concepts.collect())
    want = upsert.clean_genres(upsert.clean_genres(triples.dropDuplicates()), closure)
    got = upsert.dedup_clean_genres(triples, ancestors).collect()
    assert len(got) == len(set(got))
    assert set(got) == set(want.collect())
    edges = {(r.subj, r.obj[len(NS.GENRES):]) for r in got if r.pred == GF}
    assert edges == kept
    assert len(got) == len(kept) + 2


def _same_dfk_pages(spark):
    """Two pages with one DFK: a thesis and a non-thesis record whose CM
    code maps to the ScholarlyWork genre."""
    thesis, scholarly = make_record(1), make_record(10)
    assert thesis["DT"] == "61" and "|c 10400" in scholarly["CM"][0]
    scholarly["DFK"] = thesis["DFK"]
    rows = pages_rows_from_records([thesis, scholarly])
    rows[1]["url"] += "?copy"
    return spark.createDataFrame(rows, schema=pages_schema())


def test_cross_record_thesis_rule(spark):
    """A2 rule 1 runs across records on every route: the thesis page's
    genre removes the other page's ScholarlyWork edge from the shared
    work, with no authorities as with authorities={}, and both builds
    give one set."""
    pages = _same_dfk_pages(spark)

    def work_genres(df):
        return {
            r.obj[len(NS.GENRES):]
            for r in df.where((F.col("pred") == GF) & F.col("subj").endswith("_work"))
            .collect()
        }

    plain, linked = build_triples(pages), build_triples(pages, {})
    assert set(plain.collect()) == set(linked.collect())
    genres = work_genres(plain)
    assert "ThesisDoctoral" in genres and "ScholarlyWork" not in genres
    assert genres == work_genres(linked)


@pytest.fixture(scope="module")
def pages_subset(spark, pages, fixture_dir):
    return ts.pages_subset(spark, pages, fixture_dir)


def test_linked_build_runs_few_jobs_and_no_barrier(
    spark, pages_subset, fixture_dir, monkeypatch
):
    """The convert job's authority set, and no authorities: each build
    runs without clean_genres and without persisting anything, in at
    most 8 Spark jobs — the authority collects, the exchange on subj and
    the write. Behind the persist barrier with two clean_genres passes,
    the linked build on the 300 fixture pages took 28-43 jobs."""

    def forbidden(*args, **kwargs):
        raise AssertionError("clean_genres or persist in build_triples")

    monkeypatch.setattr(upsert, "clean_genres", forbidden)
    monkeypatch.setattr(type(pages_subset), "persist", forbidden)
    monkeypatch.setattr(type(pages_subset), "cache", forbidden)
    job = ts.job_authorities(ts.load_authorities(spark, fixture_dir))
    for route, authorities in (("linked", job), ("plain", None)):
        jobs = spark_jobs(
            spark,
            f"{route}_build_triples",
            lambda: build_triples(pages_subset, authorities).write.format(
                "noop"
            ).mode("overwrite").save(),
        )
        assert 0 < jobs <= 8, (route, jobs)
