"""SPARQL-invariant checks (FIXTURES.md §5) as Spark SQL over the pipeline
output — 1:1 ports of the reference's .rq suite
(/root/reference/testing/AUP/all_aups_exist.rq,
testing/chapters_without_book.rq, testing/CM/*.rq) plus wiring symmetry
and set-semantics uniqueness, and an NT-export round trip."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from psyndex2linkeddata_spark.plans.pipeline import build_triples

N = 100


@pytest.fixture(scope="module")
def tri(spark, pages):
    t = build_triples(pages.limit(N))
    t.createOrReplaceTempView("triples")
    t.cache().count()
    return t


def test_contribution_count_parity(spark, records, tri):
    """all_aups_exist.rq: per record, AUP+AUK count == #contribution nodes."""
    expect = {
        r.DFK: r.n
        for r in records.limit(N)
        .select(
            "DFK",
            (
                F.size(F.coalesce(F.col("AUP"), F.array()))
                + F.size(F.coalesce(F.col("AUK"), F.array()))
            ).alias("n"),
        )
        .collect()
    }
    got = {
        r.dfk: r.n
        for r in spark.sql(
            """
        select regexp_extract(subj, 'works/([0-9]{7})_work', 1) as dfk,
               count(distinct obj) as n
        from triples
        where pred = 'http://id.loc.gov/ontologies/bibframe/contribution'
          and obj rlike '#contribution[0-9]+$'
        group by 1
        """
        ).collect()
    }
    for dfk, n in expect.items():
        if dfk in got or n > 0:
            assert got.get(dfk, 0) == n, f"DFK {dfk}: {got.get(dfk)} != {n}"


def test_chapters_have_book_relationship(spark, tri):
    """chapters_without_book.rq inverse: every Chapter-issuance bundle has
    a #bookrel relationship."""
    q = spark.sql(
        """
        with chapters as (
          select subj as bundle from triples
          where pred = 'https://w3id.org/zpid/ontology/properties/issuanceType'
            and obj = 'https://w3id.org/zpid/vocabs/issuances/Chapter'
        ),
        bookrels as (
          select subj as bundle from triples
          where pred = 'http://id.loc.gov/ontologies/bflc/relationship'
            and obj like '%#bookrel'
        )
        select count(*) as missing from chapters
        left anti join bookrels using (bundle)
        """
    ).collect()[0]
    assert q.missing == 0


def test_no_thesis_with_scholarly_genre(spark, tri):
    """clean_up_genres postcondition (publication_types.py:481-527)."""
    q = spark.sql(
        """
        with g as (select subj, obj from triples
                   where pred = 'http://id.loc.gov/ontologies/bibframe/genreForm')
        select count(*) as bad
        from g a join g b on a.subj = b.subj
        where a.obj like '%ThesisDoctoral'
          and b.obj in ('https://w3id.org/zpid/vocabs/genres/ScholarlyPaper',
                        'https://w3id.org/zpid/vocabs/genres/ScholarlyWork')
        """
    ).collect()[0]
    assert q.bad == 0


def test_instance_wiring_symmetry(spark, tri):
    """instanceOf ↔ hasInstance for every main instance."""
    q = spark.sql(
        """
        with io as (select subj as inst, obj as work from triples
                    where pred = 'http://id.loc.gov/ontologies/bibframe/instanceOf'),
        hi as (select obj as inst, subj as work from triples
               where pred = 'http://id.loc.gov/ontologies/bibframe/hasInstance')
        select count(*) as missing from io left anti join hi using (inst, work)
        """
    ).collect()[0]
    assert q.missing == 0


def test_set_semantics_unique_preds(spark, tri):
    """(subj,pred) uniqueness where the reference uses graph.set:
    pxp:issuanceType per bundle, bf:language per work."""
    for pred in (
        "https://w3id.org/zpid/ontology/properties/issuanceType",
        "http://id.loc.gov/ontologies/bibframe/language",
    ):
        dup = (
            tri.where(F.col("pred") == pred)
            .groupBy("subj")
            .count()
            .where(F.col("count") > 1)
            .count()
        )
        assert dup == 0, pred


def test_nt_export_roundtrip(spark, tri, tmp_path):
    import re

    from psyndex2linkeddata_spark.sources.export import nt_lines, write_nt

    lines = [r.value for r in nt_lines(tri.limit(500)).collect()]
    assert len(lines) == 500
    pat = re.compile(r'^<[^>]+> <[^>]+> (<[^>]+>|"(\\.|[^"\\])*"(@[a-zA-Z-]+|\^\^<[^>]+>)?) \.$')
    for ln in lines:
        assert pat.match(ln), ln
    out = str(tmp_path / "nt")
    write_nt(tri.limit(100), out, single_file=True)
    assert spark.read.text(out).count() == 100


def test_turtle_roundtrip(spark, tri, tmp_path):
    """S7: parse(serialize(triples)) == triple set — every part file is a
    self-contained prefix-compressed Turtle document readable by
    sources/turtle.parse_turtle (the same parser that reads the
    reference's goldens)."""
    from psyndex2linkeddata_spark.sources.export import write_turtle
    from psyndex2linkeddata_spark.sources.turtle import parse_turtle
    import os

    subset = tri.limit(800).repartition(3)
    want = {
        (r.subj, r.pred, r.obj, r.obj_is_iri, r.lang, r.dtype)
        for r in subset.collect()
    }
    out = str(tmp_path / "ttl")
    write_turtle(subset, out)
    got = set()
    for fn in os.listdir(out):
        if fn.startswith("part-"):
            with open(os.path.join(out, fn), encoding="utf-8") as f:
                got.update(tuple(t) for t in parse_turtle(f.read()))
    assert got == want, (
        f"missing={len(want - got)} extra={len(got - want)}; "
        f"examples missing={sorted(want - got)[:3]} extra={sorted(got - want)[:3]}"
    )
