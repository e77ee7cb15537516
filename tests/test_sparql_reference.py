"""The reference's own SPARQL validation queries, run VERBATIM.

The reference validates its KG with `arq --data ttl-data/
bibframe_records.ttl --query testing/**/*.rq --results=TSV` (see the
trailer comment in each .rq). This suite runs every one of those .rq
files UNMODIFIED through the plans.sparql front-end over the reference's
own checked-in golden TTL and gates the results three ways:

1. **Cross-engine execution oracle**: the same parsed query is compiled
   a second time, to portable SQL (tests/sparql_sql.to_sql), and DuckDB
   executes it over the identical triple rows. The two engines' solution
   MULTISETS must agree exactly — this gates the whole Spark compilation
   (self-joins, OPTIONAL left joins, NOT-EXISTS anti joins, sequence-path
   desugaring, FILTER translation) against an independent executor.

2. **Golden TSV overlap**: the checked-in .tsv files were generated from
   a DIFFERENT snapshot of bibframe_records.ttl than the one checked in
   (the checked-in TTL, generated 2024-04-08 per its adminMetadata, has
   ZERO bf:genreForm triples while genreForm/*.tsv rows reference them,
   and the works in several TSVs don't exist in the TTL). Verbatim TSV
   equality is therefore impossible for any engine — arq itself would
   disagree with the goldens today. Where the snapshots overlap we gate
   on that overlap: with_corporate_contributor's solutions over the
   checked-in TTL are EXACTLY the golden rows whose works exist in the
   TTL, byte-for-byte in arq TSV rendering (solutions_tsv).

3. **Naive replay**: chapters_without_book is re-evaluated by an
   independent row-at-a-time pure-Python walk over the parsed triples;
   the engine must produce the same DFK multiset.

CONSTRUCT (get_full_work.rq) runs verbatim — its hard-coded work
0388777 is absent from this snapshot, so the verbatim result is the
empty graph — and again repaired to a work that exists, where the
constructed graph must equal the naive "all triples with that subject"
set (the query's stated intent: "gets all the triples associated with a
specific work").
"""

from __future__ import annotations

import glob
import os
from collections import Counter, defaultdict

import pytest

from psyndex2linkeddata_spark.plans.sparql import (
    parse_sparql,
    solutions_tsv,
    sparql_construct,
    sparql_select,
)
from psyndex2linkeddata_spark.schema import triples_schema
from psyndex2linkeddata_spark.sources.turtle import parse_turtle
from tests.sparql_sql import to_sql

TESTING = "/root/reference/testing"
TTL = "/root/reference/ttl-data/bibframe_records.ttl"

pytestmark = pytest.mark.skipif(
    not os.path.exists(TTL), reason="reference golden TTL not present"
)


@pytest.fixture(scope="module")
def ttl_rows():
    with open(TTL, encoding="utf-8") as f:
        return parse_turtle(f.read())


@pytest.fixture(scope="module")
def triples(spark, ttl_rows):
    df = spark.createDataFrame([tuple(r) for r in ttl_rows], triples_schema())
    df = df.cache()
    df.count()
    yield df
    df.unpersist()


@pytest.fixture(scope="module")
def duck(ttl_rows):
    import duckdb
    import pandas as pd

    con = duckdb.connect()
    pdf = pd.DataFrame(
        ttl_rows, columns=["subj", "pred", "obj", "obj_is_iri", "lang", "dtype"]
    )
    con.register("_rows", pdf)
    con.sql("create table triples as select * from _rows")
    yield con
    con.close()


def _rq_files():
    return sorted(glob.glob(f"{TESTING}/**/*.rq", recursive=True))


def test_reference_rq_corpus_is_complete():
    """The gate below must cover every query the reference ships."""
    names = {os.path.relpath(p, TESTING) for p in _rq_files()}
    assert names == {
        "AUP/all_aups_exist.rq",
        "CM/works_with_conflicting_methods.rq",
        "CM/works_with_several_methods.rq",
        "chapters_without_book.rq",
        "genreForm/nonresearch_journalarticles.rq",
        "genreForm/works_with_several_genres.rq",
        "genreForm/works_without_genres.rq",
        "get_full_work.rq",
        "with_corporate_contributor.rq",
    }


def test_every_select_rq_matches_duckdb_verbatim(triples, duck, ttl_rows):
    """All 8 SELECT .rq files, unmodified: Spark solution multiset ==
    independent DuckDB execution of the portable-SQL compilation.
    Expected row counts pinned so silent no-op parses can't pass."""
    expected_rows = {
        "AUP/all_aups_exist.rq": 1,  # one aggregate row
        "CM/works_with_conflicting_methods.rq": 0,
        "CM/works_with_several_methods.rq": 72,
        "chapters_without_book.rq": 40,
        "genreForm/nonresearch_journalarticles.rq": 0,  # no genreForm in TTL
        "genreForm/works_with_several_genres.rq": 0,
        "genreForm/works_without_genres.rq": 200,
        "with_corporate_contributor.rq": 3,
    }
    for rq in _rq_files():
        name = os.path.relpath(rq, TESTING)
        with open(rq, encoding="utf-8") as f:
            text = f.read()
        if parse_sparql(text).form != "SELECT":
            continue
        sdf = sparql_select(triples, text)
        smul = Counter(tuple(r) for r in sdf.collect())
        ores = duck.sql(to_sql(text))
        ocols = [d[0] for d in ores.description]
        idx = [ocols.index(c) for c in sdf.columns]
        omul = Counter(tuple(r[i] for i in idx) for r in ores.fetchall())
        assert smul == omul, f"{name}: Spark vs DuckDB solutions diverge"
        assert sum(smul.values()) == expected_rows[name], name

    # the aggregate query returns an actual count, not just "a row"
    with open(f"{TESTING}/AUP/all_aups_exist.rq", encoding="utf-8") as f:
        agg = sparql_select(triples, f.read()).collect()
    assert agg[0]["count"] > 0


def test_corporate_contributor_overlaps_golden_tsv(triples):
    """The checked-in TSV golden is from a different data snapshot (see
    module docstring), but the works that DO exist in the checked-in TTL
    must render to exactly the golden's rows — byte-for-byte in arq TSV
    format, including empty cells for OPTIONAL-unbound ?country/?rorid
    and the quoted-literal form for bound ones."""
    with open(f"{TESTING}/with_corporate_contributor.rq", encoding="utf-8") as f:
        lines = solutions_tsv(triples, f.read())
    with open(f"{TESTING}/with_corporate_contributor.tsv", encoding="utf-8") as f:
        golden = f.read().splitlines()
    assert lines[0] == golden[0]  # ?work ?agent ?country ?rorid header
    assert len(lines) == 4  # 3 solutions in this snapshot
    assert set(lines[1:]) <= set(golden[1:])
    # both OPTIONAL shapes exercised: one row with a rorid, one with a country
    assert any('"https://ror.org/' in l for l in lines[1:])
    assert any('"Germany"' in l for l in lines[1:])


def test_chapters_without_book_matches_naive_replay(triples, ttl_rows):
    """FILTER NOT EXISTS + sequence paths vs an independent pure-Python
    row-at-a-time evaluation of the same question."""
    BF = "http://id.loc.gov/ontologies/bibframe/"
    BFLC = "http://id.loc.gov/ontologies/bflc/"
    PXC = "https://w3id.org/zpid/ontology/classes/"
    PXP = "https://w3id.org/zpid/ontology/properties/"
    RDF = "http://www.w3.org/1999/02/22-rdf-syntax-ns#"
    ISS = "https://w3id.org/zpid/vocabs/issuances/"

    spo = defaultdict(list)
    types = defaultdict(set)
    for s, p, o, *_ in ttl_rows:
        spo[(s, p)].append(o)
        if p == RDF + "type":
            types[s].add(o)

    naive = Counter()
    for w in [s for s in types if PXC + "MainWork" in types[s]]:
        bundles = spo[(w, PXP + "hasInstanceBundle")]
        if not any(
            ISS + "Chapter" in spo[(ib, PXP + "issuanceType")] for ib in bundles
        ):
            continue
        if any(spo[(ib, BFLC + "relationship")] for ib in bundles):
            continue
        # multiplicity: chapter-issuance bundles x DFK identifiers
        n_chap = sum(
            1 for ib in bundles if ISS + "Chapter" in spo[(ib, PXP + "issuanceType")]
        )
        for ib in bundles:
            for dfk_uri in spo[(ib, BF + "identifiedBy")]:
                if PXC + "DFK" in types[dfk_uri]:
                    for dfk in spo[(dfk_uri, RDF + "value")]:
                        naive[(w, dfk)] += n_chap

    with open(f"{TESTING}/chapters_without_book.rq", encoding="utf-8") as f:
        got = Counter(
            (r["work"], r["dfk"])
            for r in sparql_select(triples, f.read()).collect()
        )
    assert got == naive
    assert sum(naive.values()) == 40
    # and the checked-in golden (0 rows) demonstrably predates this TTL:
    # arq over the checked-in data could not have produced it either.


def test_construct_get_full_work(triples, ttl_rows):
    """get_full_work.rq verbatim (its work id predates this snapshot →
    empty graph), then repaired to an existing work: the constructed
    graph equals the naive all-triples-of-subject set, in the triples
    schema with literal metadata preserved."""
    with open(f"{TESTING}/get_full_work.rq", encoding="utf-8") as f:
        text = f.read()
    verbatim = sparql_construct(triples, text)
    assert verbatim.columns == list(triples.columns)
    assert verbatim.count() == 0

    work = "https://w3id.org/zpid/resources/works/0390043_work"
    repaired = text.replace("0388777", "0390043")
    got = {
        (r.subj, r.pred, r.obj, r.obj_is_iri, r.lang)
        for r in sparql_construct(triples, repaired).collect()
    }
    naive = {
        (s, p, o, iri, lg)
        for s, p, o, iri, lg, _ in ttl_rows
        if s == work
    }
    assert got == naive and len(naive) == 21


def test_dialect_units(spark):
    """Small pinned cases for each dialect feature the reference queries
    lean on, over a hand-built graph."""
    rows = [
        # (s, p, o, is_iri, lang, dtype)
        ("w1", "rdf:t", "http://c/Work", True, None, None),
        ("w2", "rdf:t", "http://c/Work", True, None, None),
        ("w1", "http://p/b", "i1", True, None, None),
        ("i1", "http://p/id", "d1", True, None, None),
        ("d1", "rdf:value", "0001", False, None, None),
        ("w2", "http://p/b", "i2", True, None, None),
        ("i2", "http://p/id", "d2", True, None, None),
        ("d2", "rdf:value", "0002", False, None, None),
        ("w1", "http://p/rel", "book1", True, None, None),
        ("w1", "http://p/label", "Hallo", False, "de", None),
    ]
    full = "http://www.w3.org/1999/02/22-rdf-syntax-ns#"
    rows = [
        (s, p.replace("rdf:t", full + "type").replace("rdf:value", full + "value"),
         o, i, lg, dt)
        for s, p, o, i, lg, dt in rows
    ]
    t = spark.createDataFrame(rows, triples_schema())

    q = """
    PREFIX c: <http://c/>
    PREFIX p: <http://p/>
    PREFIX rdf: <http://www.w3.org/1999/02/22-rdf-syntax-ns#>
    SELECT ?w ?dfk WHERE {
      ?w a c:Work .                      # qname + 'a' + comment
      ?w p:b/p:id ?d .                   # sequence path
      ?d rdf:value ?dfk .
      FILTER NOT EXISTS { ?w p:rel ?x . }
      FILTER (?dfk != "9999")
    }
    """
    got = [(r.w, r.dfk) for r in sparql_select(t, q).collect()]
    assert got == [("w2", "0002")]

    # ';' and ',' lists + bare FILTER regex(str(?x), ...)
    q2 = """
    PREFIX c: <http://c/>
    PREFIX p: <http://p/>
    SELECT ?w WHERE {
      ?w a c:Work ; p:b ?i .
      FILTER regex(str(?i), "i[12]")
    }
    """
    assert sorted(r.w for r in sparql_select(t, q2).collect()) == ["w1", "w2"]

    # COUNT aggregate
    q3 = "PREFIX c: <http://c/> SELECT (COUNT(?w) AS ?n) WHERE { ?w a c:Work . }"
    assert sparql_select(t, q3).collect()[0]["n"] == 2

    # lang-tagged literal round-trips through solutions_tsv
    q4 = "PREFIX p: <http://p/> SELECT ?l WHERE { ?w p:label ?l . }"
    lines = solutions_tsv(t, q4)
    assert lines == ["?l", '"Hallo"@de']

    # EXISTS (semi) keeps only works with a rel
    q5 = """
    PREFIX c: <http://c/>
    PREFIX p: <http://p/>
    SELECT ?w WHERE { ?w a c:Work . FILTER EXISTS { ?w p:rel ?x . } }
    """
    assert [r.w for r in sparql_select(t, q5).collect()] == ["w1"]

    # ORDER BY / LIMIT modifiers
    q6 = """
    PREFIX c: <http://c/>
    SELECT ?w WHERE { ?w a c:Work . } ORDER BY DESC(?w) LIMIT 1
    """
    assert [r.w for r in sparql_select(t, q6).collect()] == ["w2"]
