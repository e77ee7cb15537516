"""In-stage linking: emit/arrow.link_record against the plans/enrich.py joins.

The emit stage links each record's triples itself, with dict lookups
folded on the driver (authority_links). plans/enrich.py states the same
rules as joins after the emit (topic_links, genre_labels,
license_labels, ror_links, fundref_links, country_fill). Both must add
exactly the same triples; this file pins that on hand-built triples
whose keys hit the authority windows' tie-breaks and the Spark string
semantics (F.trim strips only U+0020, Java's \\s does not match NBSP).
"""

from __future__ import annotations

from psyndex2linkeddata_spark import namespaces as NS
from psyndex2linkeddata_spark.emit.arrow import Sink, authority_links, link_record
from psyndex2linkeddata_spark.plans import enrich
from psyndex2linkeddata_spark.schema import triples_schema

ORG_SCHEMA = (
    "org_id string, name string, aliases array<string>, "
    "country_name string, fundref_doi string"
)
CONCEPT_SCHEMA = (
    "vocab string, uri string, label_en string, label_de string, "
    "ancestors array<string>"
)

ORGS = [
    # a name and an alias with the same key: the name wins although its
    # org_id is higher
    ("https://ror.org/09", "Foo University", [], "Germany", None),
    ("https://ror.org/01", "Foo Alias Holder", ["FOO university."], "France", None),
    # two orgs with the same key: the lower org_id wins
    ("https://ror.org/05", "Bar  Institute", [], "Austria", "10.13039/500"),
    ("https://ror.org/04", "bar institute", [], "Switzerland", "10.13039/400"),
    # a NULL org_id sorts first: type + identifiedBy, no rdf:value
    ("https://ror.org/07", "Null Id Lab", [], "Italy", None),
    (None, "NULL ID LAB", [], "Spain", None),
    # the preferred org for the full funder key has no fundref: pre-comma
    # retry
    ("https://ror.org/02", "Stiftung Warentest Berlin", [], "Germany", None),
    ("https://ror.org/03", "Stiftung Warentest", [], "Germany", "10.13039/100"),
    # NULL country: a ROR id, no country fill
    ("https://ror.org/06", "Nowhere Center", [], None, None),
    ("https://ror.org/08", "Russian Society", [], "Rußland", None),
    ("https://ror.org/10", "Upper Country Org", [], "GERMANY", None),
    # the name holds an NBSP, which norm_key keeps
    ("https://ror.org/11", "Nbsp\u00a0Org", ["(Punct) Org; Ltd."], " Spain", None),
    (None, None, None, "Nowhere", None),
]

CONCEPTS = [
    # terms beats addterms for the same label, then the lowest uri
    ("addterms", "https://vocab/addterms/a", "Anxiety", "Angst", []),
    ("terms", "https://vocab/terms/z", "Anxiety", "Angst", []),
    ("terms", "https://vocab/terms/y", "Anxiety", "Angst", []),
    ("addterms", "https://vocab/addterms/b", "Fear", "Furcht", []),
    ("terms", None, "Null Uri", None, []),
    ("terms", "https://vocab/terms/n", None, "Nur Deutsch", []),
    # genres and licenses join every row, NULL labels dropped
    ("genres", NS.GENRES + "ScholarlyPaper", "Scholarly Paper", "Artikel", []),
    ("genres", NS.GENRES + "ScholarlyPaper", "Paper", None, []),
    ("genres", NS.GENRES + "ThesisDoctoral", "Doctoral Thesis", "Dissertation", []),
    ("licenses", "https://creativecommons.org/licenses/by/4.0/", "CC BY 4.0",
     "CC BY 4.0 de", []),
]

W = "https://w3id.org/zpid/resources/works/0000001_work"


def _org(n):
    return f"{W}#contribution{n}_personagent_affiliation1_organization"


def _record():
    """(subj, pred, obj, iri, lang) rows of one record."""
    rows = []
    org_labels = [
        "Foo University",
        "Bar Institute",
        "null id lab",
        "Nowhere Center",
        "Russian Society",
        "Upper Country Org",
        "Foo\tUniversity",  # Java \s folds a tab
        "bar   institute",  # and a run of spaces
        "nbsp\u00a0ORG",  # matches the NBSP name
        "Nbsp Org",  # does not: Java's \s has no NBSP
        "\tFoo University",  # F.trim keeps the tab; \s+ and F.trim drop it
        "punct org ltd",
        "Unknown Org",
    ]
    for n, label in enumerate(org_labels, 1):
        rows.append((_org(n), NS.RDFS_LABEL, label, False, None))
    # an affiliation that already has an address gets no fill
    aff2 = _org(2)[: -len("_organization")]
    rows.append((aff2, NS.MADS + "hasAffiliationAddress", aff2 + "_address", True, None))
    funders = ["Stiftung Warentest, Berlin", "DFG", "Bar Institute", "Nobody, Else"]
    for n, label in enumerate(funders, 1):
        rows.append((f"{W}#fundingreference{n}_funder", NS.RDFS_LABEL, label, False, None))
    for n, label in enumerate(["Anxiety", "Fear", "Null Uri", "Other"], 1):
        rows.append((f"{W}#topic{n}", NS.SKOS + "prefLabel", label, False, "en"))
    rows.append((f"{W}#topic1", NS.SKOS + "prefLabel", "Fear", False, "de"))
    rows.append((f"{W}#subject1", NS.SKOS + "prefLabel", "Anxiety", False, "en"))
    for g in ("ScholarlyPaper", "ThesisDoctoral", "Unknown"):
        rows.append((W, NS.BF + "genreForm", NS.GENRES + g, True, None))
    rows.append(
        (
            "https://w3id.org/zpid/resources/instancebundles/0000001",
            NS.BF + "usageAndAccessPolicy",
            "https://creativecommons.org/licenses/by/4.0/",
            True,
            None,
        )
    )
    return rows


def _kernel_adds(rows, orgs, concepts):
    """link_record's additions for `rows`, behind a row of an earlier
    record in the same Sink that it must not link again."""
    g = Sink()
    g.add(f"{W}#topic9", NS.SKOS + "prefLabel", "Fear", lang="en")
    start = len(g)
    for s, p, o, iri, lang in rows:
        g.add(s, p, o, iri=iri, lang=lang)
    n = len(g)
    # the pipeline folds collected Rows, as here
    link_record(g, start, authority_links(orgs.collect(), concepts.collect()))
    return set(list(g.rows_iter())[n:])


def _join_adds(spark, rows, orgs, concepts):
    triples = spark.createDataFrame(
        [(s, p, o, iri, lang, None) for s, p, o, iri, lang in rows],
        triples_schema(),
    )
    adds = [
        enrich.topic_links(triples, concepts),
        enrich.genre_labels(triples, concepts),
        enrich.license_labels(triples, concepts),
        enrich.ror_links(triples, orgs),
        enrich.fundref_links(triples, orgs),
        enrich.country_fill(triples, orgs),
    ]
    out = adds[0]
    for a in adds[1:]:
        out = out.unionByName(a)
    return {tuple(r) for r in out.collect()}


def test_link_record_equals_enrich_joins(spark):
    rows = _record()
    orgs = spark.createDataFrame(ORGS, ORG_SCHEMA)
    concepts = spark.createDataFrame(CONCEPTS, CONCEPT_SCHEMA)
    got = _kernel_adds(rows, orgs, concepts)
    want = _join_adds(spark, rows, orgs, concepts)
    assert got == want, (sorted(got - want)[:5], sorted(want - got)[:5])
    # the cases above are live, not vacuous
    subjects = {s for s, *_ in got}
    assert _org(1) + "_rorid" in subjects and _org(7) + "_rorid" in subjects
    assert _org(9) + "_rorid" in subjects and _org(10) + "_rorid" not in subjects
    assert f"{W}#fundingreference1_funder_funderid" in subjects
    assert f"{W}#topic9" not in subjects
    value = NS.RDF + "value"
    assert (_org(1) + "_rorid", value, "https://ror.org/09", False, None, None) in got
    assert (_org(2) + "_rorid", value, "https://ror.org/04", False, None, None) in got
    assert not any(s == _org(3) + "_rorid" and p == value for s, p, *_ in got)
    assert (f"{W}#topic1", NS.OWL + "sameAs", "https://vocab/terms/y", True, None,
            None) in got
    for n in (2, 4):  # an address already there; a NULL country
        aff = _org(n)[: -len("_organization")]
        assert not any(s.startswith(aff + "_address") for s in subjects)


def test_norm_key_matches_spark(spark):
    from pyspark.sql import functions as F

    from psyndex2linkeddata_spark.emit.arrow import norm_key
    from psyndex2linkeddata_spark.operators.linking import norm_key as spark_key

    keys = [
        "Foo University",
        "\tFoo  University ",
        " Foo\u00a0University.;(x)",
        "Foo University\x0b ",
        "\u00c4RZTE Verband, M\u00fcnchen",
        "Stra\u00dfe (e.V.)",
        "\u0130stanbul \u00dcniversitesi",
        "\u039f\u0394\u039f\u03a3 Institute",
    ]
    df = spark.createDataFrame([(k,) for k in keys], "s string")
    got = [r[0] for r in df.select(spark_key(F.col("s"))).collect()]
    assert [norm_key(k) for k in keys] == got
