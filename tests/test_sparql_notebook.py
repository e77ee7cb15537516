"""The reference's sparql_queries.ipynb queries, run VERBATIM.

The notebook is the reference's ad-hoc QA surface: five SELECT queries
run with rdflib over the produced graph. Three of them declare NO
prologue — rdflib resolves their qnames from the namespaces bound while
parsing the data document. plans/sparql.py mirrors that with the
``prefixes`` seed, fed from the golden TTL's own @prefix block
(sources/turtle.TurtleDoc.prefixes).

Each query runs unmodified through sparql_select AND the independent
SPARQL→SQL compilation executed by DuckDB; solution multisets must
agree, with row counts pinned.

Schema-drift note (same class as the .tsv-vs-.ttl drift documented in
test_sparql_reference.py): the notebook queries anchor DFK identifiers
as ``?work bf:hasInstance ?instance . ?instance bf:identifiedBy ...``,
but in the checked-in TTL snapshot the pxc:DFK node hangs on the
instance BUNDLE (``instancebundles/...#dfk``), so cells 5/7/9/11 are
empty over this snapshot — on both engines. The re-anchored variants
below (``pxp:hasInstanceBundle``) prove the non-trivial paths bind:
cell 9's origins are exactly the converter's three metadataLicensor
values, and cell 7's "abstracts without an origin" stays empty even
when anchored correctly — the converter always emits the origin node.
"""

import json
import os
import re
from collections import Counter

import pytest

from psyndex2linkeddata_spark.plans.sparql import parse_sparql, sparql_select
from psyndex2linkeddata_spark.schema import triples_schema
from psyndex2linkeddata_spark.sources.turtle import TurtleDoc
from tests.sparql_sql import to_sql

NB = "/root/reference/sparql_queries.ipynb"
TTL = "/root/reference/ttl-data/bibframe_records.ttl"

pytestmark = pytest.mark.skipif(
    not (os.path.exists(NB) and os.path.exists(TTL)),
    reason="reference notebook/golden TTL not present",
)

# (cell index, pinned solution count over the checked-in TTL snapshot)
CELLS = {3: 31, 5: 0, 7: 0, 9: 0, 11: 0}


@pytest.fixture(scope="module")
def doc():
    with open(TTL, encoding="utf-8") as f:
        return TurtleDoc(f.read())


@pytest.fixture(scope="module")
def triples(spark, doc):
    df = spark.createDataFrame(
        [tuple(r) for r in doc.triples], triples_schema()
    ).cache()
    df.count()
    yield df
    df.unpersist()


@pytest.fixture(scope="module")
def duck(doc):
    import duckdb
    import pandas as pd

    con = duckdb.connect()
    con.register(
        "_rows",
        pd.DataFrame(
            doc.triples,
            columns=["subj", "pred", "obj", "obj_is_iri", "lang", "dtype"],
        ),
    )
    con.sql("create table triples as select * from _rows")
    yield con
    con.close()


def _queries():
    with open(NB, encoding="utf-8") as f:
        nb = json.load(f)
    out = {}
    for i in CELLS:
        src = "".join(nb["cells"][i]["source"])
        out[i] = re.search(r'"""(.*?)"""', src, re.S).group(1)
    return out


def test_notebook_corpus_is_complete():
    """Every query cell in the notebook is covered here."""
    with open(NB, encoding="utf-8") as f:
        nb = json.load(f)
    query_cells = {
        i
        for i, c in enumerate(nb["cells"])
        if c["cell_type"] == "code" and "g.query(" in "".join(c["source"])
    }
    assert query_cells == set(CELLS)


def test_notebook_queries_verbatim_match_duckdb(triples, duck, doc):
    for i, q in _queries().items():
        sdf = sparql_select(triples, q, prefixes=doc.prefixes)
        smul = Counter(tuple(r) for r in sdf.collect())
        ores = duck.sql(to_sql(parse_sparql(q, prefixes=doc.prefixes)))
        ocols = [d[0] for d in ores.description]
        idx = [ocols.index(c) for c in sdf.columns]
        omul = Counter(tuple(r[j] for j in idx) for r in ores.fetchall())
        assert smul == omul, f"cell {i}: Spark vs DuckDB solutions diverge"
        assert sum(smul.values()) == CELLS[i], f"cell {i}"


def test_prologue_prefixes_override_seed(triples, doc):
    """A PREFIX declaration in the query wins over the seeded binding."""
    q = """
    prefix bf: <urn:not-the-real-bf/>
    SELECT ?s WHERE { ?s bf:hasInstance ?i . }
    """
    assert sparql_select(triples, q, prefixes=doc.prefixes).count() == 0


def test_reanchored_origins_are_the_converter_vocabulary(triples, doc):
    """Cell 9 re-anchored on pxp:hasInstanceBundle (where the DFK node
    lives in this snapshot): the distinct metadataLicensor values are
    exactly the converter's abstract-origin vocabulary."""
    q = """
    SELECT DISTINCT ?abstract_origin
    WHERE {
    ?work pxp:hasInstanceBundle ?bundle .
    ?bundle bf:identifiedBy ?identifier .
    ?identifier a pxc:DFK; rdf:value ?dfk .
    ?work bf:summary ?abstract .
    ?abstract bf:adminMetadata/bflc:metadataLicensor ?abstract_origin .
    }"""
    got = {
        r["abstract_origin"]
        for r in sparql_select(triples, q, prefixes=doc.prefixes).collect()
    }
    assert got == {"Original", "DeepL", "ZPID"}


def test_reanchored_every_abstract_has_an_origin(triples, doc):
    """Cell 7 re-anchored: the converter always emits the adminMetadata
    origin node, so 'abstracts without origin' is empty even when the
    DFK anchor binds."""
    q = """
    SELECT DISTINCT ?dfk
    WHERE {
    ?work pxp:hasInstanceBundle ?bundle .
    ?bundle bf:identifiedBy ?identifier .
    ?identifier a pxc:DFK; rdf:value ?dfk .
    ?work bf:summary ?abstract .
    filter not exists {?abstract bf:adminMetadata/bflc:metadataLicensor ?o .}
    }"""
    assert sparql_select(triples, q, prefixes=doc.prefixes).count() == 0
