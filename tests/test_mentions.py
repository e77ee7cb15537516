"""The maps route's mention pass (emit/arrow.mentions_arrow): exactly the
rows the kerndaten, Crossref and tests resolution maps read, each at the
index the emitter counts, from the emitter's own parser.

The CRLF/CR case is the maps-route counterpart of
tests/test_arrow_parity.py::test_crlf_pages_match_snapshots.
"""

from __future__ import annotations

import pytest

from psyndex2linkeddata_spark.emit.arrow import mentions_arrow

PAGE = "\n".join([
    "DFK 7654321",
    "PAUP Muster, Max |n 0001234",
    "PAUP Other, Ann",
    "RPLIC Testeintrag, wieder loeschen",
    "RPLIC Smith: Repl. |d 10.1000/abc |u https://doi.org/10.1000/abc",
    "RPLIC A citation only",
    "REL 1234567 |a Doe, J. |t Head title",
    "REL |a Roe, R. |t Other work |j 2018 |u https://doi.org/10.1000/xyz",
    "REL |a Doe, J. |t A title |j 2019 |q Journal",
    "TESTG BDI |l Beck Inventory |c 9001",
    "TESTG HAM |l HAMILTON RATING SCALE (PSYNDEX Tests Info)",
])
# the same mention fields without a DFK: the record mints no URIs
NO_DFK = "\n".join(line for line in PAGE.split("\n") if not line.startswith("DFK"))

EXPECTED = sorted([
    ("p1", "paup", 0, None, None, None, "0001234"),
    # the P6-skip entry is counted: emit_replications enumerates first
    ("p1", "rplic", 0, "Testeintrag, wieder loeschen", [], 0,
     "Testeintrag, wieder loeschen"),
    # A3: the URL holds the DOI, so it is dropped
    ("p1", "rplic", 1, "Smith: Repl.", ["10.1000/abc"], 0, "Smith: Repl."),
    ("p1", "rplic", 2, "A citation only", [], 0, "A citation only"),
    # REL 0 leads with a DFK and REL 1 carries a DOI: no search
    ("p1", "rel", 2, None, None, None, "Doe, J.: A title; 2019; Journal"),
    # TESTG 0 is controlled by |c; TESTG 1 is ALL-CAPS, title-cased
    ("p1", "testg", 1, None, None, None, "Hamilton Rating Scale"),
])


def _rows(spark, texts):
    pages = spark.createDataFrame(
        [(f"p{i + 1}", t) for i, t in enumerate(texts)], "url string, text string"
    )
    return sorted(tuple(r) for r in mentions_arrow(pages).collect())


def test_mention_rows(spark):
    assert _rows(spark, [PAGE, NO_DFK]) == EXPECTED


@pytest.mark.parametrize("ending", ["\r\n", "\r"], ids=["crlf", "cr"])
def test_line_endings_give_the_same_rows(spark, ending):
    texts = [t.replace("\n", ending) for t in (PAGE, NO_DFK)]
    assert _rows(spark, texts) == EXPECTED
