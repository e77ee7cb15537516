"""Reference-exec oracle gate (round-3 verdict task #2).

Runs the reference's OWN converter (/root/reference/convert_starxml_to_bf.py)
offline over its full XML corpus (xml-data/records-440.xml, 342 records)
via tools/refexec — network/caching stubbed, every API lookup degrading to
no-result — and requires the engine's triple set, produced in the same
degraded mode (annif=False, no authorities, bad_dfks.tsv kill-list), to
match it EXACTLY.

This is the gate that closes the self-oracle loophole: tests/golden_oracle.py
mirrors my reading of the reference, but this compares against what the
reference's own code actually emits (it caught the |f contribution-role
bug, the PHIST month-name date formats, and the trailing-comma name split).

Exclusions (documented in tools/compare_reference.py): blank-node rows
(the reference's admin node carries a wall-clock generationDate) and the
corpus-level admin subject.

The reference dump is cached at /tmp/ref_triples.tsv (~2 min to produce
cold). `python tools/compare_reference.py` runs the same comparison from
the command line and prints the per-predicate differences.
"""

from __future__ import annotations

import os
import sys
from collections import Counter

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.join(REPO, "tools"))

XML = "/root/reference/xml-data/records-440.xml"
BAD = "/root/reference/xml-data/bad_dfks.tsv"

pytestmark = pytest.mark.skipif(
    not os.path.exists(XML), reason="reference corpus not available"
)


@pytest.fixture(scope="module")
def ref_triples():
    from compare_reference import DEFAULT_TSV, reference_triples

    return reference_triples(DEFAULT_TSV)


def _diff_report(ours: set, ref: set, limit: int = 8) -> str:
    lines = []
    for title, diff in (("MISSING (ref-only)", ref - ours), ("EXTRA (engine-only)", ours - ref)):
        by_pred = Counter(t[1] for t in diff)
        lines.append(f"{title}: {len(diff)}")
        for pred, n in by_pred.most_common(limit):
            ex = next(t for t in sorted(diff) if t[1] == pred)
            lines.append(f"  {n:5d}  {pred}  e.g. {ex[0]} -> {ex[2][:80]!r}")
    return "\n".join(lines)


def test_reference_exec_exact_arrow(spark, ref_triples):
    from compare_reference import ADMIN_SUBJ

    from psyndex2linkeddata_spark.plans.pipeline import build_triples
    from psyndex2linkeddata_spark.sources.starxml import star_xml_pages

    pages = star_xml_pages(spark, XML)
    bad = spark.read.option("header", True).option("sep", "\t").csv(BAD).select("dfk")
    triples = build_triples(pages, {"bad_ids": bad}, annif=False)
    ours = {
        (r.subj, r.pred, r.obj, r.obj_is_iri, r.lang, r.dtype)
        for r in triples.collect()
        if r.subj != ADMIN_SUBJ
    }
    inter = ours & ref_triples
    p = len(inter) / max(len(ours), 1)
    r = len(inter) / max(len(ref_triples), 1)
    assert ours == ref_triples, (
        f"P={p:.4f} R={r:.4f} vs reference-exec output\n"
        + _diff_report(ours, ref_triples)
    )
