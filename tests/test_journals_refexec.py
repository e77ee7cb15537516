"""Journals sub-converter vs the reference's own executed converter.

Same gate design as tests/test_reference_exec.py: the reference's
journal_convert.py runs UNMODIFIED (tools/refexec/run_journals.py, with
the offline shims forcing its OpenAlex/DOAJ degrade paths) over a
synthetic STAR journal corpus, and the engine's emit/journals.py must
reproduce its triple set EXACTLY — including the cross-record
carry-over of screening/review notes (the reference reuses one mutable
Journal instance), the keep-invalid-ISSN quirk, and the or-precedence
arm of the version logic (all documented in emit/journals.py).
"""

from __future__ import annotations

import os
import subprocess
import sys
from collections import Counter

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
JOURNAL_CONVERT = "/root/reference/other_conversions/serials_journals/journal_convert.py"

pytestmark = pytest.mark.skipif(
    not os.path.exists(JOURNAL_CONVERT), reason="reference journals converter not present"
)

# corpus generation + the expensive engine emit live in conftest.py
# (journal_corpus / journal_engine_rows) so the SPARQL gate
# (test_sparql_journals.py) shares them.


@pytest.fixture(scope="module")
def corpus(journal_corpus):
    return journal_corpus


def _unesc(c: str) -> str:
    return (
        c.replace("\\n", "\n").replace("\\t", "\t").replace("\\r", "\r")
        .replace("\\\\", "\\")
    )


@pytest.fixture(scope="module")
def ref_triples(corpus):
    d, _ = corpus
    tsv = os.path.join(d, "ref.tsv")
    subprocess.run(
        [
            sys.executable,
            os.path.join(REPO, "tools", "refexec", "run_journals.py"),
            tsv,
            os.path.join(d, "journals.xml"),
            d,
        ],
        check=True,
        capture_output=True,
    )
    out = set()
    with open(tsv, encoding="utf-8") as f:
        for line in f:
            if not line.strip():
                continue
            subj, pred, obj, kind, lang, dtype = (
                _unesc(c) for c in line.rstrip("\n").split("\t")
            )
            out.add((subj, pred, obj, kind == "iri", lang or None, dtype or None))
    return out


def test_journals_exact_match(journal_engine_rows, ref_triples):
    ours = set(journal_engine_rows)
    inter = ours & ref_triples
    p = len(inter) / max(len(ours), 1)
    r = len(inter) / max(len(ref_triples), 1)
    if ours != ref_triples:
        missing = sorted(ref_triples - ours)[:8]
        extra = sorted(ours - ref_triples)[:8]
        by_pred_m = Counter(t[1] for t in ref_triples - ours)
        by_pred_e = Counter(t[1] for t in ours - ref_triples)
        raise AssertionError(
            f"P={p:.4f} R={r:.4f}\nmissing by pred: {by_pred_m.most_common(6)}\n"
            f"extra by pred: {by_pred_e.most_common(6)}\n"
            f"missing e.g.: {missing[:4]}\nextra e.g.: {extra[:4]}"
        )
    assert len(ref_triples) > 1500  # the corpus is not degenerate


def test_journals_carryover_quirks(spark, corpus, ref_triples):
    """The two mutable-state quirks are genuinely exercised: some note
    literal contains a screening note inherited from an EARLIER X
    record (i.e. the record's own JTAT is not X), and a review note
    inherited with no JTRV of its own — checked against the reference's
    own output."""
    from tests.fixture_journals import journal_uuid

    d, recs = corpus
    notes = {
        t[0]: t[2]
        for t in ref_triples
        if t[1].endswith("rdf-schema#label") and "#note" in t[0]
    }
    hub = "https://w3id.org/zpid/resources/seriesclusters/"
    inherited_screening = inherited_review = 0
    for rec in recs:
        if rec["JTC"] in ("4884", "5033", "5092"):
            continue
        key = hub + journal_uuid(rec["JTC"]) + "#note"
        note = notes.get(key)
        if note is None:
            continue
        if "(JTAT) Erfassungsstatus" in note and not (rec["JTAT"] or "").startswith("X"):
            inherited_screening += 1
        if "Begutachtungsnotiz" in note and not rec["JTRV"]:
            inherited_review += 1
    assert inherited_screening > 0
    assert inherited_review > 0
