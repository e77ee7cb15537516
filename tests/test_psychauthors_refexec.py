"""Psychauthors sub-converter vs the reference's own executed converter.

Same gate design as tests/test_reference_exec.py and
tests/test_journals_refexec.py: the reference's
convert_psychauthors_rdf.py runs UNMODIFIED
(tools/refexec/run_psychauthors.py, with the offline shims forcing the
ROR-API degrade path and the shared deterministic dateparser.search
stand-in) over a synthetic kerndaten CSV, and the engine's
emit/psychauthors.py must reproduce its triple set EXACTLY — including
the gender loop-variable carry-over across records, the LAST-match-wins
degree/college synonym scans, the by-list-position academic-title
indexing, and the placeholder birthdate/email skips (all documented in
emit/psychauthors.py).
"""

from __future__ import annotations

import os
import subprocess
import sys
from collections import Counter

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
CONVERTER = (
    "/root/reference/other_conversions/psychauthors/convert_psychauthors_rdf.py"
)

pytestmark = pytest.mark.skipif(
    not os.path.exists(CONVERTER), reason="reference psychauthors converter absent"
)

N_PERSONS = 36


@pytest.fixture(scope="module")
def corpus(tmp_path_factory):
    from tests.fixture_psychauthors import (
        psychauthor_records,
        write_kerndaten_csv,
    )

    d = str(tmp_path_factory.mktemp("psychauthors"))
    recs = psychauthor_records(N_PERSONS)
    write_kerndaten_csv(os.path.join(d, "kerndaten.csv"), recs)
    return d, recs


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
            os.path.join(REPO, "tools", "refexec", "run_psychauthors.py"),
            tsv,
            os.path.join(d, "kerndaten.csv"),
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


@pytest.fixture(scope="module")
def engine_triples(spark, corpus):
    from psyndex2linkeddata_spark.datagen.psychauthors import psychauthors_df
    from psyndex2linkeddata_spark.emit.psychauthors import psychauthor_triples

    _, recs = corpus
    t = psychauthor_triples(psychauthors_df(spark, recs))
    return {
        (r.subj, r.pred, r.obj, r.obj_is_iri, r.lang, r.dtype) for r in t.collect()
    }


def test_psychauthors_exact_match(engine_triples, ref_triples):
    ours, ref = engine_triples, ref_triples
    if ours != ref:
        p = len(ours & ref) / max(len(ours), 1)
        r = len(ours & ref) / max(len(ref), 1)
        raise AssertionError(
            f"P={p:.4f} R={r:.4f}\n"
            f"missing by pred: {Counter(t[1] for t in ref - ours).most_common(6)}\n"
            f"extra by pred: {Counter(t[1] for t in ours - ref).most_common(6)}\n"
            f"missing e.g.: {sorted(ref - ours)[:4]}\n"
            f"extra e.g.: {sorted(ours - ref)[:4]}"
        )
    assert len(ref) > 800  # the corpus is not degenerate


def test_psychauthors_quirks_exercised(corpus, ref_triples):
    """The gate's value depends on the quirks actually firing in the
    reference's own output: a carried-over gender (a 'divers' record
    whose emitted gender equals the previous record's), a skipped
    placeholder birthdate, and a two-college qualification resolving to
    the LATER college_lookup entry (Marburg over Trier)."""
    gender = {
        t[0].rsplit("/", 1)[1]: t[2].rsplit("/", 1)[1]
        for t in ref_triples
        if t[1] == "https://schema.org/gender"
    }
    _, recs = corpus
    carried = skipped_birth = 0
    prev = None
    for rec in recs:
        g = gender.get(rec["code"])
        if rec["geschlecht"] not in ("Herr", "Frau", "") and g is not None:
            assert g == prev, f"{rec['code']} should inherit {prev}, got {g}"
            carried += 1
        if g is not None:
            prev = g
        if rec["geb_tag"] == "1000-01-01":
            assert not any(
                t[1] == "https://schema.org/birthDate" and rec["code"] in t[0]
                for t in ref_triples
            )
            skipped_birth += 1
    assert carried > 0 and skipped_birth > 0
    marburg = [
        t for t in ref_triples
        if t[1] == "https://schema.org/name"
        and t[2] == "Philipps-Universität Marburg"
    ]
    assert marburg, "two-college LAST-match-wins case not exercised"
