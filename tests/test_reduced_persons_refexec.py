"""Reduced-persons sub-converter vs the reference's own executed converter.

Same gate design as the other refexec suites: the reference's
convert_reduced_persons.py runs UNMODIFIED
(tools/refexec/run_reduced_persons.py) over a synthetic personen_uuid
CSV, and the engine's emit/reduced_persons.py must reproduce its triple
set EXACTLY — including the base58 person URIs, the regex-validated
ORCID/PsychAuthorsID drops, and the ``#varname_{i}`` numbering that
follows Python's set-iteration order under the pinned PYTHONHASHSEED
(the runner re-execs itself at the seed PySpark gives its workers; see
emit/reduced_persons.py's module docstring).

The base58 implementations on the two sides are INDEPENDENT
(functions/base58.py vs tools/refexec/shims/base58) and both pinned here
to published test vectors, so the URI scheme can't match by a shared bug.
"""

from __future__ import annotations

import os
import subprocess
import sys
from collections import Counter

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
CONVERTER = (
    "/root/reference/other_conversions/persons/other_persons/"
    "convert_reduced_persons.py"
)

pytestmark = pytest.mark.skipif(
    not os.path.exists(CONVERTER), reason="reference reduced-persons converter absent"
)

N_PERSONS = 30


def test_base58_public_vectors():
    sys.path.insert(0, os.path.join(REPO, "tools", "refexec", "shims"))
    try:
        import base58 as shim
    finally:
        sys.path.pop(0)
    from psyndex2linkeddata_spark.functions.base58 import b58encode

    vectors = [
        (b"hello world", "StV1DL6CwTryKyV"),
        (b"", ""),
        (b"\x00\x00abc", "11ZiCa"),
        (bytes(10), "1111111111"),
    ]
    for data, want in vectors:
        assert b58encode(data) == want
        assert shim.b58encode(data).decode() == want


@pytest.fixture(scope="module")
def corpus(tmp_path_factory):
    from tests.fixture_reduced_persons import (
        reduced_person_records,
        write_personen_csv,
    )

    d = str(tmp_path_factory.mktemp("reduced_persons"))
    recs = reduced_person_records(N_PERSONS)
    write_personen_csv(os.path.join(d, "personen_uuid.csv"), recs)
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
            os.path.join(REPO, "tools", "refexec", "run_reduced_persons.py"),
            tsv,
            os.path.join(d, "personen_uuid.csv"),
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
    from psyndex2linkeddata_spark.datagen.reduced_persons import reduced_persons_df
    from psyndex2linkeddata_spark.emit.reduced_persons import reduced_person_triples

    _, recs = corpus
    t = reduced_person_triples(reduced_persons_df(spark, recs))
    return {
        (r.subj, r.pred, r.obj, r.obj_is_iri, r.lang, r.dtype) for r in t.collect()
    }


def test_reduced_persons_exact_match(engine_triples, ref_triples):
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
    assert len(ref) > 400  # the corpus is not degenerate


def test_reduced_persons_quirks_exercised(ref_triples):
    """The gate only means something if the hard branches fired in the
    reference's own output: a person with ≥3 variant nodes (so the
    set-order numbering is non-trivial), an invalid ORCID and an invalid
    PsychAuthorsID dropped, and a variant without ', ' (empty given)."""
    varname3 = [t for t in ref_triples if t[0].endswith("#varname_3")]
    assert varname3, "no 3-variant person — set ordering not exercised"
    assert not any(t[2] == "12345" for t in ref_triples), "invalid ORCID leaked"
    assert not any(t[2] == "p2345XY" for t in ref_triples), "invalid PsychAuthors ID leaked"
    empty_given = [
        t for t in ref_triples
        if t[1] == "https://schema.org/givenName" and t[2] == ""
        and "#varname" in t[0]
    ]
    assert empty_given, "comma-less variant (IndexError arm) not exercised"
