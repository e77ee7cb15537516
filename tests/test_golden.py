"""Golden triple-set comparison: Spark pipeline vs pure-Python oracle.

Exact set equality (P = R = 1.0; BASELINE.json's `golden_triples` gate,
FIXTURES.md §4, asked for ≥ 0.95): the Arrow emit stage must reproduce
the oracle's row-at-a-time reference semantics. The oracle shares no
emit code with the package, so this is the independent gate on the
emitter. Any asymmetric difference is printed for debugging.
"""

from __future__ import annotations

import pytest

from psyndex2linkeddata_spark.datagen.pages import make_records
from psyndex2linkeddata_spark.plans.pipeline import build_triples
from tests.golden_oracle import golden_triples

N_RECORDS = 120


@pytest.fixture(scope="module")
def spark_triples(spark, pages):
    rows = build_triples(pages).collect()
    return {
        (r.subj, r.pred, r.obj, r.obj_is_iri, r.lang, r.dtype) for r in rows
    }


def test_triple_precision_recall(spark_triples, pages):
    n = pages.count()
    golden = golden_triples(make_records(n))
    inter = spark_triples & golden
    precision = len(inter) / len(spark_triples)
    recall = len(inter) / len(golden)
    if precision < 1.0 or recall < 1.0:
        only_spark = sorted(spark_triples - golden)[:25]
        only_golden = sorted(golden - spark_triples)[:25]
        print(f"\nprecision={precision:.4f} recall={recall:.4f}")
        print(f"spark-only ({len(spark_triples - golden)}):")
        for t in only_spark:
            print("  S", t)
        print(f"golden-only ({len(golden - spark_triples)}):")
        for t in only_golden:
            print("  G", t)
    assert spark_triples == golden, f"precision {precision:.4f} recall {recall:.4f}"


def test_triple_pr_with_authorities(spark, pages, fixture_dir):
    """Full pipeline incl. kill-list + linking stage (J1/J3/J5/J6 + A2)
    against the oracle fed the same authority rows."""
    import os

    from psyndex2linkeddata_spark.datagen.authorities import (
        auth_concepts_rows,
        auth_kerndaten_rows,
        auth_orgs_rows,
        bad_ids_rows,
    )
    from tests.conftest import N_FIXTURE_PAGES

    authorities = {
        n: spark.read.parquet(os.path.join(fixture_dir, f"{n}.parquet"))
        for n in ("auth_orgs", "auth_concepts", "bad_ids")
    }
    authorities["kerndaten"] = spark.read.parquet(
        os.path.join(fixture_dir, "auth_kerndaten.parquet")
    )
    got = {
        (r.subj, r.pred, r.obj, r.obj_is_iri, r.lang, r.dtype)
        for r in build_triples(pages, authorities).collect()
    }
    golden = golden_triples(
        make_records(pages.count()),
        {
            "auth_orgs": auth_orgs_rows(),
            "auth_concepts": auth_concepts_rows(),
            "auth_kerndaten": auth_kerndaten_rows(),
            "bad_ids": bad_ids_rows(N_FIXTURE_PAGES),
        },
    )
    inter = got & golden
    precision = len(inter) / len(got)
    recall = len(inter) / len(golden)
    if precision < 1.0 or recall < 1.0:
        print(f"\nprecision={precision:.4f} recall={recall:.4f}")
        for t in sorted(got - golden)[:20]:
            print("  S", t)
        for t in sorted(golden - got)[:20]:
            print("  G", t)
    assert got == golden, f"precision {precision:.4f} recall {recall:.4f}"
    # enrichment actually fired: sameAs topic links and ror ids exist
    assert any("_rorid" in s for (s, *_x) in got)
    assert any(p == "http://www.w3.org/2002/07/owl#sameAs" and "#topic" in s for (s, p, *_x) in got)
