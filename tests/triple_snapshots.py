"""Pinned triple sets for the emit stage's scenarios.

Each scenario's deduplicated triple set is recorded in
tests/data/triple_snapshots.json as its count, a sha256 over the sorted
6-tuples, and per-predicate counts. The sets were recorded while the
engine still carried a second, declarative Column emitter and both
emitters produced exactly these sets, so the snapshot holds the
behaviour that parity used to hold: tests/test_arrow_parity.py compares
the Arrow emitter against it.

The inputs are the test session's fixtures (conftest.py: 300 seeded
pages and authority tables, seed 42):
- plain: all pages, no authorities (pages route);
- subset: a deterministic ~1/3 slice plus the pages bad_ids names;
- job: the subset with the convert job's authority set (pages route);
- maps: the subset with every fixture authority, the crossref and
  tests resolution maps included (records route, via extract_records).

Re-pin after an intended change to emit semantics or to datagen:
    python -m tests.triple_snapshots
"""

from __future__ import annotations

import collections
import hashlib
import json
import os

from pyspark.sql import functions as F

SNAPSHOT_PATH = os.path.join(os.path.dirname(__file__), "data", "triple_snapshots.json")
SCENARIOS = ("plain", "subset", "job", "maps")


def tset(df) -> set[tuple]:
    return {(r.subj, r.pred, r.obj, r.obj_is_iri, r.lang, r.dtype) for r in df.collect()}


def digest(triples: set[tuple]) -> dict:
    """count, sha256 over the sorted JSON-encoded 6-tuples, and per-predicate counts."""
    lines = sorted(json.dumps(list(t), ensure_ascii=False) for t in triples)
    h = hashlib.sha256("\n".join(lines).encode("utf-8")).hexdigest()
    preds = collections.Counter(t[1] for t in triples)
    return {"count": len(triples), "sha256": h, "preds": dict(sorted(preds.items()))}


def load() -> dict:
    with open(SNAPSHOT_PATH, encoding="utf-8") as f:
        return json.load(f)


def mismatch(name: str, got: dict, pinned: dict) -> str:
    """Failure message naming the predicates whose counts moved."""
    moved = {
        p: (pinned["preds"].get(p, 0), got["preds"].get(p, 0))
        for p in sorted(set(pinned["preds"]) | set(got["preds"]))
        if pinned["preds"].get(p, 0) != got["preds"].get(p, 0)
    }
    return (
        f"{name}: count {got['count']} (pinned {pinned['count']}); "
        f"predicates moved (pinned, got): {moved or 'none, values differ'}"
    )


def pages_subset(spark, pages, fixture_dir):
    """Deterministic ~1/3 slice (crc32(url) — stable across jobs, unlike
    limit(), whose row pick can vary between executions), plus the pages
    the bad_ids kill-list names, which the slice alone misses: the
    kill-list scenarios then drop real pages."""
    killed = [
        r.dfk
        for r in spark.read.parquet(os.path.join(fixture_dir, "bad_ids.parquet"))
        .select("dfk")
        .collect()
    ]
    dfk = F.regexp_extract(F.col("text"), r"(?m)^DFK (.*)$", 1)
    return pages.filter((F.crc32(F.col("url")) % 3 == 0) | dfk.isin(*killed))


def load_authorities(spark, fixture_dir) -> dict:
    """Every fixture authority, keyed as build_triples takes them. The
    crossref table is the Crossref-works stand-in (auth_works) in the
    (doi, title, authors) shape plans/crossref.py reads."""

    def read(name):
        return spark.read.parquet(os.path.join(fixture_dir, f"{name}.parquet"))

    works = read("auth_works")
    return {
        "auth_orgs": read("auth_orgs"),
        "auth_concepts": read("auth_concepts"),
        "bad_ids": read("bad_ids"),
        "crossref": works.select(
            "doi", "title", F.array_join("author_families", ", ").alias("authors")
        ),
        "tests": read("auth_tests"),
    }


def job_authorities(authorities: dict) -> dict:
    """The authority set jobs/convert.py loads (no resolution maps)."""
    from psyndex2linkeddata_spark.jobs.convert import AUTHORITY_TABLES

    return {k: authorities[k] for k in AUTHORITY_TABLES}


def scenario_triples(name, pages, subset, authorities):
    from psyndex2linkeddata_spark.plans.pipeline import build_triples

    if name == "plain":
        return build_triples(pages)
    if name == "subset":
        return build_triples(subset)
    if name == "job":
        return build_triples(subset, job_authorities(authorities))
    return build_triples(subset, authorities)


def main() -> None:
    import tempfile

    from psyndex2linkeddata_spark.datagen.authorities import write_authority_parquets
    from psyndex2linkeddata_spark.datagen.pages import write_pages_parquet
    from psyndex2linkeddata_spark.session import get_spark
    from tests.conftest import N_FIXTURE_PAGES

    spark = get_spark(app_name="tests", master="local[4]", shuffle_partitions=4)
    d = tempfile.mkdtemp()
    write_pages_parquet(os.path.join(d, "pages.parquet"), N_FIXTURE_PAGES, seed=42)
    write_authority_parquets(d, N_FIXTURE_PAGES, seed=42)
    pages = spark.read.parquet(os.path.join(d, "pages.parquet"))
    subset = pages_subset(spark, pages, d)
    auth = load_authorities(spark, d)
    out = {
        name: digest(tset(scenario_triples(name, pages, subset, auth)))
        for name in SCENARIOS
    }
    with open(SNAPSHOT_PATH, "w", encoding="utf-8") as f:
        json.dump(out, f, indent=1, ensure_ascii=False)
        f.write("\n")
    for name, d_ in out.items():
        print(name, d_["count"], d_["sha256"])


if __name__ == "__main__":
    main()
