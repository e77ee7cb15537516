"""Compare the engine's triples against the REFERENCE CONVERTER'S OWN
OUTPUT on the reference's own corpus (the reference-exec oracle).

The old version of this tool compared against ttl-data/bibframe_records.ttl,
whose 200 DFKs are provably disjoint from the 342 DFKs in
xml-data/records-440.xml — an empty intersection that printed a vacuous
P=0 R=0. This version executes the reference converter itself offline
(tools/refexec/run_reference.py — network/caching stubbed, every API
lookup degrading to no-result) and compares the engine run in the same
degraded mode (annif=False, no authorities, bad_dfks.tsv kill-list).

Exclusions (documented, same both sides where applicable):
  - triples whose subject or object is a blank node (the reference's
    per-record admin-metadata node carries a wall-clock generationDate);
  - the corpus-level admin subject https://w3id.org/zpid/bibframe/records/.

Usage:
    PYTHONPATH=/root/repo python tools/compare_reference.py \
        [--ref-tsv /tmp/ref_triples.tsv] [--per-pred N]

With no --ref-tsv, the reference converter is executed first (~2 min)
and its dump cached at /tmp/ref_triples.tsv for reuse.
"""

from __future__ import annotations

import os
import sys
from collections import Counter

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

XML = "/root/reference/xml-data/records-440.xml"
BAD = "/root/reference/xml-data/bad_dfks.tsv"
ADMIN_SUBJ = "https://w3id.org/zpid/bibframe/records/"
DEFAULT_TSV = "/tmp/ref_triples.tsv"


def _unesc(s: str) -> str:
    return (
        s.replace("\\n", "\n").replace("\\r", "\r").replace("\\t", "\t").replace("\\\\", "\\")
    )


def reference_triples(tsv_path: str) -> set[tuple]:
    """Load (or produce) the reference-exec dump as engine-shaped tuples."""
    if not os.path.exists(tsv_path):
        print(f"executing reference converter -> {tsv_path} ...", file=sys.stderr)
        import subprocess

        subprocess.run(
            [sys.executable, os.path.join(REPO, "tools/refexec/run_reference.py"), tsv_path],
            check=True,
        )
    out = set()
    skipped_bnode = 0
    with open(tsv_path, encoding="utf-8") as f:
        for line in f:
            if not line.strip():
                continue
            subj, pred, obj, kind, lang, dtype = (_unesc(c) for c in line.rstrip("\n").split("\t"))
            if kind == "bnode" or subj.startswith("_:"):
                skipped_bnode += 1
                continue
            if subj == ADMIN_SUBJ:
                continue
            out.add((subj, pred, obj, kind == "iri", lang or None, dtype or None))
    print(f"reference: {len(out)} triples ({skipped_bnode} bnode rows excluded)", file=sys.stderr)
    return out


def engine_triples() -> set[tuple]:
    from pyspark.sql import functions as F

    from psyndex2linkeddata_spark.plans.pipeline import build_triples
    from psyndex2linkeddata_spark.session import get_spark
    from psyndex2linkeddata_spark.sources.starxml import star_xml_pages

    spark = get_spark(master="local[8]")
    pages = star_xml_pages(spark, XML)
    bad = (
        spark.read.option("header", True).option("sep", "\t").csv(BAD).select("dfk")
    )
    triples = build_triples(pages, {"bad_ids": bad}, annif=False)
    rows = triples.collect()
    out = {
        (r.subj, r.pred, r.obj, r.obj_is_iri, r.lang, r.dtype)
        for r in rows
        if r.subj != ADMIN_SUBJ
    }
    print(f"engine: {len(out)} triples", file=sys.stderr)
    return out


def compare(ours: set, ref: set, per_pred_n: int = 2) -> tuple[float, float]:
    inter = ours & ref
    p = len(inter) / max(len(ours), 1)
    r = len(inter) / max(len(ref), 1)
    print(f"\nP={p:.4f} R={r:.4f} inter={len(inter)} ours={len(ours)} ref={len(ref)}")

    for title, diff in (("MISSING (ref-only)", ref - ours), ("EXTRA (engine-only)", ours - ref)):
        by_pred = Counter(t[1] for t in diff)
        print(f"\n== {title}: {len(diff)} ==")
        for pred, n in by_pred.most_common(15):
            print(f"  {n:5d}  {pred}")
            for ex in [t for t in sorted(diff) if t[1] == pred][:per_pred_n]:
                print(f"         {ex[0]}  ->  {ex[2][:120]!r}")
    return p, r


def main():
    args = sys.argv[1:]

    def opt(name, default):
        return args[args.index(name) + 1] if name in args else default

    tsv = opt("--ref-tsv", DEFAULT_TSV)
    per_pred = int(opt("--per-pred", "2"))
    ref = reference_triples(tsv)
    ours = engine_triples()
    compare(ours, ref, per_pred)


if __name__ == "__main__":
    main()
