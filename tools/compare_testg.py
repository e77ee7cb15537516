"""TESTG emitter vs the reference's golden testing/TESTG/testg.ttl.

Mapping: string index i → <testgraph/works/i>; our single-entry
relationship URI '#TestRelationship1' (main-converter 1-based numbering)
→ the golden's unnumbered '#TestRelationship' (testg.py variant).
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

REF_WORKS = "https://w3id.org/zpid/testgraph/works/"
OUR_WORKS = "https://w3id.org/zpid/resources/works/"


def main():
    from psyndex2linkeddata_spark.session import get_spark
    from psyndex2linkeddata_spark.plans.pipeline import build_triples
    from psyndex2linkeddata_spark.schema import pages_schema
    from psyndex2linkeddata_spark.sources.turtle import parse_turtle
    from tests.reference_fixtures import (
        TESTG_TTL,
        build_testg_auth_rows,
        load_testg_strings,
    )

    strings = load_testg_strings()
    golden = set()
    for t in parse_turtle(open(TESTG_TTL, encoding="utf-8").read()):
        if "#TestRelationship" in t[0] or (t[3] and "#TestRelationship" in str(t[2])):
            golden.add(tuple(t))

    spark = get_spark(master="local[4]")
    rows = []
    for i, s in enumerate(strings):
        dfk = f"8{i:06d}"
        rows.append((f"starxml://{dfk}", None, None, f"DFK {dfk}\nTESTG {s}", None))
    pages = spark.createDataFrame(rows, schema=pages_schema())
    auth = spark.createDataFrame(
        build_testg_auth_rows(), "test_id string, long_name string"
    )
    print(f"auth_tests rows: {auth.count()}", file=sys.stderr)
    triples = build_triples(pages, authorities={"tests": auth})

    ours = set()
    for r in triples.collect():
        s, o = r.subj, str(r.obj)
        if "#TestRelationship" not in s and "#TestRelationship" not in o:
            continue
        for i in range(len(strings)):
            dfk = f"8{i:06d}"
            s = s.replace(f"{OUR_WORKS}{dfk}_work", f"{REF_WORKS}{i}")
            if r.obj_is_iri:
                o = o.replace(f"{OUR_WORKS}{dfk}_work", f"{REF_WORKS}{i}")
        s = s.replace("#TestRelationship1", "#TestRelationship")
        if r.obj_is_iri:
            o = o.replace("#TestRelationship1", "#TestRelationship")
        ours.add((s, r.pred, o, r.obj_is_iri, r.lang, r.dtype))

    inter = ours & golden
    print(
        f"P={len(inter)/max(len(ours),1):.4f} R={len(inter)/max(len(golden),1):.4f} "
        f"inter={len(inter)} ours={len(ours)} golden={len(golden)}"
    )
    for tag, diff in (("MISSING", sorted(golden - ours)), ("EXTRA", sorted(ours - golden))):
        print(f"\n== {tag} ({len(diff)}) ==")
        for t in diff[:25]:
            print("  ", t)


if __name__ == "__main__":
    main()
