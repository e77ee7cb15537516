"""J9 second tier — kerndaten alternate-name fallback
(reference modules/contributions.py:405-407 parses ttl-data/kerndaten.ttl
at import; :456-498 rechecks unmatched PAUP ids against the person's
schema:alternateName variants).

Unit level: the shared matcher kernel's `alternates` tier; end to end:
the broadcast resolution map (plans/pipeline.kerndaten_resolution_map)
through BOTH emit paths on a record whose PAUP name is resolvable ONLY
via an alternate.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from psyndex2linkeddata_spark.functions.fuzzy_names import match_ids_to_positions

PXC_ID = "https://w3id.org/zpid/vocabs/class/PsychAuthorsID"


def test_matcher_alternates_tier():
    persons = [(1, "Schmidt", "Anna"), (2, "Wagner", "Bernd")]
    # direct tier: entry name matches nobody; kerndaten lists the AUP
    # spelling as an alternate → position 1 receives the id
    got = match_ids_to_positions(
        [("Meyerhoff-Degen, Anna", "p12345")],
        persons,
        alternates={"p12345": ["Schmidt, Anna", "Meyerhoff-Degen, Anna"]},
    )
    assert got == {1: ["p12345"]}
    # no alternates → no match at all
    assert match_ids_to_positions([("Meyerhoff-Degen, Anna", "p12345")], persons) == {}
    # direct tier wins when it matches: fallback never runs
    got = match_ids_to_positions(
        [("Wagner, B.", "p9")],
        persons,
        alternates={"p9": ["Schmidt, Anna"]},
    )
    assert got == {2: ["p9"]}
    # reference loop shape: the fallback does NOT break across agents —
    # an alternate matching several agents attaches the id to each
    got = match_ids_to_positions(
        [("Unrelated, X", "p7")],
        [(1, "Müller", "Eva"), (2, "Mueller, E.".split(",")[0], "Eva")],
        alternates={"p7": ["Müller, Eva"]},
    )
    assert got == {1: ["p7"], 2: ["p7"]}
    # comma-less alternates are skipped (the reference would crash on
    # alternatename_split[1]; documented deviation)
    assert (
        match_ids_to_positions(
            [("Unrelated, X", "p7")],
            persons,
            alternates={"p7": ["MononymAlternate"]},
        )
        == {}
    )


def test_kerndaten_tier_end_to_end(spark):
    from psyndex2linkeddata_spark.plans.pipeline import build_triples
    from psyndex2linkeddata_spark.schema import pages_schema

    text = "\n".join(
        [
            "DFK 0600001",
            "BE UZ",
            "TI A work whose author changed names",
            "PY 2001",
            "LA English",
            "AUP Schmidt, Anna |c GERMANY",
            "AUP Wagner, Bernd |c GERMANY",
            "PAUP Meyerhoff-Degen, Anna |n p54321",
        ]
    )
    pages = spark.createDataFrame(
        [("https://psyndex.example.org/record/0600001", None, None, text, "en")],
        schema=pages_schema(),
    ).coalesce(1)
    kern = spark.createDataFrame(
        [("p54321", ["Schmidt, Anna", "Degen, A."])],
        "paup_id string, alternate_names array<string>",
    )
    triples = build_triples(pages, {"kerndaten": kern})
    rows = {(r.subj, r.pred, r.obj) for r in triples.collect()}
    agent = (
        "https://w3id.org/zpid/resources/works/0600001_work"
        "#contribution1_personagent"
    )
    id_node = agent + "_psychauthorsid"
    assert (
        agent,
        "http://id.loc.gov/ontologies/bibframe/identifiedBy",
        id_node,
    ) in rows
    assert (
        id_node,
        "http://www.w3.org/1999/02/22-rdf-syntax-ns#value",
        "p54321",
    ) in rows
    # the second author does not fuzzy-match any alternate → no id node
    agent2 = (
        "https://w3id.org/zpid/resources/works/0600001_work"
        "#contribution2_personagent"
    )
    assert not any(s == agent2 + "_psychauthorsid" for (s, _p, _o) in rows)
