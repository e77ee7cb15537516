"""Skosify-style vocabulary hygiene over a SKOS triples DataFrame.

The reference's terms-conversion workflow (other_conversions/
terms_conversion/terms-conversion.ipynb, cell "run the result through
skosify: `skosify -c skosify.cfg apa_thes.ttl`") post-processes its
converted PSYNDEX terms vocabulary with the external `skosify` tool.
The checked-in before/after pair (apa_thes_2023_02.ttl →
skosified_apa_thes_2023_02.ttl) plus the tool's own log
(skosified-thes.log) show the run performed exactly two repairs, both
standard Skosify defaults:

1. **Disjoint-relations repair** (Skosify check S27): for every concept
   pair connected by BOTH ``skos:broaderTransitive`` (the closure of the
   hierarchy, in either direction) and ``skos:related``, the
   ``skos:related`` triples are removed in both directions — 426 pairs /
   852 triples in the reference run ("Concepts A and B connected by both
   skos:broaderTransitive and skos:related, removing skos:related").
2. **Top-concept marking**: every ``skos:Concept`` that is
   ``skos:inScheme`` some ``skos:ConceptScheme`` and has NO
   ``skos:broader`` at all, and is not already marked, gets
   ``skos:topConceptOf`` + inverse ``skos:hasTopConcept`` — 100 loose
   concepts in the reference run ("Marking loose concept ... as top
   concept of scheme ...").

Here the same pass is one declarative plan: the hierarchy edge set is
``skos:broader`` unioned with inverted ``skos:narrower`` (Skosify infers
the mutual inverses before checking; the reference vocabulary carries
both directions already), its transitive closure comes from the shared
semi-naive kernel (plans/query.py edge_closure), the conflicting
``related`` triples leave via one left-anti join, and loose concepts are
an anti-join of the in-scheme concept list against the broader-subject
set. tests/test_skosify_refexec.py gates the pass by EXACT triple-set
equality against the reference's own checked-in skosify output.

Scale: vocabularies are dimension tables (10^5-10^6 concepts), orders of
magnitude below the page corpus. The closure is frontier-bounded
(O(edges · depth) work, single-digit depth for thesauri); every join
key is a concept URI with fan-out bounded by the hierarchy, so AQE
broadcasts the closure side against the (larger) related set when small
enough and falls back to a hash join otherwise.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from psyndex2linkeddata_spark.plans.query import edge_closure

__all__ = ["skosify_hygiene"]

SKOS = "http://www.w3.org/2004/02/skos/core#"
_RDF_TYPE = "http://www.w3.org/1999/02/22-rdf-syntax-ns#type"


def _pairs(triples: DataFrame, pred: str) -> DataFrame:
    return triples.where(F.col("pred") == F.lit(pred)).select("subj", "obj")


def skosify_hygiene(triples: DataFrame, max_iter: int = 30) -> DataFrame:
    """Apply Skosify's default hygiene pass; returns the repaired triples.

    Input/output use the engine triple schema
    (subj, pred, obj, obj_is_iri, lang, dtype).
    """
    broader = _pairs(triples, SKOS + "broader")
    narrower_inv = _pairs(triples, SKOS + "narrower").select(
        F.col("obj").alias("subj"), F.col("subj").alias("obj")
    )
    # Skosify infers the broader/narrower mutual inverses before either
    # check, so the hierarchy edge set is the union of both directions.
    hier = broader.union(narrower_inv)
    # a hierarchy deeper than max_iter raises rather than under-close (an
    # under-closed broaderTransitive set would leave related triples
    # Skosify removes)
    closure = edge_closure(hier, max_iter=max_iter)

    # related pairs hierarchically connected in either direction; the
    # symmetric related triples are materialized both ways in the data,
    # so the forward/reverse semi-joins together cover both removals.
    related = _pairs(triples, SKOS + "related")
    conflict = related.join(closure, ["subj", "obj"], "left_semi").union(
        related.join(
            closure.select(
                F.col("obj").alias("subj"), F.col("subj").alias("obj")
            ),
            ["subj", "obj"],
            "left_semi",
        )
    )
    removals = conflict.select(
        "subj", F.lit(SKOS + "related").alias("pred"), "obj"
    ).distinct()
    cleaned = triples.join(removals, ["subj", "pred", "obj"], "left_anti")

    # loose concepts: in a scheme, typed Concept, no broader anywhere,
    # not already marked as a top concept of that scheme.
    schemes = (
        triples.where(
            (F.col("pred") == F.lit(_RDF_TYPE))
            & (F.col("obj") == F.lit(SKOS + "ConceptScheme"))
        )
        .select(F.col("subj").alias("scheme"))
        .distinct()
    )
    concepts = (
        triples.where(
            (F.col("pred") == F.lit(_RDF_TYPE))
            & (F.col("obj") == F.lit(SKOS + "Concept"))
        )
        .select(F.col("subj").alias("concept"))
        .distinct()
    )
    in_scheme = _pairs(triples, SKOS + "inScheme").select(
        F.col("subj").alias("concept"), F.col("obj").alias("scheme")
    )
    already_top = (
        _pairs(triples, SKOS + "topConceptOf")
        .select(F.col("subj").alias("concept"), F.col("obj").alias("scheme"))
        .union(
            _pairs(triples, SKOS + "hasTopConcept").select(
                F.col("obj").alias("concept"), F.col("subj").alias("scheme")
            )
        )
    )
    loose = (
        in_scheme.join(F.broadcast(schemes), "scheme", "left_semi")
        .join(concepts, "concept", "left_semi")
        .join(hier.select(F.col("subj").alias("concept")), "concept", "left_anti")
        .join(already_top, ["concept", "scheme"], "left_anti")
        .distinct()
    )
    mk = lambda s, p, o: loose.select(  # noqa: E731
        s.alias("subj"),
        F.lit(SKOS + p).alias("pred"),
        o.alias("obj"),
        F.lit(True).alias("obj_is_iri"),
        F.lit(None).cast("string").alias("lang"),
        F.lit(None).cast("string").alias("dtype"),
    )
    marks = mk(F.col("scheme"), "hasTopConcept", F.col("concept")).union(
        mk(F.col("concept"), "topConceptOf", F.col("scheme"))
    )
    return cleaned.unionByName(marks)
