"""Triple-construction primitives for the Column-expression emitters.

The sub-converters (emit/journals.py, emit/psychauthors.py,
emit/reduced_persons.py) and the driver entry build triples as struct
columns from these; normalize and the resolution maps use the mention
accessors and the work/bundle URI minting. The reference's atom is an
rdflib `(URIRef, URIRef, URIRef|Literal(lang,datatype))` added to one
shared Graph (reference convert_starxml_to_bf.py:120-122). Ours is a
flat struct row; URIs are minted with native `concat` — the
hash-fragment URI scheme is deterministic string concatenation, so no
UDF is ever needed for identity.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

from psyndex2linkeddata_spark import namespaces as NS
from psyndex2linkeddata_spark.schema import TRIPLE_COLS


def _c(x: Column | str | int | None) -> Column:
    if isinstance(x, Column):
        return x
    return F.lit(x)


def T(
    subj: Column | str,
    pred: Column | str,
    obj: Column | str | int,
    *,
    iri: bool = False,
    lang: Column | str | None = None,
    dtype: Column | str | None = None,
) -> Column:
    """One triple as a struct column. Null `obj` → the triple is dropped
    later by :func:`pack` (mirrors the reference's `if field is not None`
    guards around every `graph.add`)."""
    return F.struct(
        _c(subj).cast("string").alias("subj"),
        _c(pred).cast("string").alias("pred"),
        _c(obj).cast("string").alias("obj"),
        F.lit(bool(iri)).alias("obj_is_iri"),
        _c(lang).cast("string").alias("lang"),
        _c(dtype).cast("string").alias("dtype"),
    )


def pack(*triples: Column, when: Column | None = None) -> Column:
    """array of T(...) structs with null-obj/null-subj entries removed;
    optional `when` guard empties the whole array (field-absent case)."""
    keep = lambda t: t["obj"].isNotNull() & t["subj"].isNotNull()  # noqa: E731
    if when is not None:
        cond = when
        keep = lambda t: cond & t["obj"].isNotNull() & t["subj"].isNotNull()  # noqa: E731
    return F.filter(F.array(*triples), keep)


def pack_arr(arr: Column) -> Column:
    """Same null-filter for an already-built array<triple> column."""
    return F.filter(
        F.coalesce(arr, F.array()),
        lambda t: t["obj"].isNotNull() & t["subj"].isNotNull(),
    )


def typ(subj: Column | str, class_uri: str) -> Column:
    return T(subj, NS.RDF_TYPE, class_uri, iri=True)


def label(subj: Column | str, obj: Column, lang: Column | str | None = None) -> Column:
    return T(subj, NS.RDFS_LABEL, obj, lang=lang)


# --- URI minting (deterministic concat; reference scheme per SURVEY §1.3) ---

def work_uri(dfk: Column) -> Column:
    """works:{dfk}_work (/root/reference/convert_starxml_to_bf.py:1196-1198)."""
    return F.concat(F.lit(NS.WORKS), dfk, F.lit("_work"))


def bundle_uri(dfk: Column) -> Column:
    """instancebundles:{dfk} (/root/reference/convert_starxml_to_bf.py:1315)."""
    return F.concat(F.lit(NS.INSTANCEBUNDLES), dfk)


# --- pre-cleaned field accessors ------------------------------------------
# extract_records cleans the whole text once (F1+F2), so the emit layer's
# field accessors skip the per-call 140-step replace chain. These wrappers
# make that contract explicit.

def mainfield(col: Column) -> Column:
    from psyndex2linkeddata_spark.functions.cleaning import get_mainfield

    return get_mainfield(col, clean=False)


def subfield(col: Column, name: str) -> Column:
    from psyndex2linkeddata_spark.functions.cleaning import get_subfield

    return get_subfield(col, name, clean=False)


def explode_triples(df: DataFrame, arr: Column) -> DataFrame:
    """array<triple> column → triples DataFrame (the single explode).

    explode_OUTER + a null filter on the generated attribute (r06): a
    plain explode makes Catalyst infer a `size(arr) > 0` pre-filter
    (InferFiltersFromGenerate) and push it below the projection — for
    THIS column that means re-evaluating the entire concatenated
    emitter tree once more per record. The outer form never triggers
    the inference; records with an empty/null triple array (none exist
    — work_core always emits) are dropped by the attribute filter
    exactly as explode dropped them."""
    return (
        df.select(F.explode_outer(arr).alias("_t"))
        .where(F.col("_t").isNotNull())
        .select(*[F.col("_t")[c].alias(c) for c in TRIPLE_COLS])
    )
