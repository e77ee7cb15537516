"""S7 — text serialization sinks.

The reference serializes one rdflib Graph to Turtle + JSON-LD
(/root/reference/convert_starxml_to_bf.py:1555-1562). Distributed
equivalent: N-Triples lines built with pure column expressions
(`concat_ws`) written as text — NT is line-oriented, so any partitioning
is valid — and a per-subject Turtle sink. No entry point exports JSON-LD
(S8), so there is no JSON-LD sink.

Escaping follows the N-Triples grammar for the characters our corpus can
produce (backslash, quote, newline, tab, CR)."""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F


def _escape(col: Column) -> Column:
    out = F.replace(col, F.lit("\\"), F.lit("\\\\"))
    out = F.replace(out, F.lit('"'), F.lit('\\"'))
    out = F.replace(out, F.lit("\n"), F.lit("\\n"))
    out = F.replace(out, F.lit("\r"), F.lit("\\r"))
    return F.replace(out, F.lit("\t"), F.lit("\\t"))


def nt_lines(triples: DataFrame) -> DataFrame:
    """(subj,pred,obj,obj_is_iri,lang,dtype) → one `value` column of
    N-Triples lines."""
    obj = (
        F.when(F.col("obj_is_iri"), F.concat(F.lit("<"), F.col("obj"), F.lit(">")))
        .when(
            F.col("lang").isNotNull(),
            F.concat(F.lit('"'), _escape(F.col("obj")), F.lit('"@'), F.col("lang")),
        )
        .when(
            F.col("dtype").isNotNull(),
            F.concat(
                F.lit('"'), _escape(F.col("obj")), F.lit('"^^<'), F.col("dtype"), F.lit(">")
            ),
        )
        .otherwise(F.concat(F.lit('"'), _escape(F.col("obj")), F.lit('"')))
    )
    return triples.select(
        F.concat_ws(
            " ",
            F.concat(F.lit("<"), F.col("subj"), F.lit(">")),
            F.concat(F.lit("<"), F.col("pred"), F.lit(">")),
            obj,
            F.lit("."),
        ).alias("value")
    )


def write_nt(triples: DataFrame, path: str, single_file: bool = False) -> None:
    lines = nt_lines(triples)
    if single_file:
        lines = lines.coalesce(1)
    lines.write.mode("overwrite").text(path)


# S7: prefix table for Turtle compression (the reference's graph.bind
# set, convert_starxml_to_bf.py:1437-1460 / testing harnesses)
TURTLE_PREFIXES: dict[str, str] = {
    "bf": "http://id.loc.gov/ontologies/bibframe/",
    "bflc": "http://id.loc.gov/ontologies/bflc/",
    "mads": "http://www.loc.gov/mads/rdf/v1#",
    "schema": "https://schema.org/",
    "rdf": "http://www.w3.org/1999/02/22-rdf-syntax-ns#",
    "rdfs": "http://www.w3.org/2000/01/rdf-schema#",
    "owl": "http://www.w3.org/2002/07/owl#",
    "skos": "http://www.w3.org/2004/02/skos/core#",
    "xsd": "http://www.w3.org/2001/XMLSchema#",
    "works": "https://w3id.org/zpid/resources/works/",
    "instances": "https://w3id.org/zpid/resources/instances/",
    "instancebundles": "https://w3id.org/zpid/resources/instancebundles/",
    "pxc": "https://w3id.org/zpid/ontology/classes/",
    "pxp": "https://w3id.org/zpid/ontology/properties/",
    "roles": "https://w3id.org/zpid/vocabs/roles/",
    "relations": "https://w3id.org/zpid/vocabs/relations/",
    "genres": "https://w3id.org/zpid/vocabs/genres/",
    "issuances": "https://w3id.org/zpid/vocabs/issuances/",
    "licenses": "https://w3id.org/zpid/vocabs/licenses/",
    "pmt": "https://w3id.org/zpid/vocabs/mediacarriers/",
    "lang": "http://id.loc.gov/vocabulary/iso639-2/",
    "locid": "http://id.loc.gov/vocabulary/identifiers/",
}

# conservative PN_LOCAL: no leading digit/dot, interior dots allowed,
# no trailing dot, nothing that needs %-escaping
_PN_LOCAL_RE = r"^[A-Za-z_][A-Za-z0-9_.\-]*[A-Za-z0-9_\-]$|^[A-Za-z_]$"


def _qname(col: Column) -> Column:
    """IRI → prefixed name when a prefix matches and the local part is
    Turtle-safe; else <IRI>. Longest prefix wins."""
    expr = None
    for pfx, ns in sorted(TURTLE_PREFIXES.items(), key=lambda kv: -len(kv[1])):
        local = F.substring(col, len(ns) + 1, 1 << 20)
        cond = col.startswith(ns) & local.rlike(_PN_LOCAL_RE)
        q = F.concat(F.lit(pfx + ":"), local)
        expr = F.when(cond, q) if expr is None else expr.when(cond, q)
    return expr.otherwise(F.concat(F.lit("<"), col, F.lit(">")))


def _turtle_object(obj, is_iri, lang, dtype) -> Column:
    return (
        F.when(is_iri, _qname(obj))
        .when(
            lang.isNotNull(),
            F.concat(F.lit('"'), _escape(obj), F.lit('"@'), lang),
        )
        .when(
            dtype.isNotNull(),
            F.concat(F.lit('"'), _escape(obj), F.lit('"^^'), _qname(dtype)),
        )
        .otherwise(F.concat(F.lit('"'), _escape(obj), F.lit('"')))
    )


_RDF_TYPE = "http://www.w3.org/1999/02/22-rdf-syntax-ns#type"


def turtle_blocks(triples: DataFrame) -> DataFrame:
    """(triples) → one `value` row per subject: a prefix-compressed Turtle
    block ('subj\\n    pred o1, o2 ;\\n    pred2 o3 .'). All grouping and
    rendering is native (two groupBy shuffles on subj — uniform keys);
    objects and predicates are sorted for deterministic output."""
    t = triples.select(
        F.col("subj"),
        F.when(F.col("pred") == _RDF_TYPE, F.lit("a"))
        .otherwise(_qname(F.col("pred")))
        .alias("p"),
        _turtle_object(
            F.col("obj"), F.col("obj_is_iri"), F.col("lang"), F.col("dtype")
        ).alias("o"),
    )
    po = t.groupBy("subj", "p").agg(
        F.array_join(F.sort_array(F.collect_list("o")), ",\n        ").alias("objs")
    )
    blocks = po.groupBy("subj").agg(
        F.array_join(
            F.transform(
                F.sort_array(F.collect_list(F.struct("p", "objs"))),
                lambda s: F.concat(F.lit("    "), s["p"], F.lit(" "), s["objs"]),
            ),
            " ;\n",
        ).alias("body")
    )
    return blocks.select(
        F.concat(_qname(F.col("subj")), F.lit("\n"), F.col("body"), F.lit(" .\n")).alias(
            "value"
        )
    )


def write_turtle(triples: DataFrame, path: str, single_file: bool = False) -> None:
    """S7: Turtle sink. Every part file is a self-contained Turtle
    document (the @prefix header is prepended once per partition via
    mapInPandas — the iterator IS one partition)."""
    import pandas as pd

    header = (
        "".join(
            f"@prefix {p}: <{ns}> .\n" for p, ns in sorted(TURTLE_PREFIXES.items())
        )
        + "\n"
    )
    blocks = turtle_blocks(triples)
    if single_file:
        blocks = blocks.coalesce(1)

    def add_header(batches):
        first = True
        for pdf in batches:
            if first and len(pdf):
                pdf = pdf.copy()
                pdf.iloc[0, 0] = header + pdf.iloc[0, 0]
                first = False
            yield pdf

    blocks.mapInPandas(add_header, "value string").write.mode("overwrite").text(path)


def move_single_part(staged_dir: str, dest: str, pattern: str = "part-*") -> None:
    """Deliver a coalesce(1) Spark sink's single part file as the plain
    file `dest` — the CLI contract of the single-file tools the jobs
    replace (skosify, csv.DictWriter, g.serialize). Raises if the staged
    directory does not hold exactly one part file; the staging dir is
    removed afterwards."""
    import glob
    import os
    import shutil

    parts = glob.glob(os.path.join(staged_dir, pattern))
    if len(parts) != 1:
        raise RuntimeError(
            f"expected exactly one part file in {staged_dir}, found {len(parts)}"
        )
    shutil.move(parts[0], dest)
    shutil.rmtree(staged_dir, ignore_errors=True)


def read_table_auto(spark, path: str, **csv_opts) -> DataFrame:
    """Read a small dimension table: CSV (with header) when the path ends
    in .csv, parquet otherwise — the authority-input convention shared by
    the enrichment jobs."""
    if path.endswith(".csv"):
        return spark.read.csv(path, header=True, **csv_opts)
    return spark.read.parquet(path)
