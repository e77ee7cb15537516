"""Stage 1 — extract: pages → fixed record StructType.

The reference parses an XML tree per file and walks it per record
(/root/reference/convert_starxml_to_bf.py:101,1506). Here the per-page
extracted `text` carries the record as `TAG value` lines; extraction is pure
row-local array expressions (split → per-field filter/transform): no shuffle,
no Python, whole-stage-codegen friendly — exactly what survives at 10^12 rows.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

from psyndex2linkeddata_spark.schema import REPEATED_FIELDS, SCALAR_FIELDS

_LINE_RE = r"^([A-Z][A-Z0-9]*) (.*)$"


def _entries(text_col: Column) -> Column:
    """split lines → array<struct<tag,value>> (computed once per row).

    Universal-newline normalization first (\r\n and lone \r → \n, same
    spot as the Arrow twin's parse_page_text): web-page payloads carry
    CRLF, a \r left on a value would sit exactly where Spark's trim
    (0x20 only) and the reference's str.strip() disagree, and a bare \r
    mid-line would make the _LINE_RE extraction (Java '.' excludes \r)
    drop the field while the twin keeps it."""
    normalized = F.replace(
        F.replace(text_col, F.lit("\r\n"), F.lit("\n")), F.lit("\r"), F.lit("\n")
    )
    lines = F.split(normalized, "\n")
    return F.transform(
        lines,
        lambda l: F.struct(
            F.regexp_extract(l, _LINE_RE, 1).alias("tag"),
            F.regexp_extract(l, _LINE_RE, 2).alias("value"),
        ),
    )


def extract_records(pages: DataFrame, keep_page_cols: bool = False) -> DataFrame:
    """pages(url, warc_ts, html, text, lang) → records with one column per field.

    Scalar fields take the FIRST occurrence (reference `record.find`), repeated
    fields keep all occurrences in source order (reference `record.findall` —
    order is load-bearing for counter semantics A1/A4/A7).

    F1+F2 character cleaning happens HERE, once per page, on the whole text —
    byte-equivalent to the reference's per-field cleaning (the ^DD table and
    entity set contain no newlines, so no field boundary can change), and it
    keeps the 140-step replace chain out of every downstream field expression
    (a ~100× Catalyst-tree-size reduction for the emit stage).

    No build_triples route uses it: every route parses the pages in the
    Arrow stage (emit/arrow.parse_page_text), and the resolution maps
    read that parser's mention rows (emit/arrow.mentions_arrow). It stays
    for records-shaped input (emit_triples_arrow's records mode) and for
    perfbench's staged linked_pages probe, which times it as a layer.
    """
    from psyndex2linkeddata_spark.functions.cleaning import clean_text

    df = pages.withColumn("_entries", _entries(clean_text(F.col("text"))))
    cols = [F.col("url")]
    if keep_page_cols:
        cols += [F.col("warc_ts"), F.col("lang").alias("page_lang")]
    for f in SCALAR_FIELDS:
        matches = F.filter(F.col("_entries"), lambda e: e["tag"] == F.lit(f))
        cols.append(
            F.when(F.size(matches) > 0, F.element_at(matches, 1)["value"]).alias(f)
        )
    for f in REPEATED_FIELDS:
        matches = F.filter(F.col("_entries"), lambda e: e["tag"] == F.lit(f))
        cols.append(
            F.when(
                F.size(matches) > 0,
                F.transform(matches, lambda e: e["value"]),
            ).alias(f)
        )
    return df.select(*cols)


def filter_bad_ids(records: DataFrame, bad_ids: DataFrame) -> DataFrame:
    """S3/P5 kill-list: reference rereads bad_dfks.tsv per record
    (/root/reference/convert_starxml_to_bf.py:1185-1190, O(records×list));
    here one broadcast anti-join over records. No build_triples route
    uses it: the emit stage applies the same list itself
    (emit_triples_arrow's `bad_dfks`). It stays for callers that filter
    records themselves, and perfbench's linked_pages probe stages it."""
    return records.join(
        F.broadcast(bad_ids.select(F.col("dfk").alias("DFK"))), "DFK", "left_anti"
    )
