"""Psychauthors kerndaten record shape.

The reference's psychauthors converter (other_conversions/psychauthors/
convert_psychauthors_rdf.py) reads one CSV dump of the person authority
database (psychauthors.kerndaten.csv) and emits one schema:Person per
row. `KERNDATEN_FIELDS` names the dump's columns; `psychauthors_df`
turns its rows into the DataFrame the Spark emitter
(emit/psychauthors.py) consumes. jobs/authorities.py reads the dump into
that shape; the synthetic fixture corpus is generated by
tests/fixture_psychauthors.py.
"""

from __future__ import annotations

KERNDATEN_FIELDS = (
    "id", "code", "nachname", "vorname", "initial", "geb_name",
    "geschlecht", "geb_tag", "email", "url1", "url2", "orcid",
    "auszeichnung", "int_auszeichnung", "qualifikation", "titel",
)


def psychauthors_df(spark, records: list[dict]):
    """records → Spark DataFrame (seq preserves dump order — the
    converter's gender carry-over quirk is order-dependent)."""
    from pyspark.sql import types as T

    fields = [T.StructField("seq", T.IntegerType(), False)] + [
        T.StructField(k, T.StringType(), True) for k in KERNDATEN_FIELDS
    ]
    rows = [
        tuple([i] + [rec[k] for k in KERNDATEN_FIELDS])
        for i, rec in enumerate(records)
    ]
    return spark.createDataFrame(rows, T.StructType(fields))
