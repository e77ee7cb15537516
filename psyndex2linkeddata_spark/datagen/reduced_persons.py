"""Reduced-persons record shape.

The reference's reduced-persons converter (other_conversions/persons/
other_persons/convert_reduced_persons.py) reads one TAB-separated CSV
(personen_uuid.csv) and emits one schema:Person+bf:Person per row.
`PERSONEN_FIELDS` names its columns; `reduced_persons_df` turns its rows
into the DataFrame the Spark emitter (emit/reduced_persons.py) consumes.
jobs/authorities.py reads the CSV into that shape; the synthetic fixture
corpus is generated by tests/fixture_reduced_persons.py.
"""

from __future__ import annotations

PERSONEN_FIELDS = (
    "uuid", "isPsych", "Nachname", "GND", "Vorname", "GND_Var",
    "Varianten", "ORCID", "PsychAuthorsID",
)


def reduced_persons_df(spark, records: list[dict]):
    """records → Spark DataFrame."""
    from pyspark.sql import types as T

    fields = [T.StructField(k, T.StringType(), True) for k in PERSONEN_FIELDS]
    rows = [tuple(rec[k] for k in PERSONEN_FIELDS) for rec in records]
    return spark.createDataFrame(rows, T.StructType(fields))
