"""Journal-authority record shape (serials/journals sub-conversion).

The reference's journal converter
(/root/reference/other_conversions/serials_journals/journal_convert.py)
reads a STAR journal XML export (Record elements with JTC/JTTI/JTUT/…
tags) and emits one bf:Hub per journal. `JOURNAL_FIELDS_*` name those
tags; `journals_df` turns parsed records into the DataFrame the Spark
emitter (emit/journals.py) consumes. jobs/authorities.py parses the
export into that shape; the synthetic fixture corpus is generated by
tests/fixture_journals.py.
"""

from __future__ import annotations

JOURNAL_FIELDS_SCALAR = (
    "JTC", "JTTI", "JTUT", "JTPT", "LISSN", "ISSN", "EISSN", "JTAT",
    "JTRVK", "JTEW", "JTPR", "JTQU", "JTBN", "MT", "MT2", "VERL",
    "ASHN", "JTOR", "RED",
)
JOURNAL_FIELDS_REPEATED = ("HS", "KHS", "JTRV")


def journals_df(spark, records: list[dict]):
    """records → Spark DataFrame (seq column preserves document order —
    the reference's mutable-instance carry-over is order-dependent)."""
    from pyspark.sql import types as T

    fields = [T.StructField("seq", T.IntegerType(), False)]
    fields += [
        T.StructField(k, T.StringType(), True) for k in JOURNAL_FIELDS_SCALAR
    ]
    fields += [
        T.StructField(k, T.ArrayType(T.StringType()), True)
        for k in JOURNAL_FIELDS_REPEATED
    ]
    rows = [
        tuple(
            [i]
            + [rec.get(k) for k in JOURNAL_FIELDS_SCALAR]
            + [rec.get(k) or [] for k in JOURNAL_FIELDS_REPEATED]
        )
        for i, rec in enumerate(records)
    ]
    return spark.createDataFrame(rows, T.StructType(fields))
