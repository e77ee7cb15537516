"""Extraction stage: record parsing + the byte-identical-text invariant."""

from __future__ import annotations

import html as htmllib
import re

import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

from psyndex2linkeddata_spark.datagen.pages import make_records
from psyndex2linkeddata_spark.extract.parser import filter_bad_ids
from tests.conftest import N_FIXTURE_PAGES


def text_from_html(col):
    """Re-extract text from raw html bytes (Arrow-vectorized pandas UDF):
    the inverse of the page renderer, body <pre> content,
    entity-unescaped. The UDF body is a closure so that it ships to the
    Python workers by value (a test module is not importable there)."""

    def one(b):
        if b is None:
            return None
        s = bytes(b).decode("utf-8")
        m = re.search(r"<pre>(.*)</pre>", s, flags=re.DOTALL)
        return htmllib.unescape(m.group(1)) if m else None

    def run(html: pd.Series) -> pd.Series:
        return html.map(one)

    return pandas_udf(run, "string")(col)


def test_every_page_yields_one_record(records):
    assert records.count() == N_FIXTURE_PAGES
    assert records.filter(F.col("DFK").isNull()).count() == 0
    assert records.select("url").distinct().count() == N_FIXTURE_PAGES


def test_scalar_and_repeated_fields_roundtrip(records):
    """Parsed record fields must equal the generator's source dicts after
    the extract-time F1+F2 cleaning (applied once per page — byte-
    equivalent to the reference's per-field cleaning)."""
    from tests.golden_oracle import clean

    src = make_records(N_FIXTURE_PAGES, seed=42)
    got = {r["DFK"]: r.asDict() for r in records.collect()}
    assert len(got) == N_FIXTURE_PAGES
    for rec in src:
        row = got[rec["DFK"]]
        for field, val in rec.items():
            if isinstance(val, list):
                assert row[field] == [clean(v) for v in val], (rec["DFK"], field)
            else:
                assert row[field] == clean(val), (rec["DFK"], field)
        # absent fields must be NULL
        for field, parsed in row.items():
            if field in ("url", "warc_ts", "page_lang"):
                continue
            if field not in rec:
                assert parsed is None, (rec["DFK"], field, parsed)


def test_text_byte_identical_per_url(spark, pages):
    """BASELINE.json per-row invariant: text re-extracted from html ==
    stored text, byte for byte, for every url."""
    mismatches = (
        pages.withColumn("re_text", text_from_html(F.col("html")))
        .filter(
            (F.col("re_text").isNull())
            | (F.encode("re_text", "utf-8") != F.encode("text", "utf-8"))
        )
        .count()
    )
    assert mismatches == 0


def test_kill_list_anti_join(spark, records, fixture_dir):
    bad = spark.read.parquet(f"{fixture_dir}/bad_ids.parquet")
    n_bad = bad.count()
    kept = filter_bad_ids(records, bad)
    assert kept.count() == N_FIXTURE_PAGES - n_bad
    assert kept.join(bad.withColumnRenamed("dfk", "DFK"), "DFK", "inner").count() == 0
