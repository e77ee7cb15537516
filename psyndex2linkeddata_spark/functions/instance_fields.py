"""F14 — ISSN normalization as a column expression (the reference's
check_issn_format, modules/helpers.py:308-322; its validation step is a
test reference in tests/test_functions.py).

The page (F12), series (F13), email (F17) and ORCID (F18) parsers run
only inside the Arrow emit kernel (emit/arrow.py).
"""

from __future__ import annotations

from pyspark.sql import Column, functions as F

from psyndex2linkeddata_spark.functions.cleaning import clean_text


def normalize_issn(col: Column) -> Column:
    """F14 normalization: strip, upper, ^DD-clean, ^DDS→'-'."""
    s = clean_text(F.upper(F.trim(col)))
    return F.regexp_replace(s, r"\^DDS", "-")
