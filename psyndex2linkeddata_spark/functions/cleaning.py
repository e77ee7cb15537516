"""F1/F2/P3/P4 — character cleaning and STAR subfield extraction.

Reference semantics (reimplemented, not copied):
- F1 replace_encodings: ordered literal replacement over the 120-entry ^DD
  table (/root/reference/modules/mappings.py:1-6); here a chain of native
  `F.replace` calls in table order → stays in the JVM / codegen.
- F2 html.unescape applied after F1 everywhere
  (/root/reference/modules/helpers.py:35,91). The native expression covers
  the HTML entities that occur in practice; the emit kernel's
  clean_text (emit/arrow.py) applies the same table in Python.
- P3 get_mainfield / P4 get_subfield (/root/reference/modules/helpers.py:17-93):
  collapse multi-spaces, strip, split on `|x`, cut at next `|`, clean, NULL if
  empty — all as column expressions.
"""

from __future__ import annotations

import re

from pyspark.sql import Column, functions as F

from psyndex2linkeddata_spark.data.tables import dd_codes

# Named/numeric HTML entities covered natively. Anything beyond this set
# stays escaped in a Column-expression caller.
_BASIC_ENTITIES = [
    ("&amp;", "&"), ("&lt;", "<"), ("&gt;", ">"), ("&quot;", '"'),
    ("&#39;", "'"), ("&#x27;", "'"), ("&apos;", "'"), ("&#34;", '"'),
    ("&#x22;", '"'), ("&nbsp;", "\xa0"),
    ("&auml;", "ä"), ("&ouml;", "ö"), ("&uuml;", "ü"),
    ("&Auml;", "Ä"), ("&Ouml;", "Ö"), ("&Uuml;", "Ü"), ("&szlig;", "ß"),
    ("&ndash;", "–"), ("&mdash;", "—"), ("&eacute;", "é"), ("&egrave;", "è"),
    ("&agrave;", "à"), ("&ccedil;", "ç"), ("&hellip;", "…"),
]


def replace_encodings(col: Column) -> Column:
    """F1: ordered ^DD-code replacement, byte-exact vs the reference table."""
    out = col
    for raw, repl in dd_codes:
        out = F.replace(out, F.lit(raw), F.lit(repl))
    return out


def unescape_basic(col: Column) -> Column:
    """F2 (native tier): common named entities + `&amp;` LAST like the
    reference's html.unescape is single-pass (so `&amp;ouml;` stays literal —
    html.unescape does the same: longest match, single pass)."""
    out = col
    for raw, repl in _BASIC_ENTITIES:
        if raw == "&amp;":
            continue
        out = F.replace(out, F.lit(raw), F.lit(repl))
    out = F.replace(out, F.lit("&amp;"), F.lit("&"))
    return out


def clean_text(col: Column) -> Column:
    """F1 + F2 in reference order: html.unescape(replace_encodings(x))."""
    return unescape_basic(replace_encodings(col))


def collapse_spaces(col: Column) -> Column:
    """Reference preamble of every field accessor: collapse 2+ spaces, strip."""
    return F.trim(F.regexp_replace(col, " {2,}", " "))


def nullif_empty(col: Column) -> Column:
    return F.when(F.length(F.trim(col)) > 0, F.trim(col))


def get_mainfield(col: Column, clean: bool = True) -> Column:
    """P3: content before the first `|` (or whole string), cleaned, NULL if empty.

    Mirrors /root/reference/modules/helpers.py:73-93.
    """
    collapsed = collapse_spaces(col)
    main = F.trim(F.try_element_at(F.split(collapsed, r"\|", 2), F.lit(1)))
    main = clean_text(main) if clean else main
    return nullif_empty(main)


def get_subfield(col: Column, name: str, clean: bool = True) -> Column:
    """P4: content of `|name …` up to the next `|`, cleaned, NULL if missing/empty.

    Mirrors /root/reference/modules/helpers.py:17-37 (split on the literal
    `|name`, take segment 2 — i.e. between the first and second occurrence —
    then cut at the next `|`).
    """
    collapsed = collapse_spaces(col)
    marker = re.escape(f"|{name}")
    after = F.try_element_at(F.split(collapsed, marker, 3), F.lit(2))
    value = F.trim(F.try_element_at(F.split(F.trim(after), r"\|", 2), F.lit(1)))
    value = clean_text(value) if clean else value
    return F.when(collapsed.contains(f"|{name}"), nullif_empty(value))
