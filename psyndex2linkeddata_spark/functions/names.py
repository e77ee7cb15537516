"""Person/country name helpers as native column expressions.

- ascii_umlauts: umlaut→ascii (the reference's normalize_names,
  modules/contributions.py:764-784), used by the fuzzy name matcher.
- casefold_compat: Python str.casefold() over Latin-script text, the key
  of the geonames first-match lookup (F7, helpers.py:378-382).

Country-name repair (F6) and the family/given split (F8) run only inside
the Arrow emit kernel (emit/arrow.py).
"""

from __future__ import annotations

from pyspark.sql import Column, functions as F

def ascii_umlauts(col: Column) -> Column:
    out = col
    for raw, rep in [("ä", "ae"), ("ö", "oe"), ("ü", "ue"), ("Ä", "Ae"), ("Ö", "Oe"), ("Ü", "Ue"), ("ß", "ss")]:
        out = F.replace(out, F.lit(raw), F.lit(rep))
    return out


# Python str.casefold() expansions JVM lower() lacks, restricted to the
# Latin-script set that can appear in this pipeline's German/English
# data (ß plus the 15 BMP chars whose casefold maps into a-z: the
# ligatures ff/fi/fl/ffi/ffl/st, long s, and the precomposed-with-mark
# set — derived from casefold itself so the expansions are exact).
# Non-Latin casefold differences (Greek final sigma, Armenian
# ligatures, …) are outside the reference's input domain.
_CASEFOLD_COMPAT = tuple(
    (c, c.casefold()) for c in "ßŉſǰẖẗẘẙẚﬀﬁﬂﬃﬄﬅﬆ"
)


def casefold_compat(col: Column) -> Column:
    """JVM equivalent of Python ``str.casefold()`` over Latin-script
    text — the reference compares with casefold (helpers.py:380,
    publication_types.py:379-391), and ``F.lower`` alone keeps ß and
    ligatures that casefold expands (``'Rußland'.casefold()`` is
    ``'russland'``)."""
    c = F.lower(col)
    for a, b in _CASEFOLD_COMPAT:
        c = F.replace(c, F.lit(a), F.lit(b))
    return c
