"""F10/F27 — text-shaping functions.

- F10 title casing (the reference's modules/helpers.py:95-154): stop-word
  title casing — genuinely procedural: `_title_one` is the Python port the
  emit kernel calls, `title_except_if_upper_arr` its Arrow pandas-UDF
  tier for repeated fields.
- F27 full-title concat (convert_starxml_to_bf.py:638-640).

camel_case (F11), the ToC and licensing-note splits (F24, F25) and the
translated-title parse (F26) run only inside the Arrow emit kernel
(emit/arrow.py).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column, functions as F
from pyspark.sql.functions import pandas_udf

_TITLE_STOPWORDS = [
    "und", "bis", "zu", "zum", "von", "der", "die", "das", "des", "dem",
    "einer", "eines", "einem", "einen", "nach", "für", "mit", "in", "auf",
    "an", "bei", "über", "vor", "vom", "unter", "zwischen", "and", "for",
]
_ALLCAPS_EXCEPTIONS = ["WHO", "HEXACO", "DSM-III-R", "DSM-IV", "ICD-10", "ICD-11", "III", "D"]


def _title_one(text):
    """Behavioral port of the reference's helpers.title_except:95-154
    (whitespace split drops empties; hyphenated tokens are matched
    against multi-part ALLCAPS exceptions longest-first, remaining parts
    title-cased — parts after the first are treated as word-initial)."""
    if text is None:
        return None
    stop = set(_TITLE_STOPWORDS)
    allcaps = _ALLCAPS_EXCEPTIONS

    def cap(word, is_first):
        if word in allcaps:
            return word
        if is_first or word.lower() not in stop:
            return word.title()
        return word.lower()

    def token(tok, is_first):
        if tok in allcaps:
            return tok
        parts = tok.split("-")
        out, i = [], 0
        while i < len(parts):
            matched = False
            for exc in sorted(allcaps, key=len, reverse=True):
                ep = exc.split("-")
                if parts[i : i + len(ep)] == ep:
                    out.append(exc)
                    i += len(ep)
                    matched = True
                    break
            if not matched:
                out.append(cap(parts[i], is_first or i > 0))
                i += 1
            is_first = False
        return "-".join(out)

    return " ".join(
        w if w in allcaps else token(w, i == 0)
        for i, w in enumerate(text.split())
    )


def _title_except_if_upper_arr_fn(s: pd.Series) -> pd.Series:
    def _arr(values):
        if values is None:
            return None
        # reference gate: `if longName and longName.isupper()` — Python
        # semantics (at least one cased char, all of them uppercase)
        return [
            _title_one(v) if v is not None and v.isupper() else v for v in values
        ]

    return s.map(_arr)


def title_except_if_upper_arr(col: Column) -> Column:
    """Array tier of F10 for repeated fields (pandas UDFs can't run inside
    higher-order-function lambdas): title-case each element that Python's
    str.isupper() flags as ALL-CAPS, pass others through unchanged
    (research_info.py:1434-1437)."""
    return pandas_udf(_title_except_if_upper_arr_fn, "array<string>")(col)


# reference abstract.py:149 — no DOTALL (a multi-line abstract never
# splits) and optional space before the colon
TOC_RE = r"^(.*)[-–]\s*(Contents|Inhalt)\s*:\s*(.*)$"


_DEEPL_RE = r"(?is)^(.*)\s\((translated by DeepL)\)$"
_COPYRIGHT_RE = r"(?is)^(.*)(\(c\).*)$"


_TRANS_TITLE_DEEPL_RE = r"(?s)^(.*)\s*\((DeepL)\)\s*$"


def full_title(ti: Column, tiu: Column) -> Column:
    """F27: main title + '. ' + subtitle when present
    (convert_starxml_to_bf.py:638-640)."""
    return F.when(
        tiu.isNotNull() & (F.length(tiu) > 0), F.concat(ti, F.lit(". "), tiu)
    ).otherwise(ti)
