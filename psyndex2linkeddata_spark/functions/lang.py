"""F4/F5 — language handling.

F4 `get_langtag_from_field` (/root/reference/modules/helpers.py:330-374):
language-name variants → (2-letter tag, LoC iso639-2 code). Implemented as a
literal map expression (create_map)[col] — no join, no UDF.

F5 `guess_language` (/root/reference/modules/helpers.py:159-165) wraps the
langid classifier. langid isn't in this environment; the engine's stand-in is
a deterministic stopword-ratio n-gram heuristic over de/en (the corpus'
languages), implemented natively with regexp counts — same call surface.
"""

from __future__ import annotations

from itertools import chain

from pyspark.sql import Column, functions as F

# variant spelling → (tag2, iso3), mirroring helpers.py:336-374
LANG_VARIANTS: dict[str, tuple[str, str]] = {}
for variants, tags in [
    (("german", "de", "GERM", "Deutsch", "GERMAN", "GERMaN", "German", "Fi"), ("de", "ger")),
    (("en", "ENGL", "ENGLISH", "Englisch", "English", "English; English", "english"), ("en", "eng")),
    (("BULG", "Bulgarian"), ("bg", "bul")),
    (("SPAN", "Spanish"), ("es", "spa")),
    (("Dutch",), ("nl", "dut")),
    (("CZEC",), ("cs", "ces")),
    (("FREN", "French"), ("fr", "fra")),
    (("ITAL", "Italian"), ("it", "ita")),
    (("PORT", "Portuguese"), ("pt", "por")),
    (("JAPN", "Japanese"), ("jp", "jpn")),
    (("HUNG",), ("hu", "hun")),
    (("RUSS", "Russian"), ("ru", "rus")),
    (("NONE", "Silent"), ("zxx", "zxx")),
]:
    for v in variants:
        LANG_VARIANTS[v] = tags


def _lang_map(index: int) -> Column:
    return F.create_map(
        *chain.from_iterable(
            (F.lit(k), F.lit(v[index])) for k, v in LANG_VARIANTS.items()
        )
    )


def langtag3(col: Column) -> Column:
    """F4[1]: three-letter LoC iso639-2 code; 'und' if unknown."""
    return F.coalesce(_lang_map(1)[col], F.lit("und"))


# --- F5: language-ID heuristic (engine stand-in for langid) -----------------

_DE_STOPWORDS = ["der", "die", "das", "und", "nicht", "von", "mit", "für", "eine", "wurden", "werden", "bei", "im", "des", "zwischen"]
_EN_STOPWORDS = ["the", "and", "of", "in", "to", "was", "were", "with", "for", "a", "is", "are", "this", "that", "from"]


def _stopword_hits(col: Column, words: list[str]) -> Column:
    pattern = r"(?i)\b(" + "|".join(words) + r")\b"
    return F.size(F.regexp_extract_all(F.coalesce(col, F.lit("")), F.lit(pattern), F.lit(0)))


def guess_language(col: Column) -> Column:
    """Deterministic de/en classifier: stopword-hit majority, 'en' on ties
    with any evidence, 'und' with none. Pure column expression."""
    de = _stopword_hits(col, _DE_STOPWORDS)
    en = _stopword_hits(col, _EN_STOPWORDS)
    return (
        F.when(de > en, F.lit("de"))
        .when(en > 0, F.lit("en"))
        .otherwise(F.lit("und"))
    )
