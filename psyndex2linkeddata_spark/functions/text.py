"""F10 — title casing (the reference's modules/helpers.py:95-154).

Stop-word title casing is genuinely procedural: `_title_one` is the
Python port the emit kernel calls (emit/arrow.py: the TESTG long names
in `testg_long`, which the emit and the mention pass both read).

F11 camel case, F24/F25 the ToC and licensing-note splits, F26 the
translated-title parse and F27 the full-title concat run only inside the
Arrow emit kernel (emit/arrow.py).
"""

from __future__ import annotations

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
