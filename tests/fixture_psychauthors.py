"""Deterministic synthetic psychauthors kerndaten corpus, the fixture of
the psychauthors reference-execution gate.

The reference's psychauthors converter (other_conversions/psychauthors/
convert_psychauthors_rdf.py) reads one CSV dump of the person authority
database (psychauthors.kerndaten.csv) and emits one schema:Person per
row. This generator produces the corpus in both shapes the gate needs —
the CSV the reference's own converter parses (executed offline via
tools/refexec/run_psychauthors.py) and the record list the Spark emitter
(emit/psychauthors.py) consumes — from one list, so both engines read
identical data.

Coverage is chosen to hit every branch of the reference converter:
given names with/without initials, birth names (variant-name nodes),
gender "Herr"/"Frau"/""(→unknown)/other (the converter's loop variable
is NOT reset, so an unmatched value inherits the PREVIOUS record's
gender — one such record is generated mid-corpus), birthdates incl. the
"1000-01-01" placeholder the converter skips, emails incl. the
"zpid@zpid.de" placeholder it skips, 0-2 website URLs, ORCID present/
absent, award lists ("\\r"-separated inside one CSV field, with/without
leading "-", with/without a detectable year), qualification lists
exercising the degree_lookup LAST-match-wins scan (incl. a string
matching two degree levels), the college_lookup scan (incl. a two-
college string where the later table entry wins), the no-college → ROR
API arm (offline → no college emitted), and the "titel" integer that
indexes academic_titles BY LIST POSITION (not by its "number" key),
incl. out-of-range and non-numeric values the converter's except
swallows.

Determinism: record i is derived from f"{seed}:{i}" only.
"""

from __future__ import annotations

import csv
import hashlib
import random

from psyndex2linkeddata_spark.datagen.psychauthors import KERNDATEN_FIELDS

_FAMILY = ["Müller", "Schulze-Darup", "Weber", "Fischer", "Brandt", "Koch"]
_GIVEN = ["Hans", "Anna", "Karl", "Ute", "Jürgen", "Ines"]
_GEB_NAMES = ["Schneider", "Hoffmann"]

# geschlecht cycle: "" → unknown; "divers" exercises the converter's
# unreset loop variable (inherits the previous record's gender)
_GENDER = ["Herr", "Frau", "", "Frau", "divers", "Herr"]

_BIRTHDATES = ["1975-03-14", "", "1000-01-01", "1962-11-02"]
_EMAILS = ["", "a.mueller@example.org", "zpid@zpid.de", "i.koch@example.net"]
_URLS = [
    ("https://example.org/~mueller", ""),
    ("", ""),
    ("https://example.net/lab", "https://osf.io/abcde"),
]

# award list-strings; "\r"-separated inside ONE CSV field (quoted)
_AWARDS = [
    "- Early Career Award der Fachgesellschaft 2011\rPreis für gute Lehre",
    "",
    "Forschungspreis 08.06.2004",
    "Stipendium ohne Jahresangabe",
]
_INT_AWARDS = [
    "Fellow seit 14 October 2021",
    "",
    "- International Mentoring Award 1998\r",
]

# qualification list-strings; branch notes in the module docstring
_QUALS = [
    "Promotion an der Universität Trier 1999",
    "Habilitation Universität Würzburg 2005\rDiplom in Psychologie, FU Berlin, 1992",
    "Approbation als Psychotherapeut 2001",
    "",
    "Master und Promotion, Universität Trier und Philipps-Universität Marburg 2010",
    "Weiterbildung ohne Abschluss",
]

# titel ints index academic_titles BY POSITION; 500 is out of range
# (IndexError → no triple), "" is non-numeric (ValueError → no triple)
_TITEL = ["0", "3", "", "7", "500", "15"]


def _rng(seed: int, i: int) -> random.Random:
    h = hashlib.sha1(f"{seed}:{i}".encode()).digest()
    return random.Random(int.from_bytes(h[:8], "big"))


def psychauthor_records(n: int = 36, seed: int = 11) -> list[dict]:
    """n synthetic kerndaten rows (all values str, as csv.DictReader
    yields them)."""
    records = []
    for i in range(n):
        r = _rng(seed, i)
        rec = {k: "" for k in KERNDATEN_FIELDS}
        rec["id"] = str(100 + i)
        rec["code"] = f"p{20000 + i * 7:05d}{chr(65 + i % 26)}{chr(65 + (i * 3) % 26)}"
        rec["nachname"] = _FAMILY[i % len(_FAMILY)] if i % 11 != 9 else ""
        rec["vorname"] = _GIVEN[i % len(_GIVEN)] if i % 13 != 8 else ""
        if i % 4 == 1:
            rec["initial"] = f"{chr(65 + (i * 5) % 26)}."
        if i % 6 == 3:
            rec["geb_name"] = _GEB_NAMES[i % len(_GEB_NAMES)]
        rec["geschlecht"] = _GENDER[i % len(_GENDER)]
        rec["geb_tag"] = _BIRTHDATES[i % len(_BIRTHDATES)]
        rec["email"] = _EMAILS[i % len(_EMAILS)]
        rec["url1"], rec["url2"] = _URLS[i % len(_URLS)]
        if i % 3 != 2:
            rec["orcid"] = f"0000-000{1 + i % 3}-{1000 + i * 13:04d}-{(i * 37) % 10000:04d}"
        rec["auszeichnung"] = _AWARDS[i % len(_AWARDS)]
        rec["int_auszeichnung"] = _INT_AWARDS[i % len(_INT_AWARDS)]
        rec["qualifikation"] = _QUALS[i % len(_QUALS)]
        rec["titel"] = _TITEL[i % len(_TITEL)]
        records.append(rec)
    return records


def write_kerndaten_csv(path: str, records: list[dict]) -> None:
    """The CSV dump shape convert_psychauthors_rdf.py parses with
    csv.DictReader (award/qualification lists are "\\r"-separated inside
    quoted fields)."""
    with open(path, "w", newline="", encoding="utf-8") as f:
        w = csv.DictWriter(f, fieldnames=list(KERNDATEN_FIELDS))
        w.writeheader()
        for rec in records:
            w.writerow(rec)
