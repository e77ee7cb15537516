"""Deterministic synthetic journal-authority corpus (serials/journals
sub-conversion), the fixture of the journals reference-execution gate.

The reference's journal converter
(/root/reference/other_conversions/serials_journals/journal_convert.py)
reads a STAR journal XML export (Record elements with JTC/JTTI/JTUT/…
tags), two CSV lookups (jtc_uuid_lookup.csv: JTC→series-cluster UUID;
review_lookup.csv: JTC→review policy), and emits one bf:Hub per journal.
This generator produces a small corpus in BOTH shapes the gate needs —
the XML file the reference's own converter parses (executed offline via
tools/refexec/run_journals.py) and the parquet/rows the Spark emitter
(emit/journals.py) consumes — from one record list, so the two engines
read identical data.

Coverage is chosen to hit every branch of the reference converter:
broken-hex titles (#e22 → é …), subtitles / variant titles, LISSN
valid / fixable-broken / unfixable / absent (absent + both ISSNs →
print-as-ISSNL fallback after the stubbed OpenAlex 503), every
create_versions arm that ASSIGNS (both-different, identical+1MT,
identical+2MT, print-only±MT2, online-only±MT2, no-ISSN media-type
arms incl. the reference's `or`-precedence arm where MT1 = "Online
Medium" with a second media type still yields BOTH versions), JTAT
A/B/C/D/X/"X<suffix>"/absent, JTRVK present/absent with and without a
review_lookup row, repeated JTRV / none (exercising the reference's
CROSS-RECORD carry-over of review_note and screening_note — its Journal
instance is reused mutable state), JTEW/JTPR/JTQU/JTBN combinations,
VERL with |z imprint and |o place, repeated HS editors with |v/|i,
repeated KHS bodies with |o/|2/|3, JTOR, ASHN, and the skipped JTC
codes (4884/5033/5092). Arms the reference does NOT assign in (e.g.
identical ISSNs with no media type, which silently reuses the previous
record's versions) are deliberately not generated — the quirk is
documented in emit/journals.py.

Determinism: record i is derived from f"{seed}:{i}" only.
"""

from __future__ import annotations

import csv
import hashlib
import os
import random
import uuid as uuidlib
from xml.sax.saxutils import escape

from psyndex2linkeddata_spark.datagen.journals import (
    JOURNAL_FIELDS_REPEATED,
    JOURNAL_FIELDS_SCALAR,
)

SKIPPED_JTCS = ("4884", "5033", "5092")

_TITLES_EN = [
    "Journal of Applied Psychology",
    "Cognition and Emotion Review",
    "The Open Psychology Bulletin",
    "Developmental Science Quarterly",
    "Clinical Assessment Methods",
    # "splittable" shapes (testing/sparql/splittable_titles.rq flags
    # titles containing "/", " - ", "(", or ". " as split candidates)
    "Methods in Measurement - Reports and Reviews (MMRR)",
]
_TITLES_DE = [
    "Zeitschrift für die Psychologie und ihre Anwendungen",
    "Praxis der Klinischen Psychologie",
    "Bericht über die Entwicklung der Diagnostik",
    "Zeitschrift für Arbeits- und Organisationspsychologie",
    "Diagnostik heute. Verfahren und Praxis",
]
_SUBTITLES = [
    "An International Review",
    "Organ der Gesellschaft für Psychologie",
    None,
    None,
]
_PUBLISHERS = [
    "Hogrefe |o Göttingen",
    "Springer |z Nature |o Berlin",
    "Beltz",
    "Elsevier |o Amsterdam",
]
_EDITORS = [
    "Müller |v Hans |i Universität Trier",
    "Smith |v Jane",
    "Schulze-Darup |v Karl",
]
_BODIES = [
    "Deutsche Gesellschaft für Psychologie |o Berlin",
    "APA |2 Division 12 |3 Clinical Section",
    "ZPID |o Trier",
]
_CATALOGERS = ["Anna Test", "B. Probe", None]

# (LISSN value or None, present) cycling cases; "1873-425" is in the
# reference's broken_issn_replacements (→1873-4251); "123" is unfixable
_LISSN_CASES = ["2190-8370", "1873-425", "123", None, " 0033-3042 ", None]

# (ISSN, EISSN, MT, MT2) arms of create_versions that assign
_VERSION_CASES = [
    ("0001-8244", "1573-3297", "Print", "Online Medium"),  # both differ
    ("2491-1011", "2491-1011", "Print", None),             # identical, 1 MT → online only
    ("2625-3089", "2625-3089", "Print", "Online Medium"),  # identical, 2 MTs → both
    ("0012-1924", None, "Print", None),                    # print only
    ("0012-1924", None, "Print", "Online Medium"),         # print only + MT2 → both
    (None, "2191-9186", "Online Medium", None),            # online only... but MT arms don't matter when issn exists
    (None, "2191-9186", "Print", "Online Medium"),         # online only + 2 MTs → both
    (None, None, "Print", "Online Medium"),                # no issn → both
    (None, None, "Online Medium", "Print"),                # no issn, or-precedence arm → [online, print]
    (None, None, "Print", None),                           # no issn → print
    (None, None, "Open Access", None),                     # no issn → online
    ("1873-425", "17511917", "Print", "Online Medium"),    # both broken-fixable
]

_JTAT_CASES = ["A", "B", "C", "D", "X", "XB weitergeführt 2019", None, "A"]
_JTRV_CASES = [[], ["o."], ["peer reviewed lt. Verlag", "Zusatz"], []]


def _rng(seed: int, i: int) -> random.Random:
    h = hashlib.sha1(f"{seed}:{i}".encode()).digest()
    return random.Random(int.from_bytes(h[:8], "big"))


def journal_uuid(jtc: str) -> str:
    return str(uuidlib.uuid5(uuidlib.NAMESPACE_URL, "zpid-journal:" + jtc))


def journal_records(n: int = 40, seed: int = 7) -> list[dict]:
    """n synthetic journal records (dict of scalar str / list values).
    A few records carry the reference's hard-skipped JTC codes."""
    records = []
    for i in range(n):
        r = _rng(seed, i)
        rec: dict = {k: None for k in JOURNAL_FIELDS_SCALAR}
        rec.update({k: [] for k in JOURNAL_FIELDS_REPEATED})
        if i in (5, 17):  # the reference skips these codes entirely
            rec["JTC"] = SKIPPED_JTCS[i % len(SKIPPED_JTCS)]
        else:
            rec["JTC"] = f"{1000 + i:04d}"

        if i % 13 != 7:  # some records have no title at all
            pool = _TITLES_DE if i % 3 == 0 else _TITLES_EN
            base = pool[i % len(pool)]
            if i % 9 == 2:  # broken hex codes the converter repairs
                base = base.replace("für", "f#e22r") if "für" in base else base + " #e25"
            rec["JTTI"] = base
            sub = _SUBTITLES[i % len(_SUBTITLES)]
            if sub and i % 2 == 0:
                rec["JTUT"] = sub
            if i % 4 == 1:
                rec["JTPT"] = "Variant: " + base[:24]

        rec["LISSN"] = _LISSN_CASES[i % len(_LISSN_CASES)]
        issn, eissn, mt, mt2 = _VERSION_CASES[i % len(_VERSION_CASES)]
        rec["ISSN"], rec["EISSN"], rec["MT"], rec["MT2"] = issn, eissn, mt, mt2

        rec["JTAT"] = _JTAT_CASES[i % len(_JTAT_CASES)]
        if i % 5 == 0:
            rec["JTRVK"] = "Reviewed"
        rec["JTRV"] = list(_JTRV_CASES[i % len(_JTRV_CASES)])
        if i % 3 == 1:
            rec["JTEW"] = f"{1 + r.randrange(6)} Hefte p.a."
        if i % 4 == 2:
            rec["JTPR"] = f"EUR {20 + r.randrange(200)} p.a."
        if i % 6 == 3:
            rec["JTQU"] = str(1 + r.randrange(3))
        if i % 5 == 2:
            rec["JTBN"] = "Fr#e22her unter anderem Titel erschienen." if i % 2 else \
                "Erscheint seit 1970."
        rec["VERL"] = _PUBLISHERS[i % len(_PUBLISHERS)] if i % 7 != 6 else None
        rec["ASHN"] = _CATALOGERS[i % len(_CATALOGERS)]
        rec["HS"] = _EDITORS[: i % (len(_EDITORS) + 1)]
        rec["KHS"] = _BODIES[: i % (len(_BODIES) + 1)]
        if i % 8 == 4:
            rec["JTOR"] = "Fachgruppe Methoden |o Mannheim"
        records.append(rec)
    return records


def write_journals_xml(path: str, records: list[dict]) -> None:
    """The STAR export shape journal_convert.py parses with ElementTree."""
    lines = ["<?xml version='1.0' encoding='UTF-8'?>", "<Journals>"]
    for rec in records:
        lines.append("  <Record>")
        for k in JOURNAL_FIELDS_SCALAR:
            v = rec.get(k)
            if v is not None:
                lines.append(f"    <{k}>{escape(v)}</{k}>")
        for k in JOURNAL_FIELDS_REPEATED:
            for v in rec.get(k) or []:
                lines.append(f"    <{k}>{escape(v)}</{k}>")
        lines.append("  </Record>")
    lines.append("</Journals>")
    with open(path, "w", encoding="utf-8") as f:
        f.write("\n".join(lines))


def write_journal_lookups(dirpath: str, records: list[dict]) -> None:
    """jtc_uuid_lookup.csv for every JTC; review_lookup.csv for SOME
    (every third journal is absent → the converter's 'unknown' arm)."""
    with open(os.path.join(dirpath, "jtc_uuid_lookup.csv"), "w", newline="") as f:
        w = csv.writer(f)
        w.writerow(["JTC", "UUID"])
        for rec in records:
            w.writerow([rec["JTC"], journal_uuid(rec["JTC"])])
    policies = ["peerreviewed", "editorreviewed", "unreviewed", "unknown"]
    with open(os.path.join(dirpath, "review_lookup.csv"), "w", newline="") as f:
        w = csv.writer(f)
        w.writerow(["JTC", "RV"])
        for j, rec in enumerate(records):
            if j % 3 != 2:
                w.writerow([rec["JTC"], policies[j % len(policies)]])
