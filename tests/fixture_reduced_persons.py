"""Deterministic synthetic reduced-persons corpus, the fixture of the
reduced-persons reference-execution gate.

The reference's reduced-persons converter (other_conversions/persons/
other_persons/convert_reduced_persons.py) reads one TAB-separated CSV
(personen_uuid.csv: uuid, isPsych, Nachname, GND, Vorname, GND_Var,
Varianten, ORCID, PsychAuthorsID) and emits one schema:Person+bf:Person
per row. This generator produces the corpus in both shapes the gate
needs — the CSV the reference's own converter parses (executed offline
via tools/refexec/run_reduced_persons.py) and the record list the Spark
emitter (emit/reduced_persons.py) consumes.

Coverage per converter branch: base58 person URIs from uuid5-derived
UUIDs; empty given/family names (the prefname node is added
unconditionally, with empty literals); GND_Var and Varianten lists
(";"-separated) incl. a variant duplicated across both lists (set
dedup), a variant equal to the preferred "Nachname, Vorname" string
(removed), a variant without ", " (the IndexError arm → empty given
name), and a two-comma variant (everything after the second ", " is
dropped); multi-variant persons whose ``#varname_{i}`` numbering
exercises the hash-seed-pinned set ordering; ORCIDs valid / checksum-X /
format-invalid / empty; PsychAuthorsIDs valid (p0 + 4 digits + 2
capitals) / format-invalid / empty; GND ids present/absent (never
validated); isPsych Y/N/U/"" (only Y/N emit the xsd:boolean triple).

Determinism: record i is derived from f"{seed}:{i}" only.
"""

from __future__ import annotations

import csv
import uuid as uuidlib

from psyndex2linkeddata_spark.datagen.reduced_persons import PERSONEN_FIELDS

_FAMILY = ["Aach", "Bergmann", "Castillo-Nunez", "Dietrich", "Evers", ""]
_GIVEN = ["Mirko", "Sabine", "José", "", "Karl-Heinz", "Yu"]
_IS_PSYCH = ["Y", "N", "U", "", "Y"]

# (GND_Var, Varianten) list-string pairs; branch notes in the docstring.
# "{pref}" is replaced with the record's preferred "Nachname, Vorname".
_VARIANTS = [
    ("", ""),
    ("Aach, M.", ""),
    ("Bergmann, S.;Bergman, Sabine", "Bergman, Sabine;{pref}"),
    ("", "Castillo, José;Castillo Nunez, José;CastilloNunez"),
    ("Dietrich, Karl, Heinz;Dietrich, K.-H.", "Dietrich, K. H."),
]

_ORCIDS = ["0000-0002-9333-5912", "", "0000-0001-5109-373X", "12345", "0000-0003-1234-5678"]
_PAIDS = ["", "p00775PG", "p07407ML", "p2345XY", ""]
_GNDS = ["134173937", "", "118540238", ""]


def reduced_person_records(n: int = 30, seed: int = 13) -> list[dict]:
    """n synthetic personen_uuid rows (all values str)."""
    records = []
    for i in range(n):
        rec = {k: "" for k in PERSONEN_FIELDS}
        rec["uuid"] = str(
            uuidlib.uuid5(uuidlib.NAMESPACE_URL, f"zpid-person:{seed}:{i}")
        )
        rec["isPsych"] = _IS_PSYCH[i % len(_IS_PSYCH)]
        rec["Nachname"] = _FAMILY[i % len(_FAMILY)]
        rec["Vorname"] = _GIVEN[i % len(_GIVEN)]
        pref = rec["Nachname"] + ", " + rec["Vorname"]
        gnd_var, local_var = _VARIANTS[i % len(_VARIANTS)]
        rec["GND_Var"] = gnd_var.replace("{pref}", pref)
        rec["Varianten"] = local_var.replace("{pref}", pref)
        rec["ORCID"] = _ORCIDS[i % len(_ORCIDS)]
        rec["PsychAuthorsID"] = _PAIDS[i % len(_PAIDS)]
        rec["GND"] = _GNDS[i % len(_GNDS)]
        records.append(rec)
    return records


def write_personen_csv(path: str, records: list[dict]) -> None:
    """The TAB-separated dump shape convert_reduced_persons.py parses."""
    with open(path, "w", newline="", encoding="utf-8") as f:
        w = csv.DictWriter(f, fieldnames=list(PERSONEN_FIELDS), delimiter="\t")
        w.writeheader()
        for rec in records:
            w.writerow(rec)
