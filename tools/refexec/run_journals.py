"""Execute the reference's journals sub-converter
(/root/reference/other_conversions/serials_journals/journal_convert.py)
offline over a synthetic STAR journal XML corpus and dump its triple set.

Same technique as run_reference.py (the round-4 reference-exec oracle):
the reference's OWN code runs with its network/caching dependencies
stubbed (tools/refexec/shims — the requests_cache stand-in returns 503,
forcing the deterministic no-API degrade path through the OpenAlex
ISSN-L fallback and the DOAJ access/review enrichment; the langid
stand-in is the declared stopword classifier both sides share), over an
XML file + jtc_uuid_lookup.csv + review_lookup.csv the caller provides
(tests/fixture_journals.py generates all three).

Usage:
    python tools/refexec/run_journals.py OUT.tsv JOURNALS.xml LOOKUP_DIR

Output TSV columns: subj, pred, obj, kind(iri|lit|bnode), lang, dtype.
"""

from __future__ import annotations

import os
import shutil
import sys
import tempfile

REFERENCE = os.environ.get("SPARK_GRAFT_REFERENCE", "/root/reference")
JOURNALS_DIR = os.path.join(REFERENCE, "other_conversions", "serials_journals")
SHIMS = os.path.join(os.path.dirname(os.path.abspath(__file__)), "shims")


def run(journals_xml: str, lookup_dir: str):
    """Import-execute journal_convert.py in an isolated workdir; return
    its journals_graph."""
    workdir = tempfile.mkdtemp(prefix="refexec_journals_")
    os.makedirs(os.path.join(workdir, "logs"), exist_ok=True)
    os.makedirs(os.path.join(workdir, "XML_source"), exist_ok=True)
    os.makedirs(os.path.join(workdir, "ttl-data"), exist_ok=True)
    # the converter hardcodes this source filename
    shutil.copy(
        journals_xml,
        os.path.join(workdir, "XML_source", "journals-241204_095941.xml"),
    )
    for csv_name in ("jtc_uuid_lookup.csv", "review_lookup.csv"):
        shutil.copy(os.path.join(lookup_dir, csv_name), os.path.join(workdir, csv_name))
    shutil.copy(
        os.path.join(JOURNALS_DIR, "journal_convert.py"),
        os.path.join(workdir, "journal_convert.py"),
    )
    # modules.contributions parses ttl-data/kerndaten.ttl at import
    with open(os.path.join(workdir, "ttl-data", "kerndaten.ttl"), "w") as f:
        f.write("")

    os.environ.setdefault("SKOSMOS_URL", "https://offline.invalid/skosmos")
    os.environ.setdefault("SKOSMOS_USER", "offline")
    os.environ.setdefault("SKOSMOS_PASSWORD", "offline")
    os.environ.setdefault("ROR_API_URL", "https://offline.invalid/ror")
    os.environ.setdefault("ANNIF_API_URL", "https://offline.invalid/annif")
    os.environ.setdefault("CROSSREF_API_URL", "https://offline.invalid/crossref")
    os.environ.setdefault("CROSSREF_FRIENDLY_MAIL", "offline@offline.invalid")

    sys.path.insert(0, REFERENCE)  # modules.helpers / modules.contributions
    sys.path.insert(0, SHIMS)
    sys.path.insert(0, workdir)
    cwd = os.getcwd()
    os.chdir(workdir)
    try:
        import journal_convert  # noqa: F401 — module-level run

        return journal_convert.journals_graph
    finally:
        os.chdir(cwd)
        for p in (workdir, REFERENCE, SHIMS):
            if p in sys.path:
                sys.path.remove(p)


def main():
    out, journals_xml, lookup_dir = sys.argv[1], sys.argv[2], sys.argv[3]
    graph = run(journals_xml, lookup_dir)
    with open(out, "w", encoding="utf-8") as f:
        f.write(graph.serialize(None))
    print(f"{len(graph)} triples -> {out}", file=sys.stderr)


if __name__ == "__main__":
    main()
