"""Arrow-batched record→triples emitter — the pipeline's hot path.

The record→triples transformation is plain Python, Arrow-batched via
mapInArrow, exactly the architecture BASELINE.json's north_star
prescribes ("vectorized Arrow UDFs parse each web page's text into
bibliographic-style mentions … materialize (subj, pred, obj) triples").
The same spec as a declarative Column expression tree is ~10^4 nodes
deep in higher-order-function lambdas, which Catalyst evaluates
INTERPRETED (ArrayTransform/ArrayFilter are CodegenFallback): measured
~77 ms of CPU per page at sf0.1 — versus ~1.3 ms here. Catalyst keeps
doing what it is good at — scans, filter pushdown, the dedup shuffle —
while the procedural per-record emission and its authority linking
(link_record; the reference is a per-record procedural converter,
convert_starxml_to_bf.py:1177-1503) run as one narrow Arrow-batched
stage with no shuffle: embarrassingly parallel at 10^12 pages, ~60×
less CPU per page, and a plan measured in KB instead of MB.

Gates: the pure-Python golden oracle (tests/golden_oracle.py, exact set
equality in tests/test_golden.py) shares no code with this module, and
tests/test_arrow_parity.py pins each scenario's triple set (recorded
while a second, Column-expression emitter agreed with this one on every
scenario). Every route of build_triples feeds this stage pages and
parses them here (parse_page_text); the resolution maps of the maps
route index the mention rows of mentions_arrow, which runs the same
parser, so their indexes line up with the emit by construction. The
helpers below mirror SPARK semantics, not Python defaults, for
records-shaped input (emit_triples_arrow's records mode, fed by the
Column parser extract_records): there both parsers must split and trim
alike:
- trim == Spark `trim` (strips chars <= 0x20, NOT unicode whitespace)
- concat is NULL-propagating (any None argument -> None)
- Java regex defaults are mirrored with re.ASCII where \\b/\\w/(?i) occur
- Java `split` (limit 0) drops trailing empty strings

Reference anchors (module:lines of the reference converter) sit on the
emit_* functions below.
"""

from __future__ import annotations

import re
import zlib

import pandas as pd

from psyndex2linkeddata_spark import namespaces as NS
from psyndex2linkeddata_spark.data.tables import (
    cm_mapping_lookup,
    dd_codes,
    funder_names_full_replacelist,
    funder_names_substr_replacelist,
    geonames_countries,
    issuancetypes,
)
from psyndex2linkeddata_spark.functions.cleaning import _BASIC_ENTITIES
from psyndex2linkeddata_spark.functions.lang import (
    _DE_STOPWORDS,
    _EN_STOPWORDS,
    LANG_VARIANTS,
)
from psyndex2linkeddata_spark.functions.licenses import (
    _EXACT_LICENSE_CODES,
    _ORIGIN_MAP,
)
from psyndex2linkeddata_spark.functions.text import _title_one
from psyndex2linkeddata_spark.functions.trials import TRIAL_NUMBER_REGEXES
from psyndex2linkeddata_spark.functions.urls import _PCT_UNSAFE
from psyndex2linkeddata_spark.schema import (
    REPEATED_FIELDS,
    SCALAR_FIELDS,
    triples_schema,
)

# --------------------------------------------------------------------------
# Spark-semantics string primitives
# --------------------------------------------------------------------------

# Trim domain: all chars <= 0x20 — the ASCII-control superset of the
# reference's str.strip() for STAR values. NOTE Spark's F.trim strips
# ONLY 0x20 (measured on 4.1), so this kernel and the Column parser
# agree at value boundaries only for space/CRLF-free edges; CRLF is
# normalized out at both page parsers (parse_page_text /
# extract._entries), and the gated corpora contain no other boundary
# controls (the CRLF/CR snapshot tests pin the pipeline-level equality).
_TRIM = "".join(chr(i) for i in range(0x21))


def trim(s):
    return None if s is None else s.strip(_TRIM)


def concat(*parts):
    """F.concat: NULL if any part is NULL."""
    out = []
    for p in parts:
        if p is None:
            return None
        out.append(p if isinstance(p, str) else str(p))
    return "".join(out)


def nullif_empty(s):
    t = trim(s)
    return t if t else None


def jsplit(s, pat):
    """Java String.split with limit 0: trailing empty strings removed."""
    parts = re.split(pat, s)
    while parts and parts[-1] == "":
        parts.pop()
    return parts


_MULTISPACE_RE = re.compile(" {2,}")


def collapse(s):
    if s is None:
        return None
    # gate: the sub is identity unless a double space exists ("  " in s
    # is a C-speed scan; the regex pass is ~10× the cost)
    if "  " in s:
        s = _MULTISPACE_RE.sub(" ", s)
    return trim(s)


def clean_text(s):
    """F1 (^DD table, ordered) + F2 (basic entities, &amp; last).

    Gates are exact: every dd_codes pattern contains '^' except the bare
    '\\x9a' entry, and every _BASIC_ENTITIES pattern starts with '&' —
    when the marker char is absent each replace is identity, so the
    whole ordered chain (106 + 24 full-string scans) can be skipped
    (test_clean_text_gate_invariants pins the table property)."""
    if s is None:
        return None
    if "^" in s or "\x9a" in s:
        for raw, repl in dd_codes:
            s = s.replace(raw, repl)
    if "&" not in s:
        return s
    for raw, repl in _BASIC_ENTITIES:
        if raw == "&amp;":
            continue
        s = s.replace(raw, repl)
    return s.replace("&amp;", "&")


def mainfield(s):
    c = collapse(s)
    if c is None:
        return None
    return nullif_empty(trim(c.split("|", 1)[0]))


def subfield(s, name):
    c = collapse(s)
    if c is None or f"|{name}" not in c:
        return None
    parts = c.split(f"|{name}", 2)
    if len(parts) < 2:
        return None
    value = trim(trim(parts[1]).split("|", 1)[0])
    return nullif_empty(value)


def norm_name(s):
    return None if s is None else trim(s).lower()


# --------------------------------------------------------------------------
# field-function twins (functions/*.py)
# --------------------------------------------------------------------------

_STOP_RE = {
    "de": re.compile(r"\b(" + "|".join(_DE_STOPWORDS) + r")\b", re.I | re.A),
    "en": re.compile(r"\b(" + "|".join(_EN_STOPWORDS) + r")\b", re.I | re.A),
}


def guess_language(text):
    t = text or ""
    de = len(_STOP_RE["de"].findall(t))
    en = len(_STOP_RE["en"].findall(t))
    if de > en:
        return "de"
    if en > 0:
        return "en"
    return "und"


def langtag2(s):
    if s is None:
        return "und"
    return LANG_VARIANTS.get(s, ("und", "und"))[0]


def langtag3(s):
    if s is None:
        return "und"
    return LANG_VARIANTS.get(s, ("und", "und"))[1]


def lang_or_guess(lang_field, text):
    if lang_field is not None:
        tagged = langtag2(trim(lang_field))
        if tagged != "und":
            return tagged
    return guess_language(text)


_COUNTRY_FIXES = {
    "COSTA": "Costa Rica",
    "CZECH": "Czech Republic",
    "NEW": "New Zealand",
    "SAUDI": "Saudi Arabia",
    "PEOPLES": "People's Republic of China",
}


def sanitize_country_name(s):
    if s is None:
        return None
    return _COUNTRY_FIXES.get(s, s)


def family_name(s):
    """Reference contributions.py:286-293 — Python str.split(','), which
    KEEPS trailing empties: 'X (nifbe),' → family 'X (nifbe)'."""
    if s is None:
        return None
    name = trim(s)
    parts = name.split(",")
    return trim(parts[0]) if len(parts) >= 2 else name


def given_name(s):
    """Reference contributions.py:286-303 — given = segment after the
    first comma ('' when it is a trailing comma); the no-comma except
    branch yields givenname='' and the triple is STILL emitted."""
    if s is None:
        return None
    parts = trim(s).split(",")
    return trim(parts[1]) if len(parts) >= 2 else ""


_EMAIL_RE = re.compile(r"^[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}$", re.A)


def clean_email(s):
    if s is None:
        return None
    v = trim(s)
    v = re.sub(r"\s*@\s*", "@", v, flags=re.A)
    v = re.sub(r"\s+", "_", v, flags=re.A)
    return v if _EMAIL_RE.search(v) else None


_ORCID_RE = re.compile(r"(\d{4}-){3}\d{3}[\dX]", re.A)


def clean_orcid(s):
    if s is None:
        return None
    m = _ORCID_RE.search(trim(s))
    return m.group(0) if m else None


def normalize_issn(s):
    if s is None:
        return None
    v = clean_text(trim(s).upper())
    return re.sub(r"\^DDS", "-", v)


def split_pages_f(s):
    """F12 -> (page_start, page_end, extent, article_number)."""
    if s is None:
        return (None, None, None, None)
    has_dash = "-" in s
    sp = s.split("-", 1)
    # no strip — reference keeps '164 ' from '164 -180'
    first = sp[0]
    second = sp[1] if len(sp) > 1 else None
    after_space = s.split(" ", 1)[1] if " " in s else None
    page_start = first if has_dash else None
    page_end = second if has_dash else None
    is_digits = re.search(r"^[0-9]+$", s, re.A) is not None
    extent = None
    if not has_dash:
        if s.startswith("Insgesamt"):
            parts = jsplit(s, " ")
            extent = parts[1] if len(parts) > 1 else None
        elif is_digits:
            extent = s
    article = None
    if not has_dash and not s.startswith("Insgesamt") and not is_digits:
        if re.match(r"[a-z]", s, re.A):
            article = s
        elif s.startswith("No") or s.startswith("Art"):
            article = after_space
    return (page_start, page_end, extent, article)


def split_series_f(s):
    """F13 -> (series_title, series_volume)."""
    if s is None:
        return (None, None)
    parts = s.split(", ", 1)
    tail = parts[1] if len(parts) > 1 else None
    tail_is_volume = tail is not None and (
        re.search(r"^(Vol|Band)", tail, re.A) or re.search(r"^[0-9]+$", tail, re.A)
    )
    has_comma = ("," in s) and len(parts) == 2
    if has_comma and tail_is_volume:
        vol = tail.split(" ", 1)[1] if " " in tail else tail
        return (parts[0], vol)
    return (s, None)


_DOI_RE = re.compile(r"10\.\d{4,9}/[-._;()/:A-Za-z0-9]+", re.A)
_URL_RE = re.compile(
    r"[(http(s)?):\/\/(www\.)?a-zA-Z0-9@:%._\+~#=]{2,256}"
    r"\.[a-z]{2,6}\b([-a-zA-Z0-9@:%_\+.~#?&//=]*)",
    re.I | re.A,
)


def check_for_url_or_doi(s):
    """F3 twin -> (value, type)."""
    if s is None:
        return (None, "unknown")
    original = trim(s)
    v = original
    v = trim(re.sub(r"(?i)^(.*)(DOI: |DOI |DOI:)(.*)$", r"\3", v))
    v = trim(re.sub(r"^(. )", "", v))
    v = v.replace("PsychOpen GOLD", "")
    v = re.sub(" {2,}", " ", v)
    v = re.sub(r"(.*\.) ((io)|(org)|(com)|(net)|(de))\b", r"\1\2", v, flags=re.A)
    v = re.sub(r"(.*/) ([a-z]|[0-9]|\?)", r"\1\2", v, flags=re.A)
    v = re.sub(r"(.*) (/)", r"\1\2", v, flags=re.A)
    v = v.replace(" ", "_")
    m = _DOI_RE.search(v)
    doi = None
    if m:
        doi = re.sub(r"[. _]*$", "", m.group(0))
        if not doi:
            doi = None
    if doi is not None:
        return (doi, "doi")
    if _URL_RE.search(v):
        if v.startswith("//"):
            url = "http:" + v
        elif v[:1].isalpha() and not v.startswith("http"):
            url = "http://" + v
        else:
            url = v
        return (url, "url")
    return (original, "unknown")


_DATE_FORMATS = ("%Y-%m-%d", "%d.%m.%Y", "%Y/%m/%d", "%B %Y", "%d %B %Y", "%B %d, %Y")

# dateparser-grade month-name handling (reference convert_starxml_to_bf.py
# :336 feeds PHIST |o like '27 Mar 2022' / 'MAR  2022' to dateparser):
# any-case English/German month names and their 3-letter abbreviations,
# flexible whitespace; missing day resolves to 1 (deterministic stand-in
# for dateparser's wall-clock-dependent PREFER_DAY_OF_MONTH default).
_MONTH_NUM = {
    m.lower(): i % 12 + 1
    for i, m in enumerate(
        [
            "January", "February", "March", "April", "May", "June",
            "July", "August", "September", "October", "November", "December",
            "Januar", "Februar", "März", "April", "Mai", "Juni",
            "Juli", "August", "September", "Oktober", "November", "Dezember",
        ]
    )
}
_MONTH_NUM.update({m[:3]: v for m, v in list(_MONTH_NUM.items())})


def _safe_iso(year, month, day):
    import datetime as dt

    try:
        return dt.date(year, month, day).isoformat()
    except ValueError:
        return None


def _month_name_date(v):
    """'d Month yyyy' / 'Month d, yyyy' / 'Month yyyy' → ISO or None."""
    m = re.fullmatch(r"(\d{1,2})\.?\s+([A-Za-zäöüÄÖÜ]+),?\s+(\d{4})", v)
    if m and m.group(2).lower() in _MONTH_NUM:
        return _safe_iso(int(m.group(3)), _MONTH_NUM[m.group(2).lower()], int(m.group(1)))
    m = re.fullmatch(r"([A-Za-zäöüÄÖÜ]+)\.?\s+(\d{1,2}),?\s+(\d{4})", v)
    if m and m.group(1).lower() in _MONTH_NUM:
        return _safe_iso(int(m.group(3)), _MONTH_NUM[m.group(1).lower()], int(m.group(2)))
    m = re.fullmatch(r"([A-Za-zäöüÄÖÜ]+)\s+(\d{4})", v)
    if m and m.group(1).lower() in _MONTH_NUM:
        return _safe_iso(int(m.group(2)), _MONTH_NUM[m.group(1).lower()], 1)
    return None


def pct_quote(s):
    """functions/urls.pct_quote twin — urllib.parse.quote for ASCII
    strings, chained replaces over the same _PCT_UNSAFE list so both
    paths share the non-ASCII pass-through deviation."""
    for c in _PCT_UNSAFE:
        s = s.replace(c, "%%%02X" % ord(c))
    return s


def parse_fuzzy_date(s):
    """F15: date string 'YYYY-MM-DD' or None (format cascade standing in
    for the reference's dateparser.parse(...).strftime("%Y-%m-%d"),
    convert_starxml_to_bf.py:318-361, research_info.py:1784-1825).
    Two-digit years expand with dateparser's PREFER_DATES_FROM='past'
    century choice (research_info.py:1800)."""
    import datetime as dt

    if s is None:
        return None
    v = trim(s)
    m = re.search(r"^(\d{1,2})\.(\d{1,2})\.(\d{2})$", v, re.A)
    if m:
        yy = int(m.group(3))
        century = "19" if yy > dt.date.today().year % 100 else "20"
        v = f"{m.group(1)}.{m.group(2)}.{century}{m.group(3)}"
    for fmt in _DATE_FORMATS:
        try:
            d = dt.datetime.strptime(v, fmt)
        except ValueError:
            continue
        return d.strftime("%Y-%m-%d")
    return _month_name_date(v)


def date_or_year(date_s, *year_fallbacks):
    """F15/F16 -> (value, dtype) with dtype in {'date','gYear',None}: the
    parsed date, else a bare 4-digit year, else the first year found in
    the fallbacks."""
    parsed = parse_fuzzy_date(date_s)
    if parsed is not None:
        return (parsed, "date")
    if date_s is not None:
        m = re.search(r"^(\d{4})$", trim(date_s) or "", re.A)
        if m:
            return (m.group(1), "gYear")
    for yf in year_fallbacks:
        if yf is None:
            continue
        m = re.search(r"(\d{4})", trim(yf), re.A)
        if m:
            return (m.group(1), "gYear")
    return (None, None)


def camel_case(s):
    if s is None:
        return None
    spaced = re.sub(r"(_|-)+", " ", s)
    initcap = " ".join(w[:1].upper() + w[1:].lower() for w in spaced.split(" "))
    joined = initcap.replace(" ", "")
    return joined[:1].lower() + joined[1:]


def license_uri(code, german_label):
    """F23 twin (code non-null by call contract)."""
    if code in _EXACT_LICENSE_CODES:
        return NS.LICENSES + _EXACT_LICENSE_CODES[code]
    if code.startswith("AUTH"):
        return NS.LICENSES + "AUTH"
    if code.startswith("PUBL") or (german_label or "").startswith(
        "Volles Urheberrecht des Verlags"
    ):
        return NS.LICENSES + "PUBL"
    if code.startswith("Hogrefe OpenMind"):
        return NS.LICENSES + "HogrefeOpenMind"
    if "Springer" in code:
        return NS.LICENSES + "ExclusiveSpringer"
    if code.startswith("OTHER"):
        return NS.LICENSES + "UnspecifiedOpenLicense"
    return None


def abstract_origin(s):
    if s is None:
        return None
    return _ORIGIN_MAP.get(s, s)


def split_grant_numbers(s):
    for token in (" and ", " und ", " & ", "; "):
        s = s.replace(token, ", ")
    return [t for t in (trim(x) for x in jsplit(s, ", ")) if t]


def is_grant_noise(s):
    low = s.lower()
    return "projekt deal" in low or "open access" in low


_ANNIF_CODES = sorted({r["old_cm"] for r in cm_mapping_lookup if r.get("new_cm")})

_ANNIF_TOK_RE = re.compile(r"[^a-z0-9]+")


def annif_text(title, abstract):
    """Normalized J8 classifier input: title + ' ' + abstract (or ''),
    lowercased, [^a-z0-9]+ runs → ' ', trimmed (reference
    local_api_lookups.py:61-95 feeds title + abstract to Annif)."""
    raw = title + " " + (abstract if abstract is not None else "")
    return _ANNIF_TOK_RE.sub(" ", raw.lower()).strip()


def annif_stub_code(text):
    idx = zlib.crc32(text.encode("utf-8")) % len(_ANNIF_CODES)
    return _ANNIF_CODES[idx]


_CM_NEW = {r["old_cm"]: r["new_cm"] for r in cm_mapping_lookup if r.get("new_cm")}
_CM_LABEL = {
    r["old_cm"]: (r.get("new_cm_label") or "")
    for r in cm_mapping_lookup
    if r.get("new_cm")
}
_CM_GENRE = {r["old_cm"]: r["new_genre"] for r in cm_mapping_lookup if r.get("new_genre")}
_ISSUANCE = {}
for _be, _label, _de in issuancetypes:
    _ISSUANCE.setdefault(_be, _label)

_GEO = {}
for _name, _gid, _iso in geonames_countries:
    _GEO.setdefault(_name.casefold(), (_name, _gid))

_TRIAL_RES = [
    (re.compile(rx[4:] if rx.startswith("(?i)") else rx, re.I | re.A), reg)
    for rx, reg in TRIAL_NUMBER_REGEXES
]

_TOC_RE = re.compile(r"^(.*)[-–]\s*(Contents|Inhalt)\s*:\s*(.*)$", re.A)
_DEEPL_RE = re.compile(r"^(.*)\s\((translated by DeepL)\)$", re.I | re.S | re.A)
_COPYRIGHT_RE = re.compile(r"^(.*)(\(c\).*)$", re.I | re.S | re.A)
_B_LIST_RE = re.compile(r"^.*\(b\).*$", re.I | re.S | re.A)
_TRANS_DEEPL_RE = re.compile(r"^(.*)\s*\((DeepL)\)\s*$", re.S | re.A)


def split_toc(s):
    """F24 twin -> (abstract, toc, toc_is_url)."""
    if s is None:
        return (None, None, False)
    m = _TOC_RE.search(s)
    if not m:
        return (s, None, False)
    toc = trim(m.group(3))
    # reference abstract.py:160: URL iff startswith "http"
    return (trim(m.group(1)), toc, bool(toc and toc.startswith("http")))


def split_licensing_note(s):
    """F25 twin -> (abstract, note)."""
    if s is None:
        return (None, None)
    md = _DEEPL_RE.search(s)
    after = md.group(1) if md else s
    deepl_note = "translated by DeepL" if md else None
    mc = _COPYRIGHT_RE.search(after)
    body, note = after, deepl_note
    if mc:
        c_part, c_body = mc.group(2), mc.group(1)
        if 0 < len(c_part) < 100 and not _B_LIST_RE.search(c_body):
            body = c_body
            note = deepl_note or c_part
    return (trim(body), note)


def parse_translated_title(s):
    """F26 twin -> (title, lang_name, origin)."""
    if s is None:
        return (None, None, None)
    main = trim(s.split("|", 1)[0])
    lang_name = None
    if "|s" in s:
        parts = s.split("|s", 2)
        if len(parts) > 1:
            lang_name = trim(parts[1].split("|", 1)[0])
    if main is not None:
        m = _TRANS_DEEPL_RE.search(main)
        if m:
            return (trim(m.group(1)), lang_name, "DeepL")
    return (main, lang_name, None)


# --------------------------------------------------------------------------
# record-level mention parsing (contributions, instances, relations)
# --------------------------------------------------------------------------


def id_sets(values):
    """F3 + A3 -> (dois, urls, unknowns) — ordered-distinct lists; a url
    containing one of the dois or an OSF doi's shortcode is dropped
    (reference research_info.py:386-406)."""
    checked = [check_for_url_or_doi(v) for v in values if v is not None]
    dois, urls, unknowns = [], [], []
    for value, typ_ in checked:
        if typ_ == "doi" and value not in dois:
            dois.append(value)
        elif typ_ == "url" and value not in urls:
            urls.append(value)
        elif (
            typ_ == "unknown"
            and value is not None
            and trim(value) != ""
            and value not in unknowns
        ):
            unknowns.append(value)

    def keep(u):
        for d in dois:
            if d in u:
                return False
            if "OSF.IO/" in d and "osf.io" in u:
                parts = jsplit(d, "/")
                if len(parts) > 2 and parts[2].lower() in u:
                    return False
        return True

    return (dois, [u for u in urls if keep(u)], unknowns)


def contribution_role(s, rec):
    """|f role code of an AUP/AUK field (reference
    modules/contributions.py:786-806 extract_contribution_role):
    default AU when absent; VE→AU (historical synonym); RE→IVR when the
    record's first CM field contains "interview" (case-sensitive, raw
    text — reference checks ``record.find("CM").text``), else RE→ED.
    Deviation: a missing CM on an RE record crashes the reference
    (AttributeError on None.text); we treat it as the non-interview
    branch (→ED)."""
    role = subfield(s, "f")
    if role is None:
        return "AU"
    if role == "VE":
        return "AU"
    if role == "RE":
        cm = rec.get("CM") or []
        first_cm = cm[0] if cm else None
        return "IVR" if (first_cm is not None and "interview" in first_cm) else "ED"
    return role


def contributions_of(rec):
    """Record → list of contribution dicts, AUP before AUK, 1-based
    positions across both (A1, reference modules/contributions.py:
    224-257, 687-691), with:

    - qualifier first/middle/last by position vs total (F29, :240-255);
    - ORCID |u matched by name (J10, :500-576), cleaned/validated (F18);
    - PAUP |n psychauthors id matched by name (J9, :408-498), with the
      kerndaten alternate names as the fallback tier (:456-498);
    - EMAIL via EMID name match, else attached to contribution 1
      (J11, :579-645);
    - record-level CS/COU affiliation attached to contribution 1 when
      the person has no |i/|c of its own (J12, :647-682).
    """
    aup = rec.get("AUP") or []
    auk = rec.get("AUK") or []
    n_aup = len(aup)
    total = n_aup + len(auk)

    def qualifier(pos):
        if pos == 1:
            return "first"
        if pos == total:
            return "last"
        return "middle"

    # J9/J10 fuzzy tier (reference direction: per id field -> first
    # partial_ratio>80 person contribution; fields matching the same
    # position accumulate rdf:values on the shared id node)
    from psyndex2linkeddata_spark.functions.fuzzy_names import match_ids_to_positions

    person_names = []
    for i, s in enumerate(aup):
        nm = mainfield(s)
        person_names.append((i + 1, family_name(nm), given_name(nm)))
    orcid_by_pos = match_ids_to_positions(
        [(mainfield(e), subfield(e, "u")) for e in rec.get("ORCID") or []],
        person_names,
    )
    # the kerndaten alternate-name fallback (J9 second tier) reads the
    # per-record resolution map the broadcast authority join attaches
    # as `_kerndaten` ({paup_id: [alternate name, ...]})
    paup_by_pos = match_ids_to_positions(
        [(mainfield(e), subfield(e, "n")) for e in rec.get("PAUP") or []],
        person_names,
        alternates=rec.get("_kerndaten"),
    )

    emid_main = mainfield(rec.get("EMID"))
    out = []
    for i, s in enumerate(aup):
        pos = i + 1
        name = mainfield(s)
        email = None
        if norm_name(emid_main if emid_main is not None else "") == norm_name(name):
            email = clean_email(rec.get("EMAIL"))
        if email is None and pos == 1:
            emid_matches_somebody = False
            if rec.get("EMID") is not None:
                en = norm_name(emid_main)
                emid_matches_somebody = any(
                    norm_name(mainfield(a)) is not None
                    and en is not None
                    and norm_name(mainfield(a)) == en
                    for a in aup
                )
            if rec.get("EMID") is None or not emid_matches_somebody:
                email = clean_email(rec.get("EMAIL"))
        own_org = subfield(s, "i")
        own_country = sanitize_country_name(subfield(s, "c"))
        cs_applies = (
            pos == 1
            and own_org is None
            and own_country is None
            and nullif_empty(rec.get("CS")) is not None
            and nullif_empty(rec.get("COU")) is not None
        )
        org = own_org if own_org is not None else (
            nullif_empty(rec.get("CS")) if cs_applies else None
        )
        country = own_country if own_country is not None else (
            nullif_empty(rec.get("COU")) if cs_applies else None
        )
        out.append(
            dict(
                pos=pos,
                kind="person",
                name=name,
                family=family_name(name),
                given=given_name(name),
                qualifier=qualifier(pos),
                role=contribution_role(s, rec),
                org=org,
                country=country,
                orcids=[
                    c
                    for c in (clean_orcid(o) for o in orcid_by_pos.get(pos, []))
                    if c is not None
                ],
                paup_ids=paup_by_pos.get(pos, []),
                email=email,
            )
        )
    for i, s in enumerate(auk):
        pos = n_aup + i + 1
        out.append(
            dict(
                pos=pos,
                kind="org",
                name=mainfield(s),
                family=None,
                given=None,
                qualifier=qualifier(pos),
                role=contribution_role(s, rec),
                org=None,
                country=subfield(s, "c"),
                orcids=[],
                paup_ids=[],
                email=None,
            )
        )
    return out


_MEDIA = {
    "Print": ("Print", "n", "nc"),
    "Online Medium": ("Online", "c", "cr"),
    "eBook": ("Online", "c", "cr"),
}


def instances_of(rec):
    def inst(mt, n):
        m = _MEDIA.get(trim(mt)) if mt is not None else None
        if m:
            return dict(n=n, mediacarrier=m[0], media_code=m[1], carrier_code=m[2])
        return dict(n=n, mediacarrier=None, media_code=None, carrier_code=None)

    insts = [inst(rec.get("MT"), 1)]
    if rec.get("MT2") is not None:
        insts.append(inst(rec.get("MT2"), 2))
    return insts


def locator_instance_ns(insts):
    """A8 (reference convert_starxml_to_bf.py:1466-1503): ALL target
    instance n's of DOI/URL/URN — the single instance, else every Online
    one (the reference loops without breaking); none when several
    instances but none Online."""
    if len(insts) == 1:
        return [insts[0]["n"]]
    return [i["n"] for i in insts if i["mediacarrier"] == "Online"]


def rel_citation(s):
    """REL |a/|t/|j/|q citation cascade (research_info.py:1253-1267)."""
    title = subfield(s, "t")
    author = subfield(s, "a")
    year = subfield(s, "j")
    source = subfield(s, "q")
    if title and author and year and source:
        return f"{author}: {title}; {year}; {source}"
    if title and author and year:
        return f"{author}: {title}; {year}"
    if title and author:
        return f"{author}: {title}"
    if title and year and source:
        return f"{title}; {year}; {source}"
    if title and year:
        return f"{title}; {year}"
    return title


_PSY_MARKER_RE = re.compile(r"\(PSYNDEX Tests (Review|Info|Abstract)\)", re.A)


def testg_long(s):
    """TESTG |l long name: '(PSYNDEX Tests Review/Info/Abstract)' markers
    removed, ALL-CAPS names title-cased (research_info.py:1434-1437 —
    Python .isupper(): at least one cased char, all of them uppercase)."""
    raw_long = subfield(s, "l")
    if raw_long is None:
        return None
    long_v = _PSY_MARKER_RE.sub("", raw_long)
    if trim(long_v) == "":
        return None
    return _title_one(long_v) if long_v.isupper() else long_v


def testg_parsed_of(rec, testg_res=None):
    """TESTG → the reference's build_related_test dicts
    (research_info.py:1404-1525 / testing/TESTG/testg.py:105-244), with
    the J15 resolution map filling test ids of uncontrolled entries."""
    out = []
    for idx, s in enumerate(rec.get("TESTG") or []):
        long_v = testg_long(s)
        short = mainfield(s)
        u_f, f_f, d_f, k_f = (subfield(s, c) for c in ("u", "f", "d", "k"))
        u_part = (
            f"; Verwendete Variante oder Unterform: {trim(u_f)}"
            if u_f is not None and trim(u_f) != ""
            else ""
        )
        f_part = (
            f"; Langname verwendete Variante: {trim(f_f)}"
            if f_f is not None and trim(f_f) != ""
            else ""
        )
        d_part = (
            "; deutschsprachiger Test trotz englischen Titels"
            if (trim(d_f) if d_f is not None else "") == "x"
            else ""
        )
        raw = (k_f or "") + u_part + f_part + d_part
        remark = re.sub(r"^[; ]+", "", raw) if raw.startswith("; ") else raw
        remark = remark if remark is not None and trim(remark) != "" else None
        n_f = subfield(s, "n")
        unc_id = None
        if re.search(r"^[0-9]+$", trim(n_f) if n_f is not None else "", re.A):
            unc_id = trim(n_f)
        z = subfield(s, "z")
        test_id = subfield(s, "c")
        if test_id is None and testg_res:
            test_id = testg_res.get(idx)
        out.append(
            dict(
                short=short,
                long=long_v,
                relation="analyzesTest"
                if (trim(z) if z is not None else "") == "x"
                else "usesTest",
                test_id=test_id,
                items=(trim(subfield(s, "v") or "")) == "x",
                remark=remark,
                unc_id=unc_id,
            )
        )
    return out


# --------------------------------------------------------------------------
# triple assembly
# --------------------------------------------------------------------------


class Sink:
    """Column-wise triple accumulator (cheap pandas/Arrow marshalling)."""

    __slots__ = ("subj", "pred", "obj", "iri", "lang", "dtype")

    def __init__(self):
        self.subj, self.pred, self.obj = [], [], []
        self.iri, self.lang, self.dtype = [], [], []

    def add(self, subj, pred, obj, iri=False, lang=None, dtype=None):
        if subj is None or obj is None:
            return
        self.subj.append(subj)
        self.pred.append(pred)
        self.obj.append(obj if isinstance(obj, str) else str(obj))
        self.iri.append(iri)
        self.lang.append(lang)
        self.dtype.append(dtype)

    def __len__(self):
        return len(self.subj)

    def record_batch(self):
        """Direct pyarrow construction — measured ~16× cheaper than
        pd.DataFrame + pandas→Arrow for 400k-row flushes."""
        import pyarrow as pa

        return pa.record_batch(
            [
                pa.array(self.subj, type=pa.string()),
                pa.array(self.pred, type=pa.string()),
                pa.array(self.obj, type=pa.string()),
                pa.array(self.iri, type=pa.bool_()),
                pa.array(self.lang, type=pa.string()),
                pa.array(self.dtype, type=pa.string()),
            ],
            names=["subj", "pred", "obj", "obj_is_iri", "lang", "dtype"],
        )

    def rows_iter(self):
        return zip(self.subj, self.pred, self.obj, self.iri, self.lang, self.dtype)


def _sub(parent, suffix):
    return None if parent is None else parent + suffix


def emit_work_core(g, rec, W, B):
    """N1 (reference convert_starxml_to_bf.py:1196-1205,1316,1324 and
    modules/publication_types.py:29-108 generate_content_type): work a
    bf:Work, pxc:MainWork; bf:language from LA; bf:content from DT;
    work pxp:hasInstanceBundle bundle."""
    is_av = rec.get("DT") == "40"
    content = "spokenWord" if is_av else "text"
    content_uri = NS.CONTENT + content
    subclass = NS.BF + ("NonMusicAudio" if is_av else "Text")
    g.add(W, NS.RDF_TYPE, NS.BF + "Work", iri=True)
    g.add(W, NS.RDF_TYPE, NS.PXC + "MainWork", iri=True)
    la = rec.get("LA")
    if la is not None:
        g.add(W, NS.BF + "language", NS.LANG + langtag3(trim(la)), iri=True)
    g.add(content_uri, NS.RDF_TYPE, NS.BF + "Content", iri=True)
    g.add(W, NS.BF + "content", content_uri, iri=True)
    g.add(W, NS.RDF_TYPE, subclass, iri=True)
    g.add(W, NS.PXP + "hasInstanceBundle", B, iri=True)
    g.add(B, NS.RDF_TYPE, NS.PXC + "InstanceBundle", iri=True)


def emit_titles(g, rec, B):
    """N2 (reference convert_starxml_to_bf.py:600-705,1432-1449): the
    bundle's bf:Title with mainTitle/subtitle in the TIL (or guessed)
    language; TIUE → pxc:TranslatedTitle, a trailing '(DeepL)' marker
    naming the adminMetadata source."""
    if rec.get("TI") is not None:
        title = B + "#title"
        main = trim(rec["TI"])
        main_lang = lang_or_guess(rec.get("TIL"), main)
        sub = trim(rec.get("TIU"))
        sub_lang = lang_or_guess(rec.get("TIUL"), sub)
        fulltitle = (
            concat(main, ". ", sub) if rec.get("TIU") is not None else main
        )
        g.add(B, NS.BF + "title", title, iri=True)
        g.add(title, NS.RDF_TYPE, NS.BF + "Title", iri=True)
        g.add(title, NS.BF + "mainTitle", main, lang=main_lang)
        g.add(title, NS.BF + "subtitle", sub, lang=sub_lang)
        g.add(title, NS.RDFS_LABEL, fulltitle)
    if nullif_empty(rec.get("TIUE")) is not None:
        tt_title, tt_lang_name, tt_origin = parse_translated_title(rec["TIUE"])
        translated = B + "#translatedtitle"
        tt_source = translated + "_source"
        tt_lang = (
            langtag2(tt_lang_name)
            if tt_lang_name is not None
            else guess_language(tt_title)
        )
        g.add(B, NS.BF + "title", translated, iri=True)
        g.add(translated, NS.RDF_TYPE, NS.PXC + "TranslatedTitle", iri=True)
        g.add(translated, NS.BF + "mainTitle", tt_title, lang=tt_lang)
        g.add(translated, NS.RDFS_LABEL, tt_title)
        g.add(translated, NS.BF + "adminMetadata", tt_source, iri=True)
        g.add(tt_source, NS.RDF_TYPE, NS.BF + "AdminMetadata", iri=True)
        g.add(tt_source, NS.BFLC + "metadataLicensor", tt_origin or "ZPID")


def emit_instances(g, rec, W, B, insts):
    """N16 (reference convert_starxml_to_bf.py:1310-1420,
    modules/publication_types.py:675-800): 1-2 bf:Instance nodes with
    pxp:mediaCarrier and the RDA media/carrier codes."""
    dfk = rec["DFK"]
    for inst in insts:
        uri = f"{NS.INSTANCES}{dfk}#{inst['n']}"
        g.add(uri, NS.RDF_TYPE, NS.BF + "Instance", iri=True)
        g.add(B, NS.BF + "hasPart", uri, iri=True)
        g.add(uri, NS.BF + "instanceOf", W, iri=True)
        g.add(W, NS.BF + "hasInstance", uri, iri=True)
        mc = inst["mediacarrier"]
        if mc is not None:
            g.add(uri, NS.PXP + "mediaCarrier", NS.PMT + mc, iri=True)
            g.add(
                uri,
                NS.RDF_TYPE,
                NS.BF + ("Electronic" if mc == "Online" else "Print"),
                iri=True,
            )
            g.add(uri, NS.BF + "media", NS.MEDIA + inst["media_code"], iri=True)
            g.add(uri, NS.BF + "carrier", NS.CARRIER + inst["carrier_code"], iri=True)


def emit_identifiers(g, rec, B, insts, doi_checked):
    """N17 (reference modules/identifiers.py:23-102,
    convert_starxml_to_bf.py:364-429,1460-1503): DFK node, ISBNs from
    PU |i/|e only, and DOI (percent-encoded into the node URI,
    identifiers.py:28), URN and URLI on the A8 target instances."""
    dfk = rec["DFK"]
    dfk_node = B + "_dfk"
    g.add(dfk_node, NS.RDF_TYPE, NS.PXC + "DFK", iri=True)
    g.add(dfk_node, NS.RDF + "value", dfk)
    g.add(B, NS.BF + "identifiedBy", dfk_node, iri=True)

    # PU |i/|e ONLY (reference add_isbns reads no standalone ISBN field)
    isbn_print = subfield(rec.get("PU"), "i")
    isbn_ebook = subfield(rec.get("PU"), "e")
    if isbn_print is not None:
        node = B + "#isbn_print"
        g.add(B, NS.BF + "identifiedBy", node, iri=True)
        g.add(node, NS.RDF_TYPE, NS.BF + "Isbn", iri=True)
        g.add(node, NS.RDF + "value", isbn_print)
    if isbn_ebook is not None:
        node = B + "#isbn_ebook"
        g.add(B, NS.BF + "identifiedBy", node, iri=True)
        g.add(node, NS.RDF_TYPE, NS.BF + "Isbn", iri=True)
        g.add(node, NS.RDF + "value", isbn_ebook)

    doi = doi_checked[0] if doi_checked[1] == "doi" else None
    urn = nullif_empty(rec.get("URN"))
    urli = None
    if rec.get("URLI") is not None:
        v, t = check_for_url_or_doi(trim(rec["URLI"]))
        if t == "url":
            urli = v
    for target_n in locator_instance_ns(insts):
        target = f"{NS.INSTANCES}{dfk}#{target_n}"
        if doi is not None:
            # node URI percent-encoded (reference identifiers.py:28
            # urllib.parse.quote); the rdf:value stays the raw DOI
            doi_node = "https://doi.org/" + pct_quote(doi)
            g.add(doi_node, NS.RDF_TYPE, NS.BF + "Doi", iri=True)
            g.add(doi_node, NS.RDF + "value", doi)
            g.add(target, NS.BF + "identifiedBy", doi_node, iri=True)
        if urn is not None:
            g.add(urn, NS.RDF_TYPE, NS.BF + "Urn", iri=True)
            g.add(urn, NS.RDF + "value", urn)
            g.add(target, NS.BF + "identifiedBy", urn, iri=True)
        if urli is not None:
            # direct bf:electronicLocator URI (identifiers.py:82-89)
            g.add(target, NS.BF + "electronicLocator", urli, iri=True)


def emit_publication(g, rec, B):
    """N18 (reference convert_starxml_to_bf.py:318-361,457-515): the
    bf:Publication node; bf:date from PHIST |o, else the RAW PY text typed
    by length, as the reference does; agent/place from PU |v/|o."""
    node = B + "_publication"
    value, _kind = date_or_year(subfield(rec.get("PHIST"), "o"))
    if value is None:
        # reference PY fallback is the RAW text, typed purely by length
        value = nullif_empty(rec.get("PY"))
    publisher = subfield(rec.get("PU"), "v")
    place = subfield(rec.get("PU"), "o")
    g.add(B, NS.BF + "provisionActivity", node, iri=True)
    g.add(node, NS.RDF_TYPE, NS.BF + "Publication", iri=True)
    if value is not None:
        g.add(
            node,
            NS.BF + "date",
            value,
            dtype=NS.XSD_DATE if len(value) > 4 else NS.XSD_GYEAR,
        )
        g.add(node, NS.BFLC + "simpleDate", value[:4])
    g.add(node, NS.BFLC + "simpleAgent", publisher)
    g.add(node, NS.BFLC + "simplePlace", place)


def emit_affiliation(g, c_org, c_country, cnode, agent):
    """build_affiliation_nodes (reference modules/contributions.py:37-222):
    the mads:Affiliation with its bf:Organization, and — with a country —
    the mads:Address and geonames-improved mads:Country (J16,
    modules/helpers.py:378-382)."""
    if c_org is None and c_country is None:
        return
    aff = _sub(agent, "_affiliation1")
    g.add(cnode, NS.MADS + "hasAffiliation", aff, iri=True)
    g.add(aff, NS.RDF_TYPE, NS.MADS + "Affiliation", iri=True)
    if c_org is not None:
        org = _sub(aff, "_organization")
        g.add(aff, NS.MADS + "organization", org, iri=True)
        g.add(org, NS.RDF_TYPE, NS.BF + "Organization", iri=True)
        g.add(org, NS.RDFS_LABEL, c_org)
    if c_country is not None:
        addr = _sub(aff, "_address")
        country_node = _sub(addr, "_country")
        # casefold like helpers.py:380 (the map keys are casefolded)
        geo = (
            _GEO.get(trim(c_country).casefold())
            if c_country is not None
            else None
        )
        g.add(aff, NS.MADS + "hasAffiliationAddress", addr, iri=True)
        g.add(addr, NS.RDF_TYPE, NS.MADS + "Address", iri=True)
        g.add(addr, NS.MADS + "country", country_node, iri=True)
        g.add(country_node, NS.RDF_TYPE, NS.MADS + "Country", iri=True)
        g.add(country_node, NS.RDFS_LABEL, geo[0] if geo else c_country)
        if geo is not None:
            geo_node = _sub(country_node, "_geonamesid")
            g.add(country_node, NS.BF + "identifiedBy", geo_node, iri=True)
            g.add(geo_node, NS.RDF_TYPE, NS.LOCID + "geonames", iri=True)
            g.add(geo_node, NS.RDF + "value", geo[1])


def emit_contributions(g, rec, W, contribs):
    """N3/N4 (reference modules/contributions.py: generate_bf_contribution_node
    :224-257, add_bf_contributor_person :261-398,
    add_bf_contributor_corporate_body :685-762, extract_contribution_role
    :786-806)."""
    for c in contribs:
        cnode = f"{W}#contribution{c['pos']}"
        is_person = c["kind"] == "person"
        agent = cnode + ("_personagent" if is_person else "_orgagent")
        g.add(W, NS.BF + "contribution", cnode, iri=True)
        g.add(cnode, NS.RDF_TYPE, NS.BF + "Contribution", iri=True)
        if c["pos"] == 1:
            g.add(cnode, NS.RDF_TYPE, NS.BFLC + "PrimaryContribution", iri=True)
        g.add(
            cnode,
            NS.PXP + "contributionPosition",
            str(c["pos"]),
            dtype=NS.XSD_INTEGER,
        )
        g.add(cnode, NS.BF + "qualifier", c["qualifier"])
        g.add(cnode, NS.BF + "role", NS.ROLES + c["role"], iri=True)
        if c["email"] is not None:
            g.add(cnode, NS.MADS + "email", "mailto:" + c["email"], iri=True)
        g.add(cnode, NS.BF + "agent", agent, iri=True)
        g.add(
            agent,
            NS.RDF_TYPE,
            NS.BF + ("Person" if is_person else "Organization"),
            iri=True,
        )
        g.add(agent, NS.RDFS_LABEL, c["name"])
        if is_person:
            g.add(agent, NS.SCHEMA + "familyName", c["family"])
            g.add(agent, NS.SCHEMA + "givenName", c["given"])
        if c["orcids"]:
            onode = agent + "_orcid"
            g.add(agent, NS.BF + "identifiedBy", onode, iri=True)
            g.add(onode, NS.RDF_TYPE, NS.LOCID + "orcid", iri=True)
            for v in c["orcids"]:
                g.add(onode, NS.RDF + "value", v)
        if c["paup_ids"]:
            pnode = agent + "_psychauthorsid"
            g.add(agent, NS.BF + "identifiedBy", pnode, iri=True)
            g.add(pnode, NS.RDF_TYPE, NS.PXC + "PsychAuthorsID", iri=True)
            for v in c["paup_ids"]:
                g.add(pnode, NS.RDF + "value", v)
        emit_affiliation(g, c["org"], c["country"], cnode, agent)


def _blocked(rec):
    """P11 get_abstract_release (reference modules/abstract.py:324-334):
    Elsevier DOI stem + publisher copyright → abstract blocked."""
    return "10.1016" in (rec.get("DOI") or "") and "PUBL" in (rec.get("COPR") or "")


_NO_ABSTRACT_RE = re.compile(r"(no abstract|kein Abstract)", re.I | re.A)


def emit_abstract(g, rec, W, field, lang_field, origin_field, editor_field, secondary):
    """N5 (reference modules/abstract.py: get_bf_abstract :128-245,
    get_bf_secondary_abstract :246-321, add_abstract_licensing_note
    :61-124; source and editor fields :198-231, 285-304; the 'no abstract'
    placeholder P7 :131-135, 249-256)."""
    raw = rec.get(field)
    if raw is None:
        return
    if len(raw) < (50 if secondary else 500) and _NO_ABSTRACT_RE.search(raw):
        return
    node = W + ("#secondaryabstract" if secondary else "#abstract")
    cstr = trim(raw)
    toc_abstract, toc, toc_is_url = split_toc(cstr)
    body0 = cstr if secondary else toc_abstract
    lic_abstract, lic_note = split_licensing_note(body0)
    body = trim(lic_abstract)
    lang = lang_or_guess(rec.get(lang_field), body)
    source_node = node + "_source"
    origin = (
        abstract_origin(trim(rec[origin_field]))
        if rec.get(origin_field) is not None
        else "Original"
    )
    blocked = _blocked(rec)
    g.add(node, NS.RDF_TYPE, NS.PXC + "Abstract", iri=True)
    if secondary:
        g.add(node, NS.RDF_TYPE, NS.PXC + "SecondaryAbstract", iri=True)
    g.add(node, NS.RDFS_LABEL, body, lang=lang)
    g.add(source_node, NS.RDF_TYPE, NS.BF + "AdminMetadata", iri=True)
    g.add(source_node, NS.BFLC + "metadataLicensor", origin)
    if rec.get(editor_field) is not None:
        # ASH2/ASN2 editing agent (abstract.py:219-231/297-304), F22 recode
        g.add(
            source_node,
            NS.BF + "descriptionModifier",
            abstract_origin(trim(rec[editor_field])),
        )
    g.add(
        source_node,
        NS.PXP + "blockedAbstract",
        "true" if blocked else "false",
        dtype=NS.XSD_BOOLEAN,
    )
    g.add(node, NS.BF + "adminMetadata", source_node, iri=True)
    g.add(W, NS.BF + "summary", node, iri=True)
    if lic_note is not None:
        lic_node = node + "_license"
        g.add(node, NS.BF + "usageAndAccessPolicy", lic_node, iri=True)
        g.add(lic_node, NS.RDF_TYPE, NS.BF + "UsageAndAccessPolicy", iri=True)
        g.add(
            lic_node,
            NS.RDFS_LABEL,
            "Abstract not released by publisher." if blocked else lic_note,
        )
    if not secondary and toc is not None:
        toc_node = W + "#toc"
        g.add(toc_node, NS.RDF_TYPE, NS.BF + "TableOfContents", iri=True)
        g.add(W, NS.BF + "tableOfContents", toc_node, iri=True)
        if toc_is_url:
            g.add(toc_node, NS.RDF + "value", toc, dtype=NS.XSD_ANYURI)
        else:
            g.add(toc_node, NS.RDFS_LABEL, toc, lang=guess_language(toc))


def emit_terms(g, rec, W):
    """N6 (reference modules/terms.py: add_controlled_terms :54-146,
    subject headings :150-215, add_age_groups :218-276). A4: the topic
    counter counts only non-empty terms and continues from CT into IT
    (convert_starxml_to_bf.py:1246-1253); A5: the first subject heading
    is weighted."""
    # topics: CT then IT, shared counter over non-empty label_en (A4)
    n = 0
    for vocab, fieldname in (("terms", "CT"), ("addterms", "IT")):
        for s in rec.get(fieldname) or []:
            cstr = trim(s)
            en = subfield(cstr, "e")
            de = subfield(cstr, "d")
            label_en = en if en is not None else de
            if label_en is None:
                continue
            n += 1
            node = f"{W}#topic{n}"
            g.add(node, NS.RDF_TYPE, NS.BF + "Topic", iri=True)
            if (subfield(cstr, "g") or "") == "x":
                g.add(node, NS.RDF_TYPE, NS.PXC + "WeightedTopic", iri=True)
            g.add(node, NS.RDFS_LABEL, label_en)
            g.add(node, NS.SKOS + "prefLabel", label_en, lang="en")
            g.add(node, NS.SKOS + "prefLabel", de, lang="de")
            g.add(W, NS.BF + "subject", node, iri=True)
    for i, s in enumerate(rec.get("SH") or []):
        cstr = trim(s)
        code = subfield(cstr, "c")
        node = f"{W}#subjectheading{i + 1}"
        g.add(node, NS.RDF_TYPE, NS.PXC + "SubjectHeading", iri=True)
        if i == 0:
            g.add(node, NS.RDF_TYPE, NS.PXC + "SubjectHeadingWeighted", iri=True)
        if code is not None:
            g.add(node, NS.OWL + "sameAs", NS.CLASS + code, iri=True)
        g.add(W, NS.BF + "classification", node, iri=True)
    for s in rec.get("AGE") or []:
        cc = camel_case(trim(s))
        if cc is None:
            continue
        node = NS.AGE + cc
        g.add(node, NS.RDF_TYPE, NS.PXC + "AgeGroup", iri=True)
        g.add(W, NS.BFLC + "demographicGroup", node, iri=True)


def emit_genres(g, rec, W, B, annif=True):
    """N20 (reference modules/publication_types.py: get_issuance_type
    :634-671, add_work_studytypes :111-342 with the J17 recode table of
    modules/mappings.py:715-1215 and the A6 counter, add_work_genres
    :331-478; the F23 license, convert_starxml_to_bf.py:155-301). CM-less
    records get one J8 Annif stand-in code unless `annif=False`. Every
    genreForm edge is emitted: the A2 cleanup runs per subject in the
    dedup stage (operators/upsert.dedup_clean_genres)."""
    # issuance
    if rec.get("BE") is not None:
        label = _ISSUANCE.get(trim(rec["BE"])) or "Other"
        node = NS.ISSUANCES + label.replace(" ", "")
        g.add(node, NS.RDF_TYPE, NS.PXC + "IssuanceType", iri=True)
        g.add(node, NS.RDFS_LABEL, label)
        g.add(B, NS.PXP + "issuanceType", node, iri=True)
    # license (F23)
    if rec.get("COPR") is not None:
        uri = license_uri(
            subfield(rec["COPR"], "c") or "", subfield(rec["COPR"], "d")
        )
        if uri is not None:
            g.add(uri, NS.RDF_TYPE, NS.BF + "UsePolicy", iri=True)
            g.add(B, NS.BF + "usageAndAccessPolicy", uri, iri=True)
    # work genres (thesis detection) — casefold like the reference
    # (publication_types.py:379-391), not lower
    bn = (rec.get("BN") or "").casefold()
    is_thesis = (
        trim(rec.get("BE") or "") == "SH"
        or trim(rec.get("DT") or "") == "61"
        or trim(rec.get("DT2") or "") == "61"
        or "dissertation" in bn
    )
    is_habil = "habil" in bn
    cumulative = "kumulative" in bn
    genres = []  # genre names whose edges this record emits, in order
    genre = None
    if is_thesis:
        genre = "CompilationThesisDoctoral" if cumulative else "ThesisDoctoral"
    elif is_habil:
        genre = (
            "CompilationThesisHabilitation" if cumulative else "ThesisHabilitation"
        )
    if genre is not None:
        genres.append(genre)
    # CM methods (J17 + A6, J8 stub)
    cm = rec.get("CM") or []
    codes = [subfield(s, "c") for s in cm]
    if annif and not cm and rec.get("TI") is not None:
        codes = [annif_stub_code(annif_text(trim(rec["TI"]), rec.get("ABH")))]
    mapped = []
    for c in codes:
        new_cm = _CM_NEW.get(c) if c is not None else None
        new_genre = _CM_GENRE.get(c) if c is not None else None
        if new_cm is not None or new_genre is not None:
            mapped.append((new_cm, _CM_LABEL.get(c, "") if c else "", new_genre))
    mi = 0
    for new_cm, label, _genre in mapped:
        if new_cm is None:
            continue
        mi += 1
        node = f"{W}#controlledmethod{mi}"
        g.add(node, NS.RDF_TYPE, NS.PXC + "ControlledMethod", iri=True)
        if mi == 1:
            g.add(node, NS.RDF_TYPE, NS.PXC + "ControlledMethodWeighted", iri=True)
        g.add(node, NS.OWL + "sameAs", NS.METHODS + new_cm, iri=True)
        if label != "":
            g.add(node, NS.RDFS_LABEL, label)
        g.add(W, NS.BF + "classification", node, iri=True)
    for _new_cm, _label, genre2 in mapped:
        if genre2 is not None:
            genres.append(genre2)
    for name in genres:
        node = NS.GENRES + name
        g.add(node, NS.RDF_TYPE, NS.BF + "GenreForm", iri=True)
        g.add(W, NS.BF + "genreForm", node, iri=True)


_RELATORS = "http://id.loc.gov/vocabulary/relators/"
_HTTPS_RELATORS = "https://id.loc.gov/vocabulary/relators/"


def emit_funding(g, rec, W):
    """N7 (reference convert_starxml_to_bf.py get_bf_grants :943-1066, the
    P10 noise skip :948-951, the F21 grant-number split :792-811).
    Numbering is by source position, so a skipped noise GRANT still
    consumes its number."""
    for i, s in enumerate(rec.get("GRANT") or []):
        field = trim(s)
        if field is None or is_grant_noise(field):
            continue
        fr = f"{W}#fundingreference{i + 1}"
        funder = fr + "_funder"
        name = mainfield(s) or "unknown funder"
        info = subfield(s, "i")
        recipient = subfield(s, "e")
        if recipient is not None and info is not None:
            note_text = f"{info}. Recipient(s): {recipient}"
        elif recipient is not None:
            note_text = f"Recipient(s): {recipient}"
        else:
            note_text = info
        g.add(fr, NS.RDF_TYPE, NS.PXC + "FundingReference", iri=True)
        g.add(funder, NS.RDF_TYPE, NS.BF + "Agent", iri=True)
        g.add(funder, NS.RDF_TYPE, NS.PXC + "Funder", iri=True)
        g.add(fr, NS.BF + "agent", funder, iri=True)
        g.add(fr, NS.BF + "role", _RELATORS + "spn", iri=True)
        g.add(funder, NS.RDFS_LABEL, name)
        if note_text is not None:
            note_node = fr + "_note"
            g.add(note_node, NS.RDF_TYPE, NS.BF + "Note", iri=True)
            g.add(note_node, NS.RDFS_LABEL, note_text)
            g.add(fr, NS.BF + "note", note_node, iri=True)
        g.add(W, NS.BF + "contribution", fr, iri=True)
        for gi, grant_id in enumerate(split_grant_numbers(subfield(s, "n") or "")):
            gnode = f"{fr}_grant{gi + 1}"
            award = gnode + "_awardnumber"
            g.add(gnode, NS.RDF_TYPE, NS.PXC + "Grant", iri=True)
            g.add(fr, NS.PXP + "grant", gnode, iri=True)
            g.add(award, NS.RDF_TYPE, NS.PXC + "GrantId", iri=True)
            g.add(award, NS.RDF + "value", trim(grant_id))
            g.add(gnode, NS.BF + "identifiedBy", award, iri=True)


def emit_conferences(g, rec, W):
    """N8 (reference convert_starxml_to_bf.py get_bf_conferences
    :1072-1168), gated on BE ∈ {SS, SM} (P9)."""
    if trim(rec.get("BE") or "") not in ("SS", "SM"):
        return
    for i, s in enumerate(rec.get("CF") or []):
        name = mainfield(s) or "MISSING CONFERENCE NAME"
        date = subfield(s, "d")
        place = subfield(s, "o")
        extra = subfield(s, "b")
        year = None
        if date is not None:
            m = re.search(r"\d{4}", date, re.A)
            year = m.group(0) if m else None
        note = f"Date(s): {date}" if date is not None else None
        if note is not None and extra is not None:
            note = f"{note}. {extra}"
        cr = f"{W}#conferencereference{i + 1}"
        meeting = cr + "_meeting"
        g.add(cr, NS.RDF_TYPE, NS.PXC + "ConferenceReference", iri=True)
        g.add(meeting, NS.RDF_TYPE, NS.BF + "Meeting", iri=True)
        g.add(cr, NS.BF + "agent", meeting, iri=True)
        g.add(meeting, NS.RDFS_LABEL, name)
        g.add(meeting, NS.BFLC + "simpleDate", year)
        g.add(meeting, NS.BFLC + "simplePlace", place)
        if note is not None:
            note_node = cr + "_note"
            g.add(note_node, NS.RDF_TYPE, NS.BF + "Note", iri=True)
            g.add(note_node, NS.RDFS_LABEL, note)
            # reference build_note_node wires the edge too
            g.add(cr, NS.BF + "note", note_node, iri=True)
        g.add(cr, NS.BF + "role", _RELATORS + "ctb", iri=True)
        g.add(W, NS.BF + "contribution", cr, iri=True)


# relation_types config, verbatim semantics from research_info.py:33-177.
REL_TYPES: dict[str, dict] = {
    "rd_open_access": dict(relation="hasResearchData", subprop="supplement", subclass="Dataset", reltype="ResearchData", access_label="open access", access_concept="https://w3id.org/zpid/vocabs/access/open"),
    "rd_restricted_access": dict(relation="hasResearchData", subprop="supplement", subclass="Dataset", reltype="ResearchData", access_label="restricted access", access_concept="https://w3id.org/zpid/vocabs/access/open"),
    "preregistration": dict(relation="hasPreregistration", subprop="supplement", subclass="Text", reltype="Preregistration", access_label=None, access_concept=None),
    "replication": dict(relation="isReplicationOf", subprop="relatedTo", subclass="Text", reltype="Replication", access_label=None, access_concept=None),
    "reanalysis": dict(relation="isReanalysisOf", subprop="relatedTo", subclass="Text", reltype="Reanalysis", access_label=None, access_concept=None),
    "isRelatedTo": dict(relation="isRelatedTo", subprop="relatedTo", subclass="Text", reltype="RelatedWork", access_label=None, access_concept=None),
    "hasComment": dict(relation="hasComment", subprop="relatedTo", subclass="Text", reltype="RelatedWork", access_label=None, access_concept=None),
    "isCommentOn": dict(relation="isCommentOn", subprop="relatedTo", subclass="Text", reltype="RelatedWork", access_label=None, access_concept=None),
    "isReplyToComment": dict(relation="isReplyToComment", subprop="relatedTo", subclass="Text", reltype="RelatedWork", access_label=None, access_concept=None),
    "hasReplyToComment": dict(relation="hasReplyToComment", subprop="relatedTo", subclass="Text", reltype="RelatedWork", access_label=None, access_concept=None),
    "hasReplyToCommentsOnItself": dict(relation="hasReplyToCommentsOnItself", subprop="relatedTo", subclass="Text", reltype="RelatedWork", access_label=None, access_concept=None),
    "hasOlderEdition": dict(relation="hasOlderEdition", subprop="relatedTo", subclass="Text", reltype="RelatedWork", access_label=None, access_concept=None),
    "hasArticlePartOfCompilationThesis": dict(relation="hasArticlePartOfCompilationThesis", subprop="relatedTo", subclass="Text", reltype="RelatedWork", access_label=None, access_concept=None),
}

_ACCESS_OPEN = "https://w3id.org/zpid/vocabs/access/open"


def rel_nodes(W, key, count):
    """(relationship, related work, related instance) node URIs of
    build_work_relationship_node (reference research_info.py:208-241)."""
    subclass_rel = REL_TYPES[key]["reltype"] + "Relationship"
    rel = f"{W}#{subclass_rel}{count}"
    work = rel + "_work"
    inst = work + "_instance"
    return rel, work, inst


def rel_base(g, W, key, count):
    cfg = REL_TYPES[key]
    rel, work, inst = rel_nodes(W, key, count)
    g.add(rel, NS.RDF_TYPE, NS.PXC + cfg["reltype"] + "Relationship", iri=True)
    g.add(rel, NS.BFLC + "relation", NS.RELATIONS + cfg["relation"], iri=True)
    g.add(work, NS.RDF_TYPE, NS.BF + "Work", iri=True)
    g.add(work, NS.RDF_TYPE, NS.BF + cfg["subclass"], iri=True)
    g.add(rel, NS.BF + cfg["subprop"], work, iri=True)
    g.add(inst, NS.RDF_TYPE, NS.BF + "Instance", iri=True)
    g.add(work, NS.BF + "hasInstance", inst, iri=True)
    if cfg["access_label"]:
        g.add(_ACCESS_OPEN, NS.RDF_TYPE, NS.BF + "AccessPolicy", iri=True)
        g.add(_ACCESS_OPEN, NS.RDFS_LABEL, cfg["access_label"])
        g.add(_ACCESS_OPEN, NS.SKOS + "prefLabel", cfg["access_label"], lang="en")
        g.add(_ACCESS_OPEN, NS.SKOS + "prefLabel", "freier Zugang", lang="de")
        g.add(inst, NS.BF + "usageAndAccessPolicy", _ACCESS_OPEN, iri=True)
    g.add(W, NS.BFLC + "relationship", rel, iri=True)
    return rel, work, inst


def _add_doi(g, inst, doi):
    node = "https://doi.org/" + doi
    g.add(node, NS.RDF_TYPE, NS.BF + "Doi", iri=True)
    g.add(node, NS.RDF + "value", doi)
    g.add(inst, NS.BF + "identifiedBy", node, iri=True)


def _add_note(g, base, note):
    if note is None:
        return
    note_node = base + "_note"
    g.add(note_node, NS.RDF_TYPE, NS.BF + "Note", iri=True)
    g.add(note_node, NS.RDFS_LABEL, note)
    g.add(base, NS.BF + "note", note_node, iri=True)


def _add_ids(g, inst, ids, note_unknown=True):
    dois, urls, unknowns = ids
    for d in dois:
        _add_doi(g, inst, d)
    for u in urls:
        g.add(inst, NS.BF + "electronicLocator", u, iri=True)
    if note_unknown:
        for n in unknowns:
            _add_note(g, inst, trim(n))


def emit_research_data(g, rec, W):
    """N10 (reference research_info.py get_datac/get_urlai :337-496):
    DATAC (open access, |u/|d) then URLAI (restricted access), the URLAI
    counter offset by the DATAC count (A7)."""
    datac = rec.get("DATAC") or []
    for i, s in enumerate(datac):
        ids = id_sets([subfield(s, "u"), subfield(s, "d")])
        _, _, inst = rel_base(g, W, "rd_open_access", i + 1)
        _add_ids(g, inst, ids)
    for i, s in enumerate(rec.get("URLAI") or []):
        ids = id_sets([trim(s)])
        _, _, inst = rel_base(g, W, "rd_restricted_access", len(datac) + i + 1)
        _add_ids(g, inst, ids)


def emit_preregistrations(g, rec, W):
    """N11 + J20 (reference research_info.py:550-809): one relationship
    per PRREG; a trial number whose URL a prereg entry already holds
    enriches that entry, else it gets its own relationship."""
    prreg = rec.get("PRREG") or []
    entries = []
    for i, s in enumerate(prreg):
        entries.append(
            dict(
                n=i + 1,
                ids=id_sets([subfield(s, "u"), subfield(s, "d")]),
                note=subfield(s, "i"),
            )
        )
    for e in entries:
        rel, _, inst = rel_base(g, W, "preregistration", e["n"])
        unknowns = e["ids"][2]
        unknown = unknowns[0] if unknowns else None
        if e["note"] is not None and unknown is not None:
            note = f"{e['note']}. {unknown}"
        else:
            note = e["note"] if e["note"] is not None else unknown
        _add_ids(g, inst, e["ids"], note_unknown=False)
        _add_note(g, rel, note)
    # J20 trials
    trials = []
    for s in prreg:
        cleaned_s = trim(s)
        for rx, registry in _TRIAL_RES:
            m = rx.search(cleaned_s) if cleaned_s is not None else None
            if m:
                trials.append((m.group(0), registry))
    unmatched_i = 0
    for number, registry in trials:
        n = None
        for e in entries:
            if any(number in u for u in e["ids"][1]):
                n = e["n"]
                break
        if n is None:
            unmatched_i += 1
            count = len(prreg) + unmatched_i
            _, _, inst = rel_base(g, W, "preregistration", count)
        else:
            _, _, inst = rel_nodes(W, "preregistration", n)
        tn = inst + "_trialnumber"
        reg = NS.TRIALREGS + registry
        g.add(tn, NS.RDF_TYPE, NS.PXC + "TrialNumber", iri=True)
        g.add(inst, NS.BF + "identifiedBy", tn, iri=True)
        g.add(tn, NS.RDF + "value", number)
        g.add(reg, NS.RDF_TYPE, NS.PXC + "TrialRegistry", iri=True)
        g.add(tn, NS.BF + "assigner", reg, iri=True)


# citation strings the reference skips (research_info.py RPLIC, P6)
_RPLIC_SKIP = ["Testeintrag, wieder loeschen", "dittrich, K.", "no URL", "no URL |f  |u  |d "]
# a 7-digit DFK: an RPLIC |f id, or the head of a REL field
_DFK7_RE = re.compile(r"^\d{7}$", re.A)


def emit_replications(g, rec, W, rplic_res=None):
    """N12 (reference research_info.py:815-1094): identifier priority
    7-digit |f DFK > doi > url > citation; the P6 skip list; the J13/J14
    resolution map replaces the candidate DOIs."""
    for idx, s in enumerate(rec.get("RPLIC") or []):
        cstr = trim(s)
        if cstr in _RPLIC_SKIP:
            continue
        dfk = subfield(s, "f")
        main = mainfield(s)
        ids = id_sets([subfield(s, "d"), subfield(s, "u"), main])
        if rplic_res is not None and idx in rplic_res and rplic_res[idx] is not None:
            ids = (list(rplic_res[idx]), ids[1], ids[2])
        dois, urls, unknowns = ids
        dfk_ok = dfk is not None and _DFK7_RE.search(dfk)
        doi = dois[0] if dois else None
        url = urls[0] if urls else None
        citation = unknowns[0] if unknowns else None
        if main is not None and main not in _RPLIC_SKIP:
            citation = main
        if not (dfk_ok or doi is not None or url is not None or citation is not None):
            continue
        rel, work, inst = rel_base(g, W, "replication", 1)
        if dfk_ok:
            dfk_id = inst + "_dfk"
            g.add(dfk_id, NS.RDF_TYPE, NS.PXC + "DFK", iri=True)
            g.add(dfk_id, NS.RDF + "value", dfk)
            g.add(inst, NS.BF + "identifiedBy", dfk_id, iri=True)
        elif doi is not None:
            _add_doi(g, inst, doi)
        elif url is not None:
            g.add(inst, NS.BF + "electronicLocator", url, iri=True)
        else:
            g.add(inst, NS.BF + "preferredCitation", citation)


def emit_related_works(g, rec, W, rel_res=None):
    """N13 (reference research_info.py build_rels :1167-1351): REL fields
    typed by BE/BN/CM flags; a |b-only or empty REL aborts the remaining
    fields (P12); the J14 resolution map supplies searched DOIs."""
    be = trim(rec.get("BE") or "")
    book = be in ("SS", "SM")
    bn = rec.get("BN") or ""
    compilation = bn.startswith("Kumu")
    cms = rec.get("CM") or []
    has_comment = any(c.startswith("|c 14100") for c in cms)
    has_comment_reply = any(c.startswith("|c 14110") for c in cms)
    has_comment_appended = any(c.startswith("|c 14120") for c in cms)

    def rel_key(b):
        if book and b == "Original":
            return "hasOlderEdition"
        if compilation and b == "Original":
            return "hasArticlePartOfCompilationThesis"
        if has_comment and b in ("Comment", "Original"):
            return "isCommentOn"
        if has_comment and (b is None or b == "Reply"):
            return "hasReplyToComment"
        if has_comment_reply and (b is None or b in ("Comment", "Reply")):
            return "isReplyToComment"
        if has_comment_reply and b == "Original":
            return "hasReplyToCommentsOnItself"
        if has_comment_appended:
            return "isCommentOn"
        if b == "Comment":
            return "hasComment"
        if b == "Reply":
            return "hasReplyToCommentsOnItself"
        return "isRelatedTo"

    for i, s in enumerate(rec.get("REL") or []):
        cstr = trim(s)
        # P12 abort on the first |b-only or empty field
        if cstr == "" or (cstr.startswith("|b") and cstr.count("|") == 1):
            break
        b = subfield(s, "b")
        key = rel_key(b)
        rel, work, inst = rel_base(g, W, key, i + 1)
        head = cstr[:7]
        dfk = head if _DFK7_RE.search(head) else None
        value, typ_ = check_for_url_or_doi(trim(s))
        doi = value if (dfk is None and typ_ == "doi") else None
        url = value if (dfk is None and typ_ == "url") else None
        citation = rel_citation(s)
        crossref_doi = rel_res.get(i) if rel_res else None
        if dfk is not None:
            dfk_id = inst + "_dfk"
            g.add(dfk_id, NS.RDF_TYPE, NS.PXC + "DFK", iri=True)
            g.add(dfk_id, NS.RDF + "value", dfk)
            g.add(inst, NS.BF + "identifiedBy", dfk_id, iri=True)
        elif doi is not None:
            _add_doi(g, inst, doi)
        elif url is not None:
            g.add(inst, NS.BF + "electronicLocator", url, iri=True)
        elif crossref_doi is not None:
            _add_doi(g, inst, crossref_doi)
        elif citation is not None:
            g.add(inst, NS.BF + "preferredCitation", citation)


def emit_tests(g, rec, W, testg_res=None):
    """N14 (reference research_info.py:1404-1605): work#TestRelationship
    {index + 1} (1-based, :1524) with its pxc:Test node."""
    for i, p in enumerate(testg_parsed_of(rec, testg_res)):
        if p["short"] is None and p["long"] is None:
            continue
        rel = f"{W}#TestRelationship{i + 1}"
        test = rel + "_test"
        g.add(rel, NS.RDF_TYPE, NS.BFLC + "Relationship", iri=True)
        g.add(rel, NS.RDF_TYPE, NS.PXC + "TestRelationship", iri=True)
        g.add(W, NS.BFLC + "relationship", rel, iri=True)
        g.add(test, NS.RDF_TYPE, NS.PXC + "Test", iri=True)
        if p["test_id"] is None:
            g.add(test, NS.RDF_TYPE, NS.BFLC + "Uncontrolled", iri=True)
        g.add(rel, NS.BFLC + "relatedTo", test, iri=True)
        if p["long"] is not None:
            long_node = test + "_longName"
            g.add(long_node, NS.RDF_TYPE, NS.BF + "Title", iri=True)
            g.add(long_node, NS.BF + "mainTitle", p["long"])
            g.add(test, NS.BF + "title", long_node, iri=True)
        if p["short"] is not None:
            short_node = test + "_shortName"
            g.add(short_node, NS.RDF_TYPE, NS.BF + "AbbreviatedTitle", iri=True)
            g.add(short_node, NS.BF + "mainTitle", p["short"])
            g.add(test, NS.BF + "title", short_node, iri=True)
        if p["remark"] is not None:
            remark_node = rel + "_remark"
            g.add(remark_node, NS.RDF_TYPE, NS.BF + "Note", iri=True)
            g.add(remark_node, NS.RDFS_LABEL, p["remark"])
            g.add(rel, NS.BF + "note", remark_node, iri=True)
        if p["test_id"] is not None:
            tid = test + "_testId"
            g.add(tid, NS.RDF_TYPE, NS.PXC + "PsytkomTestId", iri=True)
            g.add(tid, NS.RDF + "value", p["test_id"])
            g.add(test, NS.BF + "identifiedBy", tid, iri=True)
        if p["unc_id"] is not None and trim(p["unc_id"]) != "0000":
            g.add(test, NS.PXP + "uncontrolledTestId", p["unc_id"])
        g.add(rel, NS.PXP + "allItemsInWork", "true" if p["items"] else "false",
              dtype=NS.XSD_BOOLEAN)
        g.add(rel, NS.BFLC + "relation", NS.RELATIONS + p["relation"], iri=True)


def emit_journal(g, rec, B):
    """N19 journal and series relationships (reference
    modules/instance_sources.py:194-288)."""
    if rec.get("JT") is not None:
        jt = trim(rec["JT"])
        vol = trim(rec.get("JBD"))
        issue = trim(rec.get("JHFT"))
        ps, pe, _extent, art = split_pages_f(trim(rec.get("PAGE")))
        issn = normalize_issn(rec["ISSN"]) if rec.get("ISSN") is not None else None
        eissn = normalize_issn(rec["EISSN"]) if rec.get("EISSN") is not None else None
        rel = B + "#journalrel"
        journal = rel + "_journal"
        title_node = journal + "_title"
        enumeration = (
            (f" {vol}" if vol is not None else "")
            + (f"({issue})" if issue is not None else "")
            + (f", p. {ps}" if ps is not None else "")
            + (f"-{pe}" if pe is not None else "")
            + (f", Article number: {art}" if art is not None else "")
        )
        g.add(B, NS.BFLC + "relationship", rel, iri=True)
        g.add(rel, NS.RDF_TYPE, NS.BFLC + "Relationship", iri=True)
        g.add(rel, NS.BF + "relatedTo", journal, iri=True)
        g.add(journal, NS.RDF_TYPE, NS.BF + "Serial", iri=True)
        g.add(journal, NS.RDF_TYPE, NS.BF + "Hub", iri=True)
        g.add(journal, NS.BF + "title", title_node, iri=True)
        g.add(title_node, NS.RDF_TYPE, NS.BF + "Title", iri=True)
        g.add(title_node, NS.BF + "mainTitle", jt)
        if issn is not None:
            node = journal + "_issnprint"
            g.add(node, NS.RDF_TYPE, NS.BF + "Issn", iri=True)
            g.add(node, NS.RDF + "value", issn)
            g.add(node, NS.BF + "qualifier", "print")
            g.add(journal, NS.BF + "identifiedBy", node, iri=True)
        if eissn is not None:
            node = journal + "_issnonline"
            g.add(node, NS.RDF_TYPE, NS.BF + "Issn", iri=True)
            g.add(node, NS.RDF + "value", eissn)
            g.add(node, NS.BF + "qualifier", "online")
            g.add(journal, NS.BF + "identifiedBy", node, iri=True)
        g.add(rel, NS.PXP + "inVolume", vol)
        g.add(rel, NS.PXP + "inIssue", issue)
        g.add(rel, NS.PXP + "pageStart", ps)
        g.add(rel, NS.PXP + "pageEnd", pe)
        if art is not None:
            art_node = rel + "_article_number"
            g.add(art_node, NS.RDF_TYPE, NS.PXC + "ArticleNumber", iri=True)
            g.add(art_node, NS.RDF + "value", art)
            g.add(rel, NS.BF + "identifiedBy", art_node, iri=True)
        g.add(B, NS.BF + "seriesStatement", jt)
        if trim(enumeration) != "":
            g.add(rel, NS.BF + "seriesEnumeration", trim(enumeration))
    if rec.get("SE") is not None:
        s_title, s_vol = split_series_f(trim(rec["SE"]))
        srel = B + "#seriesrel"
        series = srel + "_series"
        stitle = series + "_title"
        g.add(B, NS.BF + "seriesStatement", s_title)
        g.add(B, NS.BFLC + "relationship", srel, iri=True)
        g.add(srel, NS.RDF_TYPE, NS.BFLC + "Relationship", iri=True)
        g.add(srel, NS.BF + "relatedTo", series, iri=True)
        g.add(series, NS.RDF_TYPE, NS.BF + "Series", iri=True)
        g.add(series, NS.RDF_TYPE, NS.BF + "Hub", iri=True)
        g.add(series, NS.BF + "title", stitle, iri=True)
        g.add(stitle, NS.RDF_TYPE, NS.BF + "Title", iri=True)
        g.add(stitle, NS.BF + "mainTitle", s_title)
        g.add(srel, NS.BF + "seriesEnumeration", s_vol)


def emit_book(g, rec, B):
    """N19 / J19 book relationship (reference modules/instance_sources.py
    :339-428, P8 chapter gate convert_starxml_to_bf.py:1383)."""
    if trim(rec.get("BE") or "") not in ("US", "UR"):
        return
    rel = B + "#bookrel"
    book = rel + "_book"
    ssdfk = nullif_empty(rec.get("SSDFK"))
    ps, pe, extent, art = split_pages_f(trim(rec.get("PAGE")))
    g.add(B, NS.BFLC + "relationship", rel, iri=True)
    g.add(rel, NS.RDF_TYPE, NS.BFLC + "Relationship", iri=True)
    g.add(rel, NS.BF + "partOf", book, iri=True)
    g.add(book, NS.RDF_TYPE, NS.PXC + "InstanceBundle", iri=True)
    if ssdfk is not None:
        target = NS.INSTANCEBUNDLES + ssdfk
        g.add(book, NS.OWL + "sameAs", target, iri=True)
        g.add(target, NS.RDF_TYPE, NS.PXC + "InstanceBundle", iri=True)
    else:
        g.add(book, NS.RDF_TYPE, NS.BFLC + "Uncontrolled", iri=True)
    bip = nullif_empty(rec.get("BIP"))
    if bip is not None:
        # BIP book title — always exported, even alongside the SSDFK link
        # (instance_sources.py:404-410)
        btitle = book + "_title"
        g.add(btitle, NS.RDF_TYPE, NS.BF + "Title", iri=True)
        g.add(btitle, NS.BF + "mainTitle", bip)
        g.add(book, NS.BF + "title", btitle, iri=True)
    g.add(rel, NS.PXP + "pageStart", ps)
    g.add(rel, NS.PXP + "pageEnd", pe)
    g.add(B, NS.PXP + "extent", extent)
    if art is not None:
        art_node = rel + "_article_number"
        g.add(art_node, NS.RDF_TYPE, NS.PXC + "ArticleNumber", iri=True)
        g.add(art_node, NS.RDF + "value", art)
        g.add(rel, NS.BF + "identifiedBy", art_node, iri=True)


def emit_thesis(g, rec, W, contribs):
    """N15 (reference research_info.py: thesis_infos :1621-1631, the F16
    date :1784-1825, build_thesis_nodes :1828-1912,
    add_thesis_info_to_first_contributon :1913-1960)."""
    # Thesis gate (reference get_thesis_info, research_info.py:1649): only
    # BE=="SH" or DT/DT2=="61" records are theses — GRAD/PD extraction
    # happens inside that branch, so a plain article's PY never becomes a
    # degree date.
    if not (
        rec.get("BE") == "SH" or rec.get("DT") == "61" or rec.get("DT2") == "61"
    ):
        return
    degree = nullif_empty(rec.get("GRAD"))
    # PD→PROMY only — the reference's PY fallback is dead code (see thesis.py)
    d_value, _d_kind = date_or_year(rec.get("PD"), rec.get("PROMY"))
    has_core = degree is not None or d_value is not None
    if not has_core:
        return
    diss = W + "#dissertation"
    g.add(diss, NS.RDF_TYPE, NS.BF + "Dissertation", iri=True)
    g.add(W, NS.BF + "dissertation", diss, iri=True)
    g.add(diss, NS.BF + "degree", degree)
    g.add(diss, NS.BF + "date", d_value)

    def person_contribution(node, cls, name, role):
        person = node + "_person"
        g.add(node, NS.RDF_TYPE, NS.BF + "Contribution", iri=True)
        g.add(node, NS.RDF_TYPE, NS.BF + cls, iri=True)
        g.add(W, NS.BF + "contribution", node, iri=True)
        g.add(person, NS.RDF_TYPE, NS.BF + "Person", iri=True)
        g.add(node, NS.BF + "agent", person, iri=True)
        g.add(person, NS.SCHEMA + "familyName", family_name(name))
        gv = given_name(name)
        g.add(person, NS.SCHEMA + "givenName", gv if gv is not None else "")
        g.add(node, NS.BF + "role", _HTTPS_RELATORS + role, iri=True)

    hrf = rec.get("HRF") or []
    advisor_name = hrf[0] if hrf else None
    if advisor_name is not None:
        person_contribution(W + "#thesis_advisor", "ThesisAdvisory", advisor_name, "ths")
        for i, s in enumerate(rec.get("KRF") or []):
            person_contribution(
                f"{W}#thesis_reviewer_{i + 1}", "ThesisReview", trim(s), "dgc"
            )

    first = contribs[0] if contribs else None
    first_is_person = first is not None and first["kind"] == "person"
    inst = nullif_empty(rec.get("INST"))
    if inst is not None and first_is_person:
        cnode = W + "#contribution1"
        g.add(cnode, NS.BF + "role", _HTTPS_RELATORS + "dis", iri=True)
        no_aff = first["org"] is None and first["country"] is None
        if no_aff:
            emit_affiliation(g, inst, None, cnode, cnode + "_personagent")


def record_triples(rec: dict, sink: Sink | None = None, annif: bool = True):
    """One record dict -> (subj, pred, obj, obj_is_iri, lang, dtype) rows.

    The emit_* order below is the emit order; the triple sets are pinned
    by tests/test_arrow_parity.py and checked against the golden oracle
    by tests/test_golden.py. Optional keys `_rplic_res` / `_rel_res` /
    `_testg_res` carry the offline-linking resolution maps
    (plans/crossref.py J13-J15) keyed by 0-based mention index.

    With `sink` given, appends into it and returns None (the batched hot
    path); without, returns a list of row tuples.
    """
    g = Sink() if sink is None else sink
    dfk = rec.get("DFK")
    if dfk is None:
        return [] if sink is None else None
    W = f"{NS.WORKS}{dfk}_work"
    B = f"{NS.INSTANCEBUNDLES}{dfk}"
    insts = instances_of(rec)
    contribs = contributions_of(rec)
    doi_checked = check_for_url_or_doi(rec.get("DOI"))
    emit_work_core(g, rec, W, B)
    emit_titles(g, rec, B)
    emit_instances(g, rec, W, B, insts)
    emit_identifiers(g, rec, B, insts, doi_checked)
    emit_publication(g, rec, B)
    emit_contributions(g, rec, W, contribs)
    emit_abstract(g, rec, W, "ABH", "ABLH", "ASH1", "ASH2", secondary=False)
    emit_abstract(g, rec, W, "ABN", "ABLN", "ASN1", "ASN2", secondary=True)
    emit_terms(g, rec, W)
    emit_genres(g, rec, W, B, annif=annif)
    emit_funding(g, rec, W)
    emit_conferences(g, rec, W)
    emit_research_data(g, rec, W)
    emit_preregistrations(g, rec, W)
    emit_replications(g, rec, W, rec.get("_rplic_res"))
    emit_related_works(g, rec, W, rec.get("_rel_res"))
    emit_tests(g, rec, W, rec.get("_testg_res"))
    emit_journal(g, rec, B)
    emit_book(g, rec, B)
    emit_thesis(g, rec, W, contribs)
    return list(g.rows_iter()) if sink is None else None


# --------------------------------------------------------------------------
# in-stage linking: the plans/enrich.py joins as per-record dict lookups
# --------------------------------------------------------------------------

_KEY_PUNCT_RE = re.compile(r"[.,;:()]+")
# Java's \s is ASCII-only: NBSP does not fold
_KEY_SPACE_RE = re.compile(r"[ \t\n\x0b\f\r]+")


def norm_key(s):
    """operators/linking.norm_key: F.lower(F.trim(s)) (F.trim strips only
    U+0020), punctuation runs and Java \\s runs to one space, F.trim."""
    if s is None:
        return None
    s = _KEY_PUNCT_RE.sub(" ", s.strip(" ").lower())
    return _KEY_SPACE_RE.sub(" ", s).strip(" ")


_FUNDER_FULL = dict(funder_names_full_replacelist)


def canonicalize_funder_name(s):
    """functions/grants.canonicalize_funder_name (F28): the full-name map,
    then the first substring rule in table order."""
    s = _FUNDER_FULL.get(s, s)
    for substr, repl in funder_names_substr_replacelist:
        if substr in s:
            return repl
    return s


def authority_links(org_rows=(), concept_rows=()) -> dict:
    """auth_orgs / auth_concepts rows -> the lookup dicts of link_record,
    with the winners of plans/enrich.py's authority windows:

    - orgs: norm_key(name or alias) -> (org_id, fundref_doi,
      country_name); names before aliases, then the lowest org_id
      (_org_authority; Spark sorts NULL first);
    - topics: label_en -> uri over terms/addterms; terms first, then the
      lowest uri (topic_links);
    - genres, licenses: uri -> [(label_de, label_en), ...], every row
      (genre_labels / license_labels join the vocab undeduplicated).

    NULL keys are left out, as they never match in a join."""
    orgs, org_rank = {}, {}
    for r in org_rows:
        org_id = r["org_id"]
        rank_id = (org_id is not None, org_id or "")
        names = [(r["name"], 0)] + [(a, 1) for a in r["aliases"] or ()]
        for name, pref in names:
            key = norm_key(name)
            if key is None:
                continue
            rank = (pref, *rank_id)
            if key not in org_rank or rank < org_rank[key]:
                org_rank[key] = rank
                orgs[key] = (org_id, r["fundref_doi"], r["country_name"])
    topics, topic_rank = {}, {}
    genres, licenses = {}, {}
    for r in concept_rows:
        vocab, uri, label_en = r["vocab"], r["uri"], r["label_en"]
        if vocab in ("terms", "addterms") and label_en is not None:
            rank = (vocab != "terms", uri is not None, uri or "")
            if label_en not in topic_rank or rank < topic_rank[label_en]:
                topic_rank[label_en] = rank
                topics[label_en] = uri
        elif vocab in ("genres", "licenses") and uri is not None:
            table = genres if vocab == "genres" else licenses
            table.setdefault(uri, []).append((r["label_de"], label_en))
    return {"orgs": orgs, "topics": topics, "genres": genres, "licenses": licenses}


def _funder_doi(label, orgs):
    """J3 + J4: the preferred org for the canonical key; the pre-comma
    key only when that yields no FundRef DOI."""
    canon = canonicalize_funder_name(label)
    hit = orgs.get(norm_key(canon))
    if (hit is None or hit[1] is None) and "," in canon:
        hit = orgs.get(norm_key(canon.split(",", 1)[0]))
    return None if hit is None else hit[1]


_ORG = "_organization"


def link_record(g: Sink, start: int, links: dict) -> None:
    """Append the link triples of the record held in g[start:] — the
    rules of plans/enrich.py (their DataFrame-join form, which
    tests/test_arrow_linking.py checks this pass against), applied per
    record as the reference does:

    - J5 topic owl:sameAs, J6 genre and license labels;
    - J1 ROR id nodes and J3/J4 FundRef DOI nodes;
    - J2 country fill for organizations whose affiliation has no address.

    Exact against the joins: every rule but J2 maps one triple, so
    applying it before the dedup gives the same set. J2 checks the
    address per affiliation node, and affiliation nodes are record-local
    (<W>#contribution<n>_..._affiliation1), so under the pages-table
    contract (one page per DFK) this record holds every triple of its
    affiliations."""
    add = g.add
    subj, pred, obj, lang = g.subj, g.pred, g.obj, g.lang
    orgs, topics = links["orgs"], links["topics"]
    genres, licenses = links["genres"], links["licenses"]
    org_labels, have_addr = [], set()
    for i in range(start, len(subj)):
        p, s, o = pred[i], subj[i], obj[i]
        if p == NS.RDFS_LABEL:
            if s.endswith(_ORG):
                org_labels.append((s, o))
            elif s.endswith("_funder"):
                doi = _funder_doi(o, orgs)
                if doi is not None:
                    fnode = s + "_funderid"
                    add(fnode, NS.RDF_TYPE, NS.PXC + "FundRefDoi", iri=True)
                    add(fnode, NS.RDF + "value", doi)
                    add(s, NS.BF + "identifiedBy", fnode, iri=True)
        elif p == NS.SKOS + "prefLabel":
            if lang[i] == "en" and "#topic" in s:
                add(s, NS.OWL + "sameAs", topics.get(o), iri=True)
        elif p == NS.BF + "genreForm":
            for de, en in genres.get(o, ()):
                add(o, NS.SKOS + "prefLabel", de, lang="de")
                add(o, NS.SKOS + "prefLabel", en, lang="en")
                add(o, NS.RDFS_LABEL, en)
        elif p == NS.BF + "usageAndAccessPolicy":
            for de, en in licenses.get(o, ()):
                add(o, NS.SKOS + "prefLabel", de, lang="de")
                add(o, NS.SKOS + "prefLabel", en, lang="en")
        elif p == NS.MADS + "hasAffiliationAddress":
            have_addr.add(s)
    for s, label in org_labels:
        hit = orgs.get(norm_key(label))
        if hit is None:
            continue
        org_id, _doi, country = hit
        ror = s + "_rorid"
        add(ror, NS.RDF_TYPE, NS.LOCID + "ror", iri=True)
        add(ror, NS.RDF + "value", org_id)
        add(s, NS.BF + "identifiedBy", ror, iri=True)
        aff = s[: -len(_ORG)]
        if country is None or aff in have_addr:
            continue
        addr = aff + "_address"
        cnode = addr + "_country"
        # geonames_name / geonames_id: casefold of the F.trim-ed name
        geo = _GEO.get(country.strip(" ").casefold())
        add(aff, NS.MADS + "hasAffiliationAddress", addr, iri=True)
        add(addr, NS.RDF_TYPE, NS.MADS + "Address", iri=True)
        add(addr, NS.MADS + "country", cnode, iri=True)
        add(cnode, NS.RDF_TYPE, NS.MADS + "Country", iri=True)
        add(cnode, NS.RDFS_LABEL, geo[0] if geo else country)
        if geo is not None and geo[1] is not None:
            gnode = cnode + "_geonamesid"
            add(cnode, NS.BF + "identifiedBy", gnode, iri=True)
            add(gnode, NS.RDF_TYPE, NS.LOCID + "geonames", iri=True)
            add(gnode, NS.RDF + "value", geo[1])


# --------------------------------------------------------------------------
# page-text parsing twin (extract/parser.py) + mapInPandas wrapper
# --------------------------------------------------------------------------

_SCALARS = set(SCALAR_FIELDS)
_REPEATED = set(REPEATED_FIELDS)
_LINE_RE = re.compile(r"^([A-Z][A-Z0-9]*) (.*)$", re.A)


def parse_page_text(text: str) -> dict:
    """pages.text ('TAG value' lines) -> record dict; F1+F2 cleaning is
    applied to the whole text first, exactly like extract_records.

    The line split is `partition(' ')` + schema-set membership rather
    than the _LINE_RE regex: the regex's [A-Z][A-Z0-9]* tag constraint
    is subsumed by the tag having to be a known SCALAR/REPEATED field
    (all uppercase-alnum by construction), and its mandatory space is
    the partition separator check — equivalence is pinned by
    test_parse_page_text_partition_equals_regex, and the partition form
    drops ~250k regex matches per 3000 pages (~7% of kernel CPU)."""
    rec: dict = {}
    if text is None:
        return rec
    # Universal-newline normalize before the line split (\r\n and lone
    # \r → \n): Common-Crawl-style payloads carry CRLF, and a \r left on
    # a value would hit the one boundary where the two engines' trims
    # disagree (Python str.strip() removes \r, Spark's trim only 0x20);
    # a BARE \r mid-line would additionally split this parser from
    # extract_records at the regex level (Java's '.' excludes \r,
    # Python's partition keeps it). Treating every \r as a line break
    # keeps both parsers identical on any line-ending convention
    # (test_arrow_parity CRLF/CR tests).
    if "\r" in text:
        text = text.replace("\r\n", "\n").replace("\r", "\n")
    for line in clean_text(text).split("\n"):
        tag, sep, value = line.partition(" ")
        if not sep:
            continue
        if tag in _SCALARS:
            rec.setdefault(tag, value)
        elif tag in _REPEATED:
            rec.setdefault(tag, []).append(value)
    return rec


_RES_COLS = ("_rplic_res", "_rel_res", "_testg_res", "_kerndaten")


def emit_triples_arrow(
    df,
    bad_dfks: frozenset | None = None,
    annif: bool = True,
    links: dict | None = None,
):
    """records-or-pages DataFrame -> triples DataFrame via one Arrow stage.

    Input is either the canonical records shape (has a DFK column — output
    of extract_records / starxml) or the raw pages shape (url, text, ...);
    pages are parsed in-stage (parse_page_text). On both shapes the
    `_RES_COLS` resolution maps ride along as columns (build_triples'
    maps route joins them onto the pages on url). `bad_dfks` applies the
    S3 kill-list inside the stage, on both input shapes: a record whose
    DFK (the cleaned first value, the one the emit uses) is in the set
    emits nothing. build_triples collects it from bad_ids once per builder.
    `links` (authority_links' dicts) runs link_record over each record's
    triples, so the stage also emits the J1-J6 link triples.
    `annif=False` models
    the reference's offline degrade (no J8 suggestion for CM-less works —
    the mode the reference-exec oracle compares against).
    """
    pages_mode = "DFK" not in df.columns
    res_cols = [c for c in _RES_COLS if c in df.columns]
    if pages_mode:
        src = df.select("text", *res_cols)
    else:
        keep = ["url"] + [f for f in SCALAR_FIELDS + REPEATED_FIELDS if f in df.columns]
        src = df.select(*keep, *res_cols)
    bad = bad_dfks or frozenset()

    def _coerce(v):
        """Arrow cell -> plain Python: map pairs->dict, NaN->None."""
        if v is None or isinstance(v, (str, list)):
            return v
        if isinstance(v, dict):
            return v
        if isinstance(v, float) and pd.isna(v):
            return None
        return v

    def _coerce_map(v):
        """pyarrow MapArray.to_pylist yields [(k, v), ...]; make a dict."""
        if v is None:
            return None
        if isinstance(v, dict):
            return v
        return dict(v)

    flush_rows = 200_000  # bound per-task memory regardless of batch size

    def run(batches):
        # mapInArrow: RecordBatch in / RecordBatch out — no pandas frame
        # construction (measured ~16× cheaper on the output side)
        g = Sink()
        for batch in batches:
            names = batch.schema.names
            cols = {n: batch.column(i).to_pylist() for i, n in enumerate(names)}
            n_rows = batch.num_rows
            for r in range(n_rows):
                if pages_mode:
                    rec = parse_page_text(cols["text"][r])
                    for rc in res_cols:
                        rec[rc] = _coerce_map(cols[rc][r])
                else:
                    rec = {
                        k: (
                            _coerce_map(cols[k][r])
                            if k in _RES_COLS
                            else _coerce(cols[k][r])
                        )
                        for k in names
                    }
                if rec.get("DFK") is None or rec["DFK"] in bad:
                    continue
                start = len(g)
                record_triples(rec, g, annif=annif)
                if links is not None:
                    link_record(g, start, links)
                if len(g) >= flush_rows:
                    yield g.record_batch()
                    g = Sink()
        yield g.record_batch()

    return src.mapInArrow(run, triples_schema())


# --------------------------------------------------------------------------
# mention pass: the rows the offline-linking resolution maps join on
# --------------------------------------------------------------------------


def page_mentions(url, rec):
    """One parsed record -> (url, kind, idx, main, dois, n_urls, key) rows,
    only for the entries a resolution map reads. `idx` is the entry's
    position in its field, counted as the emitter counts it, so a map
    keyed by it lines up with the emit by construction:
    - paup: PAUP entries with an |n id (key; J9 kerndaten fallback);
    - rplic: every RPLIC entry (emit_replications counts P6 skips too),
      with its main part, its id_sets DOIs, the number of its URLs and
      its first unknown (key; J13/J14);
    - rel: REL entries whose trimmed string is neither DOI nor URL, with
      a citation (key) and no 7-digit DFK head (J14);
    - testg: TESTG entries with no |c test id and a long name (key; J15).
    A record without a DFK emits nothing, so it has no mentions."""
    if rec.get("DFK") is None:
        return
    for idx, s in enumerate(rec.get("PAUP") or []):
        paup_id = subfield(s, "n")
        if paup_id is not None:
            yield (url, "paup", idx, None, None, None, paup_id)
    for idx, s in enumerate(rec.get("RPLIC") or []):
        main = mainfield(s)
        dois, urls, unknowns = id_sets([subfield(s, "d"), subfield(s, "u"), main])
        first_unknown = unknowns[0] if unknowns else None
        yield (url, "rplic", idx, main, dois, len(urls), first_unknown)
    for idx, s in enumerate(rec.get("REL") or []):
        cstr = trim(s)
        citation = rel_citation(s)
        if (
            citation is not None
            and not _DFK7_RE.search(cstr[:7])
            and check_for_url_or_doi(cstr)[1] == "unknown"
        ):
            yield (url, "rel", idx, None, None, None, citation)
    for idx, s in enumerate(rec.get("TESTG") or []):
        if subfield(s, "c") is None:
            long_v = testg_long(s)
            if long_v is not None:
                yield (url, "testg", idx, None, None, None, long_v)


def mentions_arrow(pages):
    """pages(url, text) -> the mention table (url, kind, idx, main, dois,
    n_urls, key) via one narrow mapInArrow stage over the emitter's own
    parser (parse_page_text, page_mentions). The kerndaten and
    Crossref/tests resolution maps filter it on `kind`."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import from_arrow_schema

    schema = pa.schema([
        ("url", pa.string()), ("kind", pa.string()), ("idx", pa.int32()),
        ("main", pa.string()), ("dois", pa.list_(pa.string())),
        ("n_urls", pa.int32()), ("key", pa.string()),
    ])

    def run(batches):
        for batch in batches:
            urls = batch.column("url").to_pylist()
            texts = batch.column("text").to_pylist()
            rows = [
                row
                for url, text in zip(urls, texts)
                for row in page_mentions(url, parse_page_text(text))
            ]
            cols = list(zip(*rows)) or [()] * len(schema)
            yield pa.record_batch(
                [pa.array(c, type=f.type) for c, f in zip(cols, schema)],
                schema=schema,
            )

    return pages.select("url", "text").mapInArrow(run, from_arrow_schema(schema))
