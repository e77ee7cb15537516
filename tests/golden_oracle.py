"""Golden-triple oracle: pure-Python, row-at-a-time record→RDF emitter.

Independent re-implementation of the reference's record→BIBFRAME semantics
(/root/reference/convert_starxml_to_bf.py + modules/*, structured the same
way: one function per node builder, per-record loops, mutable triple set) —
used as the `golden_triples` fixture (FIXTURES.md §4). The Spark engine must
match this set at P/R ≥ 0.95 (BASELINE.json).

A triple is (subj, pred, obj, obj_is_iri, lang, dtype).
"""

from __future__ import annotations

import re
import urllib.parse

from psyndex2linkeddata_spark import namespaces as NS
from psyndex2linkeddata_spark.data.tables import (
    cm_mapping_lookup,
    dd_codes,
    geonames_countries,
    issuancetypes,
)
from psyndex2linkeddata_spark.functions.cleaning import _BASIC_ENTITIES
from psyndex2linkeddata_spark.functions.lang import (
    LANG_VARIANTS,
    _DE_STOPWORDS,
    _EN_STOPWORDS,
)
from psyndex2linkeddata_spark.functions.licenses import _EXACT_LICENSE_CODES, _ORIGIN_MAP
from psyndex2linkeddata_spark.functions.trials import TRIAL_NUMBER_REGEXES
from tests.oracles import check_for_url_or_doi, split_pages, split_series

Triple = tuple


# --- scalar helpers (mirror functions/*, cited there) -----------------------

def clean(s):
    if s is None:
        return None
    for raw, repl in dd_codes:
        s = s.replace(raw, repl)
    for raw, repl in _BASIC_ENTITIES:
        if raw == "&amp;":
            continue
        s = s.replace(raw, repl)
    return s.replace("&amp;", "&")


def collapse(s):
    return re.sub(" {2,}", " ", s).strip()


def mainfield(s):
    if s is None:
        return None
    v = collapse(s).split("|", 1)[0].strip()
    return v or None


def subfield(s, name):
    if s is None:
        return None
    c = collapse(s)
    if f"|{name}" not in c:
        return None
    parts = c.split(f"|{name}", 2)
    if len(parts) < 2:
        return None
    v = parts[1].strip().split("|", 1)[0].strip()
    return v or None


def langtag(name, idx):
    if name is None:
        return "und"
    return LANG_VARIANTS.get(name.strip(), ("und", "und"))[idx]


def _hits(text, words):
    if not text:
        return 0
    return len(re.findall(r"(?i)\b(" + "|".join(words) + r")\b", text))


def guess_language(text):
    de, en = _hits(text, _DE_STOPWORDS), _hits(text, _EN_STOPWORDS)
    if de > en:
        return "de"
    if en > 0:
        return "en"
    return "und"


def lang_or_guess(lang_field, text):
    if lang_field is not None:
        t = langtag(lang_field, 0)
        if t != "und":
            return t
    return guess_language(text)


GEO = {name.casefold(): (name, gid) for name, gid, _ in geonames_countries}
_COUNTRY_FIXES = {
    "COSTA": "Costa Rica", "CZECH": "Czech Republic", "NEW": "New Zealand",
    "SAUDI": "Saudi Arabia", "PEOPLES": "People's Republic of China",
}


def sanitize_country(c):
    return _COUNTRY_FIXES.get(c, c) if c is not None else None


def family_given(name):
    # reference contributions.py:286-303: split(',')[0]/[1] regardless of
    # comma count (Python split keeps trailing empties, so 'X (nifbe),'
    # → family 'X (nifbe)', given ''); the no-comma except branch sets
    # givenname='' and the triple is still emitted
    parts = name.split(",")
    if len(parts) >= 2:
        return parts[0].strip(), parts[1].strip()
    return name.strip(), ""


def clean_email(email):
    if email is None:
        return None
    s = re.sub(r"\s*@\s*", "@", email.strip())
    s = re.sub(r"\s+", "_", s)
    if re.match(r"^[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}$", s):
        return s
    return None


def clean_orcid(s):
    if s is None:
        return None
    m = re.search(r"(\d{4}-){3}\d{3}[\dX]", s.strip())
    return m.group(0) if m else None


def parse_fuzzy_date(s):
    """Mirror of functions/dates.parse_fuzzy_date's format cascade."""
    import datetime as dt

    if s is None:
        return None
    s = s.strip()
    for fmt in ("%Y-%m-%d", "%d.%m.%Y", "%Y/%m/%d", "%B %Y", "%d %B %Y", "%B %d, %Y"):
        try:
            return dt.datetime.strptime(s, fmt).date().isoformat()
        except ValueError:
            continue
    # dateparser month-name forms (reference feeds PHIST |o like
    # '27 Mar 2022' / 'MAR  2022' to dateparser.parse): any-case
    # English/German month names + 3-letter abbreviations, flexible
    # whitespace; missing day → 1 (deterministic stand-in for
    # dateparser's wall-clock PREFER_DAY_OF_MONTH default)
    months = {}
    for i, m in enumerate(
        ["january", "february", "march", "april", "may", "june", "july",
         "august", "september", "october", "november", "december",
         "januar", "februar", "märz", "april", "mai", "juni", "juli",
         "august", "september", "oktober", "november", "dezember"]
    ):
        months[m] = i % 12 + 1
        months[m[:3]] = i % 12 + 1
    for pat, g in (
        (r"(\d{1,2})\.?\s+([A-Za-zäöüÄÖÜ]+),?\s+(\d{4})", (3, 2, 1)),
        (r"([A-Za-zäöüÄÖÜ]+)\.?\s+(\d{1,2}),?\s+(\d{4})", (3, 1, 2)),
        (r"([A-Za-zäöüÄÖÜ]+)\s+(\d{4})", (2, 1, None)),
    ):
        m = re.fullmatch(pat, s)
        if m and m.group(g[1]).lower() in months:
            try:
                return dt.date(
                    int(m.group(g[0])),
                    months[m.group(g[1]).lower()],
                    int(m.group(g[2])) if g[2] else 1,
                ).isoformat()
            except ValueError:
                return None
    # Spark's d.M.yyyy allows single digits; strptime %d.%m.%Y does too
    return None


def date_or_year(date_s, *year_fallbacks):
    parsed = parse_fuzzy_date(date_s)
    if parsed is not None:
        return parsed, "date"
    if date_s is not None:
        m = re.match(r"^(\d{4})$", date_s.strip())
        if m:
            return m.group(1), "gYear"
    for yf in year_fallbacks:
        if yf is not None:
            m = re.search(r"(\d{4})", yf.strip())
            if m:
                return m.group(1), "gYear"
    return None, None


def camel_case(s):
    spaced = re.sub(r"(_|-)+", " ", s)
    joined = "".join(w[:1].upper() + w[1:].lower() for w in spaced.split(" ") if w)
    return joined[:1].lower() + joined[1:]


def norm_issn(s):
    return clean(s.strip().upper()).replace("^DDS", "-")


# --- triple emission --------------------------------------------------------

class G:
    """rdflib.Graph stand-in: a set of 6-tuples."""

    def __init__(self):
        self.t = set()

    def add(self, s, p, o, iri=False, lang=None, dtype=None):
        if s is None or p is None or o is None:
            return
        self.t.add((s, p, str(o), bool(iri), lang, dtype))


RELATORS = "http://id.loc.gov/vocabulary/relators/"
HTTPS_RELATORS = "https://id.loc.gov/vocabulary/relators/"


def work_uri(dfk):
    return NS.WORKS + dfk + "_work"


def bundle_uri(dfk):
    return NS.INSTANCEBUNDLES + dfk


_MEDIA = {"Print": ("Print", "n", "nc"), "Online Medium": ("Online", "c", "cr"), "eBook": ("Online", "c", "cr")}


def instances_of(rec):
    out = []
    mt = rec.get("MT")
    m = _MEDIA.get(mt.strip()) if mt else None
    out.append((1, *(m if m else (None, None, None))))
    if rec.get("MT2") is not None:
        m2 = _MEDIA.get(rec["MT2"].strip())
        out.append((2, *(m2 if m2 else (None, None, None))))
    return out


def locator_instance_ns(insts):
    # one instance → that one; several → EVERY Online one (the reference
    # loops over all instances adding ids to each Online instance)
    if len(insts) == 1:
        return [insts[0][0]]
    return [i[0] for i in insts if i[1] == "Online"]


def emit_work_core(g, rec, W, B):
    g.add(W, NS.RDF_TYPE, NS.BF + "Work", iri=True)
    g.add(W, NS.RDF_TYPE, NS.PXC + "MainWork", iri=True)
    if rec.get("LA") is not None:
        g.add(W, NS.BF + "language", NS.LANG + langtag(rec["LA"], 1), iri=True)
    is_av = rec.get("DT") == "40"
    content = "spokenWord" if is_av else "text"
    subclass = NS.BF + ("NonMusicAudio" if is_av else "Text")
    g.add(NS.CONTENT + content, NS.RDF_TYPE, NS.BF + "Content", iri=True)
    g.add(W, NS.BF + "content", NS.CONTENT + content, iri=True)
    g.add(W, NS.RDF_TYPE, subclass, iri=True)
    g.add(W, NS.PXP + "hasInstanceBundle", B, iri=True)
    g.add(B, NS.RDF_TYPE, NS.PXC + "InstanceBundle", iri=True)


def emit_titles(g, rec, B):
    if rec.get("TI") is not None:
        title = B + "#title"
        main = clean(rec["TI"].strip())
        main_lang = lang_or_guess(rec.get("TIL"), main)
        g.add(B, NS.BF + "title", title, iri=True)
        g.add(title, NS.RDF_TYPE, NS.BF + "Title", iri=True)
        g.add(title, NS.BF + "mainTitle", main, lang=main_lang)
        full = main
        if rec.get("TIU") is not None:
            sub = clean(rec["TIU"].strip())
            g.add(title, NS.BF + "subtitle", sub,
                  lang=lang_or_guess(rec.get("TIUL"), sub))
            full = main + ". " + sub
        g.add(title, NS.RDFS_LABEL, full)
    tiue = rec.get("TIUE")
    if tiue is not None and tiue.strip():
        node = B + "#translatedtitle"
        c = clean(tiue)
        main = collapse(c).split("|", 1)[0].strip()
        lang_name = subfield(c, "s")
        m = re.match(r"(?s)^(.*)\s*\((DeepL)\)\s*$", main)
        origin = None
        title_s = main
        if m:
            title_s, origin = m.group(1).strip(), "DeepL"
        tt_lang = langtag(lang_name, 0) if lang_name is not None else guess_language(title_s)
        src = node + "_source"
        g.add(B, NS.BF + "title", node, iri=True)
        g.add(node, NS.RDF_TYPE, NS.PXC + "TranslatedTitle", iri=True)
        g.add(node, NS.BF + "mainTitle", title_s, lang=tt_lang)
        g.add(node, NS.RDFS_LABEL, title_s)
        g.add(node, NS.BF + "adminMetadata", src, iri=True)
        g.add(src, NS.RDF_TYPE, NS.BF + "AdminMetadata", iri=True)
        g.add(src, NS.BFLC + "metadataLicensor", origin or "ZPID")


def emit_instances(g, rec, W, B, insts):
    dfk = rec["DFK"]
    for n, mc, media, carrier in insts:
        uri = NS.INSTANCES + dfk + "#" + str(n)
        g.add(uri, NS.RDF_TYPE, NS.BF + "Instance", iri=True)
        g.add(B, NS.BF + "hasPart", uri, iri=True)
        g.add(uri, NS.BF + "instanceOf", W, iri=True)
        g.add(W, NS.BF + "hasInstance", uri, iri=True)
        if mc is not None:
            g.add(uri, NS.PXP + "mediaCarrier", NS.PMT + mc, iri=True)
            g.add(uri, NS.RDF_TYPE, NS.BF + ("Electronic" if mc == "Online" else "Print"), iri=True)
            g.add(uri, NS.BF + "media", NS.MEDIA + media, iri=True)
            g.add(uri, NS.BF + "carrier", NS.CARRIER + carrier, iri=True)


def emit_identifiers(g, rec, B, insts):
    dfk = rec["DFK"]
    node = B + "_dfk"
    g.add(node, NS.RDF_TYPE, NS.PXC + "DFK", iri=True)
    g.add(node, NS.RDF + "value", dfk)
    g.add(B, NS.BF + "identifiedBy", node, iri=True)
    pu = clean(rec.get("PU"))
    # reference add_isbns: PU |i/|e only, no standalone ISBN field
    isbn_p = subfield(pu, "i")
    isbn_e = subfield(pu, "e")
    if isbn_p:
        n = B + "#isbn_print"
        g.add(B, NS.BF + "identifiedBy", n, iri=True)
        g.add(n, NS.RDF_TYPE, NS.BF + "Isbn", iri=True)
        g.add(n, NS.RDF + "value", isbn_p)
    if isbn_e:
        n = B + "#isbn_ebook"
        g.add(B, NS.BF + "identifiedBy", n, iri=True)
        g.add(n, NS.RDF_TYPE, NS.BF + "Isbn", iri=True)
        g.add(n, NS.RDF + "value", isbn_e)
    for target_n in locator_instance_ns(insts):
        target = NS.INSTANCES + dfk + "#" + str(target_n)
        if rec.get("DOI") is not None:
            v, t = check_for_url_or_doi(clean(rec["DOI"]))
            if t == "doi":
                # reference identifiers.py:28: node URI is quote(doi)
                dn = "https://doi.org/" + urllib.parse.quote(v)
                g.add(dn, NS.RDF_TYPE, NS.BF + "Doi", iri=True)
                g.add(dn, NS.RDF + "value", v)
                g.add(target, NS.BF + "identifiedBy", dn, iri=True)
        urn = rec.get("URN")
        if urn is not None and urn.strip():
            u = urn.strip()
            g.add(u, NS.RDF_TYPE, NS.BF + "Urn", iri=True)
            g.add(u, NS.RDF + "value", u)
            g.add(target, NS.BF + "identifiedBy", u, iri=True)
        if rec.get("URLI") is not None:
            v, t = check_for_url_or_doi(clean(rec["URLI"]).strip())
            if t == "url":
                # reference identifiers.py:82-89: bare electronicLocator URI
                g.add(target, NS.BF + "electronicLocator", v, iri=True)


def emit_publication(g, rec, B):
    node = B + "_publication"
    g.add(B, NS.BF + "provisionActivity", node, iri=True)
    g.add(node, NS.RDF_TYPE, NS.BF + "Publication", iri=True)
    phist_o = subfield(clean(rec.get("PHIST")), "o")
    value, _kind = date_or_year(phist_o)
    if value is None and rec.get("PY") is not None and rec["PY"].strip():
        # raw PY fallback, typed by length (reference does not validate)
        value = rec["PY"].strip()
    if value is not None:
        g.add(node, NS.BF + "date", value, dtype=(NS.XSD_DATE if len(value) > 4 else NS.XSD_GYEAR))
        g.add(node, NS.BFLC + "simpleDate", value[:4])
    pu = clean(rec.get("PU"))
    if subfield(pu, "v"):
        g.add(node, NS.BFLC + "simpleAgent", subfield(pu, "v"))
    if subfield(pu, "o"):
        g.add(node, NS.BFLC + "simplePlace", subfield(pu, "o"))


def _oracle_partial_ratio(a, b):
    """fuzzywuzzy partial_ratio semantics, independent implementation:
    slide the shorter string over same-length windows of the longer at
    each difflib matching-block alignment, take the best ratio."""
    import difflib

    if a is None or b is None:
        return 0
    short, long_ = (a, b) if len(a) <= len(b) else (b, a)
    sm = difflib.SequenceMatcher(None, short, long_)
    best = 0.0
    for bl in sm.get_matching_blocks():
        start = max(bl.b - bl.a, 0)
        window = long_[start : start + len(short)]
        r = difflib.SequenceMatcher(None, short, window).ratio()
        if r > 0.995:
            return 100
        if r > best:
            best = r
    return int(round(best * 100))


def _oracle_norm_person(family, given):
    """F9: umlauts→ascii family + abbreviated given."""
    if family is None:
        return None
    for u, rep in (("ä", "ae"), ("ö", "oe"), ("ü", "ue"),
                   ("Ä", "Ae"), ("Ö", "Oe"), ("Ü", "Ue"), ("ß", "ss")):
        family = family.replace(u, rep)
    return f"{family}, {given[0]}." if given else family


def _oracle_match_ids(entries, persons, sub, kerndaten=None):
    """J9/J10 reference direction: per id field → first person whose
    normalized name scores partial_ratio > 80; later fields accumulate.
    `kerndaten` ({paup_id: [alternate name, ...]}) is the reference's
    second tier (contributions.py:456-498): when NO person matched
    directly, every person is rechecked against the id's alternate
    names — without breaking, so several persons can receive the id."""
    norms = []
    for pos, name in persons:
        fam, giv = family_given(name)
        norms.append((pos, _oracle_norm_person(fam, giv)))
    got = {}
    for e in entries:
        name, id_ = mainfield(e), subfield(e, sub)
        if name is None or id_ is None:
            continue
        parts = name.split(",")
        if len(parts) >= 2:
            key = _oracle_norm_person(parts[0].strip(), parts[1].strip())
        else:
            key = name
        matched = False
        for pos, agent_norm in norms:
            if agent_norm and _oracle_partial_ratio(key, agent_norm) > 80:
                # rdf:value is graph.add in the reference — several fields
                # matching the same agent accumulate on the one id node
                got.setdefault(pos, []).append(id_)
                matched = True
                break
        if not matched and kerndaten and id_ in kerndaten:
            for pos, agent_norm in norms:
                if not agent_norm:
                    continue
                for alt in kerndaten[id_]:
                    p = alt.split(",")
                    if len(p) < 2:
                        continue
                    alt_norm = _oracle_norm_person(p[0].strip(), p[1].strip())
                    if (
                        _oracle_partial_ratio(alt_norm, agent_norm) > 80
                        and id_ not in got.get(pos, [])
                    ):
                        got.setdefault(pos, []).append(id_)
    return got


def _contribution_role(s, rec):
    """Written from the reference's extract_contribution_role
    (modules/contributions.py:786-806), NOT from the engine: role is the
    |f subfield, default "AU"; "VE" → "AU"; "RE" → "IVR" if the record's
    first CM raw text contains "interview" (case-sensitive,
    ``record.find("CM").text``) else "ED". Reference crashes when an RE
    record has no CM; oracle takes the non-interview branch there."""
    code = subfield(s, "f")
    if code is None:
        return "AU"
    if code == "VE":
        return "AU"
    if code == "RE":
        cms = rec.get("CM") or []
        first = clean(cms[0]) if cms else None
        return "IVR" if first is not None and "interview" in first else "ED"
    return code


def contributions_of(rec, kerndaten=None):
    """Mirror of emit/arrow.contributions_of (kerndaten = the
    {paup_id: alternate names} authority for the J9 second tier)."""
    aups = [clean(s) for s in rec.get("AUP") or []]
    auks = [clean(s) for s in rec.get("AUK") or []]
    total = len(aups) + len(auks)
    emid = mainfield(clean(rec.get("EMID"))) if rec.get("EMID") else None
    email = clean_email(clean(rec.get("EMAIL"))) if rec.get("EMAIL") else None
    emid_matches_any = emid is not None and any(
        (mainfield(a) or "").lower().strip() == emid.lower().strip() for a in aups
    )
    persons = [(i + 1, mainfield(s)) for i, s in enumerate(aups)]
    orcid_by_pos = _oracle_match_ids(
        [clean(o) for o in rec.get("ORCID") or []], persons, "u"
    )
    paup_by_pos = _oracle_match_ids(
        [clean(p_) for p_ in rec.get("PAUP") or []], persons, "n",
        kerndaten=kerndaten,
    )
    out = []
    for i, s in enumerate(aups):
        pos = i + 1
        name = mainfield(s)
        qual = "first" if pos == 1 else ("last" if pos == total else "middle")
        fam, giv = family_given(name)
        own_org = subfield(s, "i")
        own_country = sanitize_country(subfield(s, "c"))
        org, country = own_org, own_country
        cs, cou = rec.get("CS"), rec.get("COU")
        if (pos == 1 and own_org is None and own_country is None
                and cs and cs.strip() and cou and cou.strip()):
            org, country = clean(cs.strip()), clean(cou.strip())
        orcids = [v for v in (clean_orcid(o) for o in orcid_by_pos.get(pos, []))
                  if v is not None]
        paups = paup_by_pos.get(pos, [])
        em = None
        if email:
            if emid is not None and emid.lower().strip() == name.lower().strip():
                em = email
            elif pos == 1 and (emid is None or not emid_matches_any):
                em = email
        out.append(dict(pos=pos, kind="person", name=name, family=fam, given=giv,
                        qualifier=qual, role=_contribution_role(s, rec),
                        org=org, country=country, orcids=orcids,
                        paup_ids=paups, email=em))
    for j, s in enumerate(auks):
        pos = len(aups) + j + 1
        qual = "first" if pos == 1 else ("last" if pos == total else "middle")
        out.append(dict(pos=pos, kind="org", name=mainfield(s), family=None,
                        given=None, qualifier=qual,
                        role=_contribution_role(s, rec), org=None,
                        country=subfield(s, "c"), orcids=[], paup_ids=[],
                        email=None))
    return out


def emit_affiliation(g, cnode, agent, org, country):
    if org is None and country is None:
        return
    aff = agent + "_affiliation1"
    g.add(cnode, NS.MADS + "hasAffiliation", aff, iri=True)
    g.add(aff, NS.RDF_TYPE, NS.MADS + "Affiliation", iri=True)
    if org is not None:
        orgn = aff + "_organization"
        g.add(aff, NS.MADS + "organization", orgn, iri=True)
        g.add(orgn, NS.RDF_TYPE, NS.BF + "Organization", iri=True)
        g.add(orgn, NS.RDFS_LABEL, org)
    if country is not None:
        addr = aff + "_address"
        g.add(aff, NS.MADS + "hasAffiliationAddress", addr, iri=True)
        g.add(addr, NS.RDF_TYPE, NS.MADS + "Address", iri=True)
        cn = addr + "_country"
        g.add(addr, NS.MADS + "country", cn, iri=True)
        g.add(cn, NS.RDF_TYPE, NS.MADS + "Country", iri=True)
        geo = GEO.get(country.strip().casefold())  # reference uses casefold
        g.add(cn, NS.RDFS_LABEL, geo[0] if geo else country)
        if geo:
            gn = cn + "_geonamesid"
            g.add(cn, NS.BF + "identifiedBy", gn, iri=True)
            g.add(gn, NS.RDF_TYPE, NS.LOCID + "geonames", iri=True)
            g.add(gn, NS.RDF + "value", geo[1])


def emit_contributions(g, rec, W, contribs):
    for c in contribs:
        cnode = W + "#contribution" + str(c["pos"])
        agent = cnode + ("_personagent" if c["kind"] == "person" else "_orgagent")
        g.add(W, NS.BF + "contribution", cnode, iri=True)
        g.add(cnode, NS.RDF_TYPE, NS.BF + "Contribution", iri=True)
        if c["pos"] == 1:
            g.add(cnode, NS.RDF_TYPE, NS.BFLC + "PrimaryContribution", iri=True)
        g.add(cnode, NS.PXP + "contributionPosition", c["pos"], dtype=NS.XSD_INTEGER)
        g.add(cnode, NS.BF + "qualifier", c["qualifier"])
        g.add(cnode, NS.BF + "role", NS.ROLES + c["role"], iri=True)
        if c["email"]:
            g.add(cnode, NS.MADS + "email", "mailto:" + c["email"], iri=True)
        g.add(cnode, NS.BF + "agent", agent, iri=True)
        g.add(agent, NS.RDF_TYPE,
              NS.BF + ("Person" if c["kind"] == "person" else "Organization"), iri=True)
        g.add(agent, NS.RDFS_LABEL, c["name"])
        if c["kind"] == "person":
            g.add(agent, NS.SCHEMA + "familyName", c["family"])
            if c["given"] is not None:
                g.add(agent, NS.SCHEMA + "givenName", c["given"])
            if c["orcids"]:
                on = agent + "_orcid"
                g.add(agent, NS.BF + "identifiedBy", on, iri=True)
                g.add(on, NS.RDF_TYPE, NS.LOCID + "orcid", iri=True)
                for v in c["orcids"]:
                    g.add(on, NS.RDF + "value", v)
            if c["paup_ids"]:
                pn = agent + "_psychauthorsid"
                g.add(agent, NS.BF + "identifiedBy", pn, iri=True)
                g.add(pn, NS.RDF_TYPE, NS.PXC + "PsychAuthorsID", iri=True)
                for v in c["paup_ids"]:
                    g.add(pn, NS.RDF + "value", v)
        emit_affiliation(g, cnode, agent, c["org"], c["country"])


def emit_abstract(g, rec, W, field, lang_field, origin_field, editor_field, secondary):
    raw = rec.get(field)
    if raw is None:
        return
    maxlen = 50 if secondary else 500
    if len(raw) < maxlen and re.search(r"(?i)(no abstract|kein Abstract)", raw):
        return
    node = W + ("#secondaryabstract" if secondary else "#abstract")
    text = clean(raw.strip())
    toc = None
    if not secondary:
        # reference abstract.py:149 — default flags (no DOTALL), \s* colon
        m = re.search(r"^(.*)[-–]\s*(Contents|Inhalt)\s*:\s*(.*)$", text)
        if m:
            text = m.group(1).strip()
            toc = m.group(3).strip()
    # licensing note (F25)
    note = None
    m = re.search(r"(?is)^(.*)\s\((translated by DeepL)\)$", text)
    if m:
        text, note = m.group(1), "translated by DeepL"
    m = re.search(r"(?is)^(.*)(\(c\).*)$", text)
    if m and len(m.group(2)) < 100 and not re.search(r"(?is).*\(b\).*", m.group(1)):
        text = m.group(1)
        if note is None:
            note = m.group(2)
    text = text.strip()
    blocked = ("10.1016" in (rec.get("DOI") or "")) and ("PUBL" in (rec.get("COPR") or ""))
    lang = lang_or_guess(rec.get(lang_field), text)
    g.add(node, NS.RDF_TYPE, NS.PXC + "Abstract", iri=True)
    if secondary:
        g.add(node, NS.RDF_TYPE, NS.PXC + "SecondaryAbstract", iri=True)
    g.add(node, NS.RDFS_LABEL, text, lang=lang)
    src = node + "_source"
    g.add(src, NS.RDF_TYPE, NS.BF + "AdminMetadata", iri=True)
    origin = rec.get(origin_field)
    origin = _ORIGIN_MAP.get(origin.strip(), origin.strip()) if origin is not None else "Original"
    g.add(src, NS.BFLC + "metadataLicensor", origin)
    editor = rec.get(editor_field)
    if editor is not None:
        # editing agent (ASH2/ASN2) via bf:descriptionModifier, same recode
        g.add(src, NS.BF + "descriptionModifier",
              _ORIGIN_MAP.get(editor.strip(), editor.strip()))
    g.add(src, NS.PXP + "blockedAbstract", "true" if blocked else "false", dtype=NS.XSD_BOOLEAN)
    g.add(node, NS.BF + "adminMetadata", src, iri=True)
    g.add(W, NS.BF + "summary", node, iri=True)
    if note is not None:
        ln = node + "_license"
        g.add(node, NS.BF + "usageAndAccessPolicy", ln, iri=True)
        g.add(ln, NS.RDF_TYPE, NS.BF + "UsageAndAccessPolicy", iri=True)
        g.add(ln, NS.RDFS_LABEL,
              "Abstract not released by publisher." if blocked else note)
    if toc is not None and not secondary:
        tn = W + "#toc"
        g.add(tn, NS.RDF_TYPE, NS.BF + "TableOfContents", iri=True)
        g.add(W, NS.BF + "tableOfContents", tn, iri=True)
        if toc.startswith("http"):
            g.add(tn, NS.RDF + "value", toc, dtype=NS.XSD_ANYURI)
        else:
            g.add(tn, NS.RDFS_LABEL, toc, lang=guess_language(toc))


def emit_terms(g, rec, W):
    n = 0
    for field, _vocab in (("CT", "terms"), ("IT", "addterms")):
        for s in rec.get(field) or []:
            c = clean(s.strip())
            en = subfield(c, "e") or subfield(c, "d")
            de = subfield(c, "d")
            if en is None:
                continue
            n += 1
            node = W + "#topic" + str(n)
            g.add(node, NS.RDF_TYPE, NS.BF + "Topic", iri=True)
            if subfield(c, "g") == "x":
                g.add(node, NS.RDF_TYPE, NS.PXC + "WeightedTopic", iri=True)
            g.add(node, NS.RDFS_LABEL, en)
            g.add(node, NS.SKOS + "prefLabel", en, lang="en")
            if de is not None:
                g.add(node, NS.SKOS + "prefLabel", de, lang="de")
            g.add(W, NS.BF + "subject", node, iri=True)
    for i, s in enumerate(rec.get("SH") or []):
        c = clean(s.strip())
        node = W + "#subjectheading" + str(i + 1)
        g.add(node, NS.RDF_TYPE, NS.PXC + "SubjectHeading", iri=True)
        if i == 0:
            g.add(node, NS.RDF_TYPE, NS.PXC + "SubjectHeadingWeighted", iri=True)
        code = subfield(c, "c")
        if code is not None:
            g.add(node, NS.OWL + "sameAs", NS.CLASS + code, iri=True)
        g.add(W, NS.BF + "classification", node, iri=True)
    for s in rec.get("AGE") or []:
        node = NS.AGE + camel_case(clean(s.strip()))
        g.add(node, NS.RDF_TYPE, NS.PXC + "AgeGroup", iri=True)
        g.add(W, NS.BFLC + "demographicGroup", node, iri=True)


_ISSUANCE = {be: label for be, label, _de in issuancetypes}
_CM = {r["old_cm"]: r for r in cm_mapping_lookup}


def emit_genres(g, rec, W, B):
    # issuance
    if rec.get("BE") is not None:
        label = _ISSUANCE.get(rec["BE"].strip(), "Other")
        node = NS.ISSUANCES + label.replace(" ", "")
        g.add(node, NS.RDF_TYPE, NS.PXC + "IssuanceType", iri=True)
        g.add(node, NS.RDFS_LABEL, label)
        g.add(B, NS.PXP + "issuanceType", node, iri=True)
    # license
    if rec.get("COPR") is not None:
        c = clean(rec["COPR"])
        code = subfield(c, "c") or ""
        de = subfield(c, "d")
        uri = None
        if code in _EXACT_LICENSE_CODES:
            uri = NS.LICENSES + _EXACT_LICENSE_CODES[code]
        elif code.startswith("AUTH"):
            uri = NS.LICENSES + "AUTH"
        elif code.startswith("PUBL") or (de or "").startswith("Volles Urheberrecht des Verlags"):
            uri = NS.LICENSES + "PUBL"
        elif code.startswith("Hogrefe OpenMind"):
            uri = NS.LICENSES + "HogrefeOpenMind"
        elif "Springer" in code:
            uri = NS.LICENSES + "ExclusiveSpringer"
        elif code.startswith("OTHER"):
            uri = NS.LICENSES + "UnspecifiedOpenLicense"
        if uri:
            g.add(uri, NS.RDF_TYPE, NS.BF + "UsePolicy", iri=True)
            g.add(B, NS.BF + "usageAndAccessPolicy", uri, iri=True)
    # thesis genres
    bn = (rec.get("BN") or "").casefold()  # reference uses casefold
    is_thesis = (
        (rec.get("BE") or "").strip() == "SH"
        or (rec.get("DT") or "").strip() == "61"
        or (rec.get("DT2") or "").strip() == "61"
        or "dissertation" in bn
    )
    genre = None
    if is_thesis:
        genre = "CompilationThesisDoctoral" if "kumulative" in bn else "ThesisDoctoral"
    elif "habil" in bn:
        genre = "CompilationThesisHabilitation" if "kumulative" in bn else "ThesisHabilitation"
    if genre:
        g.add(NS.GENRES + genre, NS.RDF_TYPE, NS.BF + "GenreForm", iri=True)
        g.add(W, NS.BF + "genreForm", NS.GENRES + genre, iri=True)
    # CM methods + genres (J8 stand-in: content hash of the normalized
    # title+abstract token stream when no CM — mirrors emit/arrow.annif_text)
    import zlib

    cm_fields = rec.get("CM") or []
    codes = [subfield(clean(s), "c") for s in cm_fields]
    if not cm_fields and rec.get("TI") is not None:
        annif_codes = sorted({r["old_cm"] for r in cm_mapping_lookup if r.get("new_cm")})
        title = clean(rec["TI"]).strip()
        abstract = clean(rec["ABH"]) if rec.get("ABH") is not None else ""
        text = re.sub(r"[^a-z0-9]+", " ", (title + " " + abstract).lower()).strip()
        codes = [annif_codes[zlib.crc32(text.encode("utf-8")) % len(annif_codes)]]
    n = 0
    for code in codes:
        row = _CM.get(code)
        if row is None:
            continue
        if row.get("new_cm"):
            n += 1
            node = W + "#controlledmethod" + str(n)
            g.add(node, NS.RDF_TYPE, NS.PXC + "ControlledMethod", iri=True)
            if n == 1:
                g.add(node, NS.RDF_TYPE, NS.PXC + "ControlledMethodWeighted", iri=True)
            g.add(node, NS.OWL + "sameAs", NS.METHODS + row["new_cm"], iri=True)
            if row.get("new_cm_label"):
                g.add(node, NS.RDFS_LABEL, row["new_cm_label"])
            g.add(W, NS.BF + "classification", node, iri=True)
        if row.get("new_genre"):
            g.add(NS.GENRES + row["new_genre"], NS.RDF_TYPE, NS.BF + "GenreForm", iri=True)
            g.add(W, NS.BF + "genreForm", NS.GENRES + row["new_genre"], iri=True)


def emit_funding(g, rec, W):
    for i, s in enumerate(rec.get("GRANT") or []):
        field = clean(s.strip())
        if "projekt deal" in field.lower() or "open access" in field.lower():
            continue
        fr = W + "#fundingreference" + str(i + 1)
        funder = fr + "_funder"
        g.add(fr, NS.RDF_TYPE, NS.PXC + "FundingReference", iri=True)
        g.add(funder, NS.RDF_TYPE, NS.BF + "Agent", iri=True)
        g.add(funder, NS.RDF_TYPE, NS.PXC + "Funder", iri=True)
        g.add(fr, NS.BF + "agent", funder, iri=True)
        g.add(fr, NS.BF + "role", RELATORS + "spn", iri=True)
        g.add(funder, NS.RDFS_LABEL, mainfield(field) or "unknown funder")
        nums = subfield(field, "n")
        if nums is not None:
            s2 = nums
            for token in (" and ", " und ", " & ", "; "):
                s2 = s2.replace(token, ", ")
            for gi, gid in enumerate([x.strip() for x in s2.split(", ") if x.strip()]):
                gnode = fr + "_grant" + str(gi + 1)
                award = gnode + "_awardnumber"
                g.add(gnode, NS.RDF_TYPE, NS.PXC + "Grant", iri=True)
                g.add(fr, NS.PXP + "grant", gnode, iri=True)
                g.add(award, NS.RDF_TYPE, NS.PXC + "GrantId", iri=True)
                g.add(award, NS.RDF + "value", gid)
                g.add(gnode, NS.BF + "identifiedBy", award, iri=True)
        info = subfield(field, "i")
        recipient = subfield(field, "e")
        note = None
        if recipient and info:
            note = info + ". Recipient(s): " + recipient
        elif recipient:
            note = "Recipient(s): " + recipient
        else:
            note = info
        if note is not None:
            nn = fr + "_note"
            g.add(nn, NS.RDF_TYPE, NS.BF + "Note", iri=True)
            g.add(nn, NS.RDFS_LABEL, note)
            g.add(fr, NS.BF + "note", nn, iri=True)
        g.add(W, NS.BF + "contribution", fr, iri=True)


def emit_conferences(g, rec, W):
    if (rec.get("BE") or "") not in ("SS", "SM"):
        return
    for i, s in enumerate(rec.get("CF") or []):
        field = clean(s.strip())
        name = mainfield(field) or "MISSING CONFERENCE NAME"
        date = subfield(field, "d")
        place = subfield(field, "o")
        extra = subfield(field, "b")
        year = None
        if date:
            m = re.search(r"\d{4}", date)
            year = m.group(0) if m else None
        note = ("Date(s): " + date) if date else None
        if note and extra:
            note = note + ". " + extra
        cr = W + "#conferencereference" + str(i + 1)
        meeting = cr + "_meeting"
        g.add(cr, NS.RDF_TYPE, NS.PXC + "ConferenceReference", iri=True)
        g.add(meeting, NS.RDF_TYPE, NS.BF + "Meeting", iri=True)
        g.add(cr, NS.BF + "agent", meeting, iri=True)
        g.add(meeting, NS.RDFS_LABEL, name)
        if year:
            g.add(meeting, NS.BFLC + "simpleDate", year)
        if place:
            g.add(meeting, NS.BFLC + "simplePlace", place)
        if note:
            nn = cr + "_note"
            g.add(nn, NS.RDF_TYPE, NS.BF + "Note", iri=True)
            g.add(nn, NS.RDFS_LABEL, note)
            g.add(cr, NS.BF + "note", nn, iri=True)
        g.add(cr, NS.BF + "role", RELATORS + "ctb", iri=True)
        g.add(W, NS.BF + "contribution", cr, iri=True)


REL_TYPES = {
    "rd_open_access": ("hasResearchData", "supplement", "Dataset", "ResearchData", "open access"),
    "rd_restricted_access": ("hasResearchData", "supplement", "Dataset", "ResearchData", "restricted access"),
    "preregistration": ("hasPreregistration", "supplement", "Text", "Preregistration", None),
    "replication": ("isReplicationOf", "relatedTo", "Text", "Replication", None),
    "reanalysis": ("isReanalysisOf", "relatedTo", "Text", "Reanalysis", None),
    "isRelatedTo": ("isRelatedTo", "relatedTo", "Text", "RelatedWork", None),
    "hasComment": ("hasComment", "relatedTo", "Text", "RelatedWork", None),
    "isCommentOn": ("isCommentOn", "relatedTo", "Text", "RelatedWork", None),
    "isReplyToComment": ("isReplyToComment", "relatedTo", "Text", "RelatedWork", None),
    "hasReplyToComment": ("hasReplyToComment", "relatedTo", "Text", "RelatedWork", None),
    "hasReplyToCommentsOnItself": ("hasReplyToCommentsOnItself", "relatedTo", "Text", "RelatedWork", None),
    "hasOlderEdition": ("hasOlderEdition", "relatedTo", "Text", "RelatedWork", None),
    "hasArticlePartOfCompilationThesis": ("hasArticlePartOfCompilationThesis", "relatedTo", "Text", "RelatedWork", None),
}
ACCESS_OPEN = "https://w3id.org/zpid/vocabs/access/open"


def rel_base(g, W, key, count):
    relation, subprop, subclass, reltype, access_label = REL_TYPES[key]
    rel = W + "#" + reltype + "Relationship" + str(count)
    work = rel + "_work"
    inst = work + "_instance"
    g.add(rel, NS.RDF_TYPE, NS.PXC + reltype + "Relationship", iri=True)
    g.add(rel, NS.BFLC + "relation", NS.RELATIONS + relation, iri=True)
    g.add(work, NS.RDF_TYPE, NS.BF + "Work", iri=True)
    g.add(work, NS.RDF_TYPE, NS.BF + subclass, iri=True)
    g.add(rel, NS.BF + subprop, work, iri=True)
    g.add(inst, NS.RDF_TYPE, NS.BF + "Instance", iri=True)
    g.add(work, NS.BF + "hasInstance", inst, iri=True)
    if access_label:
        g.add(ACCESS_OPEN, NS.RDF_TYPE, NS.BF + "AccessPolicy", iri=True)
        g.add(ACCESS_OPEN, NS.RDFS_LABEL, access_label)
        g.add(ACCESS_OPEN, NS.SKOS + "prefLabel", access_label, lang="en")
        g.add(ACCESS_OPEN, NS.SKOS + "prefLabel", "freier Zugang", lang="de")
        g.add(inst, NS.BF + "usageAndAccessPolicy", ACCESS_OPEN, iri=True)
    g.add(W, NS.BFLC + "relationship", rel, iri=True)
    return rel, work, inst


def id_sets(values):
    dois, urls, unknowns = [], [], []
    for v in values:
        if v is None:
            continue
        val, t = check_for_url_or_doi(v)
        if t == "doi" and val not in dois:
            dois.append(val)
        elif t == "url" and val not in urls:
            urls.append(val)
        elif t == "unknown" and val is not None and val.strip() and val not in unknowns:
            unknowns.append(val)
    keep = []
    for u in urls:
        drop = False
        for d in dois:
            if d in u:
                drop = True
            elif "OSF.IO/" in d and "osf.io" in u and d.split("/")[2].lower() in u:
                drop = True
        if not drop:
            keep.append(u)
    return dois, keep, unknowns


def add_dois_urls(g, inst, dois, urls):
    for d in dois:
        dn = "https://doi.org/" + d
        g.add(dn, NS.RDF_TYPE, NS.BF + "Doi", iri=True)
        g.add(dn, NS.RDF + "value", d)
        g.add(inst, NS.BF + "identifiedBy", dn, iri=True)
    for u in urls:
        g.add(inst, NS.BF + "electronicLocator", u, iri=True)


def add_note(g, base, note):
    if note is None:
        return
    nn = base + "_note"
    g.add(nn, NS.RDF_TYPE, NS.BF + "Note", iri=True)
    g.add(nn, NS.RDFS_LABEL, note)
    g.add(base, NS.BF + "note", nn, iri=True)


def emit_research_data(g, rec, W):
    datac = rec.get("DATAC") or []
    for i, s in enumerate(datac):
        _, _, inst = rel_base(g, W, "rd_open_access", i + 1)
        s = clean(s)
        dois, urls, unknowns = id_sets([subfield(s, "u"), subfield(s, "d")])
        add_dois_urls(g, inst, dois, urls)
        for u in unknowns:
            add_note(g, inst, u.strip())
    for i, s in enumerate(rec.get("URLAI") or []):
        _, _, inst = rel_base(g, W, "rd_restricted_access", len(datac) + i + 1)
        dois, urls, unknowns = id_sets([clean(s.strip())])
        add_dois_urls(g, inst, dois, urls)
        for u in unknowns:
            add_note(g, inst, u.strip())


def emit_preregistrations(g, rec, W):
    prregs = rec.get("PRREG") or []
    entries = []
    for i, s in enumerate(prregs):
        s = clean(s)
        dois, urls, unknowns = id_sets([subfield(s, "u"), subfield(s, "d")])
        entries.append((i + 1, dois, urls, unknowns, subfield(s, "i")))
    for n, dois, urls, unknowns, note in entries:
        rel, _, inst = rel_base(g, W, "preregistration", n)
        add_dois_urls(g, inst, dois, urls)
        unknown = unknowns[0] if unknowns else None
        final_note = (note + ". " + unknown) if (note and unknown) else (note or unknown)
        add_note(g, rel, final_note)
    # trials (J20)
    counter = len(prregs)
    for s in prregs:
        s2 = clean(s.strip())
        for regex, registry in TRIAL_NUMBER_REGEXES:
            m = re.search("(?i)" + regex, s2)
            if not m:
                continue
            number = m.group(0)
            hit = None
            for n, _d, urls, _u, _n2 in entries:
                if any(number in u for u in urls):
                    hit = n
                    break
            if hit is not None:
                inst = W + "#PreregistrationRelationship" + str(hit) + "_work_instance"
            else:
                counter += 1
                _, _, inst = rel_base(g, W, "preregistration", counter)
            tn = inst + "_trialnumber"
            g.add(tn, NS.RDF_TYPE, NS.PXC + "TrialNumber", iri=True)
            g.add(inst, NS.BF + "identifiedBy", tn, iri=True)
            g.add(tn, NS.RDF + "value", number)
            reg = NS.TRIALREGS + registry
            g.add(reg, NS.RDF_TYPE, NS.PXC + "TrialRegistry", iri=True)
            g.add(tn, NS.BF + "assigner", reg, iri=True)


_RPLIC_SKIP = {"Testeintrag, wieder loeschen", "dittrich, K.", "no URL", "no URL |f  |u  |d "}


def emit_replications(g, rec, W):
    for s in rec.get("RPLIC") or []:
        cstr = clean(s.strip())
        if cstr in _RPLIC_SKIP:
            continue
        dfk = subfield(cstr, "f")
        dfk_ok = dfk is not None and re.match(r"^\d{7}$", dfk)
        dois, urls, unknowns = id_sets(
            [subfield(cstr, "d"), subfield(cstr, "u"), mainfield(cstr)]
        )
        doi = dois[0] if dois else None
        url = urls[0] if urls else None
        citation = unknowns[0] if unknowns else None
        if not (dfk_ok or doi or url or citation):
            continue
        _, _, inst = rel_base(g, W, "replication", 1)
        if dfk_ok:
            dn = inst + "_dfk"
            g.add(dn, NS.RDF_TYPE, NS.PXC + "DFK", iri=True)
            g.add(dn, NS.RDF + "value", dfk)
            g.add(inst, NS.BF + "identifiedBy", dn, iri=True)
        elif doi:
            add_dois_urls(g, inst, [doi], [])
        elif url:
            add_dois_urls(g, inst, [], [url])
        else:
            g.add(inst, NS.BF + "preferredCitation", citation)


def emit_related_works(g, rec, W):
    be = (rec.get("BE") or "").strip()
    book = be in ("SS", "SM")
    compilation = (rec.get("BN") or "").startswith("Kumu")
    cms = rec.get("CM") or []
    has_c = any(c.startswith("|c 14100") for c in cms)
    has_cr = any(c.startswith("|c 14110") for c in cms)
    has_ca = any(c.startswith("|c 14120") for c in cms)
    for i, s in enumerate(rec.get("REL") or []):
        t = s.strip()
        if t == "" or (t.startswith("|b") and t.count("|") == 1):
            return  # reference aborts all remaining RELs (P12)
        cstr = clean(t)
        b = subfield(cstr, "b")
        if book and b == "Original":
            key = "hasOlderEdition"
        elif compilation and b == "Original":
            key = "hasArticlePartOfCompilationThesis"
        elif has_c and b in ("Comment", "Original"):
            key = "isCommentOn"
        elif has_c and (b is None or b == "Reply"):
            key = "hasReplyToComment"
        elif has_cr and (b is None or b in ("Comment", "Reply")):
            key = "isReplyToComment"
        elif has_cr and b == "Original":
            key = "hasReplyToCommentsOnItself"
        elif has_ca:
            key = "isCommentOn"
        elif b == "Comment":
            key = "hasComment"
        elif b == "Reply":
            key = "hasReplyToCommentsOnItself"
        else:
            key = "isRelatedTo"
        _, _, inst = rel_base(g, W, key, i + 1)
        dfk = cstr[:7] if cstr[:7].isdigit() else None
        val, typ_ = check_for_url_or_doi(cstr)
        if dfk:
            dn = inst + "_dfk"
            g.add(dn, NS.RDF_TYPE, NS.PXC + "DFK", iri=True)
            g.add(dn, NS.RDF + "value", dfk)
            g.add(inst, NS.BF + "identifiedBy", dn, iri=True)
        elif typ_ == "doi":
            add_dois_urls(g, inst, [val], [])
        elif typ_ == "url":
            add_dois_urls(g, inst, [], [val])
        else:
            title = subfield(cstr, "t")
            author = subfield(cstr, "a")
            year = subfield(cstr, "j")
            source = subfield(cstr, "q")
            if title and author and year and source:
                citation = f"{author}: {title}; {year}; {source}"
            elif title and author and year:
                citation = f"{author}: {title}; {year}"
            elif title and author:
                citation = f"{author}: {title}"
            elif title and year and source:
                citation = f"{title}; {year}; {source}"
            elif title and year:
                citation = f"{title}; {year}"
            else:
                citation = title
            if citation is not None:
                g.add(inst, NS.BF + "preferredCitation", citation)


def emit_tests(g, rec, W):
    for i, s in enumerate(rec.get("TESTG") or []):
        c = clean(s)
        short = mainfield(c)
        long_ = subfield(c, "l")
        if long_ is not None:
            long_ = re.sub(r"\(PSYNDEX Tests (Review|Info|Abstract)\)", "", long_).strip()
        if short is None and long_ is None:
            continue
        relation = "analyzesTest" if subfield(c, "z") == "x" else "usesTest"
        test_id = subfield(c, "c")
        unc_id = subfield(c, "n")
        items = "true" if subfield(c, "v") == "x" else "false"
        remark = subfield(c, "k")
        if remark is not None:
            if subfield(c, "u"):
                remark += "; Verwendete Variante oder Unterform: " + subfield(c, "u")
            if subfield(c, "f"):
                remark += "; Langname verwendete Variante: " + subfield(c, "f")
            if subfield(c, "d") == "x":
                remark += "; deutschsprachiger Test trotz englischen Titels"
        rel = W + "#TestRelationship" + str(i + 1)
        test = rel + "_test"
        g.add(rel, NS.RDF_TYPE, NS.BFLC + "Relationship", iri=True)
        g.add(rel, NS.RDF_TYPE, NS.PXC + "TestRelationship", iri=True)
        g.add(W, NS.BFLC + "relationship", rel, iri=True)
        g.add(test, NS.RDF_TYPE, NS.PXC + "Test", iri=True)
        if test_id is None:
            g.add(test, NS.RDF_TYPE, NS.BFLC + "Uncontrolled", iri=True)
        g.add(rel, NS.BFLC + "relatedTo", test, iri=True)
        if long_ is not None:
            ln = test + "_longName"
            g.add(ln, NS.RDF_TYPE, NS.BF + "Title", iri=True)
            g.add(ln, NS.BF + "mainTitle", long_)
            g.add(test, NS.BF + "title", ln, iri=True)
        if short is not None:
            sn = test + "_shortName"
            g.add(sn, NS.RDF_TYPE, NS.BF + "AbbreviatedTitle", iri=True)
            g.add(sn, NS.BF + "mainTitle", short)
            g.add(test, NS.BF + "title", sn, iri=True)
        if remark:
            rn = rel + "_remark"
            g.add(rn, NS.RDF_TYPE, NS.BF + "Note", iri=True)
            g.add(rn, NS.RDFS_LABEL, remark)
            g.add(rel, NS.BF + "note", rn, iri=True)
        if test_id is not None:
            tn = test + "_testId"
            g.add(tn, NS.RDF_TYPE, NS.PXC + "PsytkomTestId", iri=True)
            g.add(tn, NS.RDF + "value", test_id)
            g.add(test, NS.BF + "identifiedBy", tn, iri=True)
        if unc_id is not None and unc_id.strip() != "0000":
            g.add(test, NS.PXP + "uncontrolledTestId", unc_id)
        g.add(rel, NS.PXP + "allItemsInWork", items, dtype=NS.XSD_BOOLEAN)
        g.add(rel, NS.BFLC + "relation", NS.RELATIONS + relation, iri=True)


def emit_journal(g, rec, B):
    jt = clean(rec["JT"].strip()) if rec.get("JT") else None
    if jt is not None:
        rel = B + "#journalrel"
        journal = rel + "_journal"
        tn = journal + "_title"
        g.add(B, NS.BFLC + "relationship", rel, iri=True)
        g.add(rel, NS.RDF_TYPE, NS.BFLC + "Relationship", iri=True)
        g.add(rel, NS.BF + "relatedTo", journal, iri=True)
        g.add(journal, NS.RDF_TYPE, NS.BF + "Serial", iri=True)
        g.add(journal, NS.RDF_TYPE, NS.BF + "Hub", iri=True)
        g.add(journal, NS.BF + "title", tn, iri=True)
        g.add(tn, NS.RDF_TYPE, NS.BF + "Title", iri=True)
        g.add(tn, NS.BF + "mainTitle", jt)
        enumeration = ""
        vol = rec.get("JBD")
        issue = rec.get("JHFT")
        p = split_pages(rec["PAGE"].strip()) if rec.get("PAGE") else (None, None, None, None)
        ps, pe, _ext, art = p
        if rec.get("ISSN"):
            inode = journal + "_issnprint"
            g.add(inode, NS.RDF_TYPE, NS.BF + "Issn", iri=True)
            g.add(inode, NS.RDF + "value", norm_issn(rec["ISSN"]))
            g.add(inode, NS.BF + "qualifier", "print")
            g.add(journal, NS.BF + "identifiedBy", inode, iri=True)
        if rec.get("EISSN"):
            inode = journal + "_issnonline"
            g.add(inode, NS.RDF_TYPE, NS.BF + "Issn", iri=True)
            g.add(inode, NS.RDF + "value", norm_issn(rec["EISSN"]))
            g.add(inode, NS.BF + "qualifier", "online")
            g.add(journal, NS.BF + "identifiedBy", inode, iri=True)
        if vol:
            g.add(rel, NS.PXP + "inVolume", vol.strip())
            enumeration += " " + vol.strip()
        if issue:
            g.add(rel, NS.PXP + "inIssue", issue.strip())
            enumeration += "(" + issue.strip() + ")"
        if ps:
            g.add(rel, NS.PXP + "pageStart", ps)
            enumeration += ", p. " + ps
        if pe:
            g.add(rel, NS.PXP + "pageEnd", pe)
            enumeration += "-" + pe
        if art:
            enumeration += ", Article number: " + art
            an = rel + "_article_number"
            g.add(an, NS.RDF_TYPE, NS.PXC + "ArticleNumber", iri=True)
            g.add(an, NS.RDF + "value", art)
            g.add(rel, NS.BF + "identifiedBy", an, iri=True)
        g.add(B, NS.BF + "seriesStatement", jt)
        if enumeration.strip():
            g.add(rel, NS.BF + "seriesEnumeration", enumeration.strip())
    if rec.get("SE"):
        st, sv = split_series(clean(rec["SE"].strip()))
        if st is not None:
            srel = B + "#seriesrel"
            series = srel + "_series"
            stn = series + "_title"
            g.add(B, NS.BF + "seriesStatement", st)
            g.add(B, NS.BFLC + "relationship", srel, iri=True)
            g.add(srel, NS.RDF_TYPE, NS.BFLC + "Relationship", iri=True)
            g.add(srel, NS.BF + "relatedTo", series, iri=True)
            g.add(series, NS.RDF_TYPE, NS.BF + "Series", iri=True)
            g.add(series, NS.RDF_TYPE, NS.BF + "Hub", iri=True)
            g.add(series, NS.BF + "title", stn, iri=True)
            g.add(stn, NS.RDF_TYPE, NS.BF + "Title", iri=True)
            g.add(stn, NS.BF + "mainTitle", st)
            if sv is not None:
                g.add(srel, NS.BF + "seriesEnumeration", sv)


def emit_book(g, rec, B):
    if (rec.get("BE") or "").strip() not in ("US", "UR"):
        return
    rel = B + "#bookrel"
    book = rel + "_book"
    g.add(B, NS.BFLC + "relationship", rel, iri=True)
    g.add(rel, NS.RDF_TYPE, NS.BFLC + "Relationship", iri=True)
    g.add(rel, NS.BF + "partOf", book, iri=True)
    g.add(book, NS.RDF_TYPE, NS.PXC + "InstanceBundle", iri=True)
    ssdfk = rec.get("SSDFK")
    if ssdfk and ssdfk.strip():
        target = NS.INSTANCEBUNDLES + ssdfk.strip()
        g.add(book, NS.OWL + "sameAs", target, iri=True)
        g.add(target, NS.RDF_TYPE, NS.PXC + "InstanceBundle", iri=True)
    else:
        g.add(book, NS.RDF_TYPE, NS.BFLC + "Uncontrolled", iri=True)
    bip = rec.get("BIP")
    if bip is not None and bip.strip():
        # superordinate book title always exported (instance_sources.py:404)
        bt = book + "_title"
        g.add(bt, NS.RDF_TYPE, NS.BF + "Title", iri=True)
        g.add(bt, NS.BF + "mainTitle", bip.strip())
        g.add(book, NS.BF + "title", bt, iri=True)
    p = split_pages(rec["PAGE"].strip()) if rec.get("PAGE") else (None, None, None, None)
    ps, pe, ext, art = p
    if ps:
        g.add(rel, NS.PXP + "pageStart", ps)
    if pe:
        g.add(rel, NS.PXP + "pageEnd", pe)
    if ext:
        g.add(B, NS.PXP + "extent", ext)
    if art:
        an = rel + "_article_number"
        g.add(an, NS.RDF_TYPE, NS.PXC + "ArticleNumber", iri=True)
        g.add(an, NS.RDF + "value", art)
        g.add(rel, NS.BF + "identifiedBy", an, iri=True)


def emit_thesis(g, rec, W, contribs):
    # Thesis gate written from reference get_thesis_info
    # (research_info.py:1649): only BE=="SH" or DT/DT2=="61" records are
    # theses; GRAD/PD are read inside that branch only.
    if not (
        rec.get("BE") == "SH" or rec.get("DT") == "61" or rec.get("DT2") == "61"
    ):
        return
    degree = clean(rec["GRAD"].strip()) if rec.get("GRAD") and rec["GRAD"].strip() else None
    # PD→PROMY only — reference PY fallback (research_info.py:1815) is dead code
    value, _kind = date_or_year(rec.get("PD"), rec.get("PROMY"))
    if not (degree or value):
        return
    diss = W + "#dissertation"
    g.add(diss, NS.RDF_TYPE, NS.BF + "Dissertation", iri=True)
    g.add(W, NS.BF + "dissertation", diss, iri=True)
    if degree:
        g.add(diss, NS.BF + "degree", degree)
    if value:
        g.add(diss, NS.BF + "date", value)
    hrf = rec.get("HRF") or []
    if hrf:
        name = clean(hrf[0])
        node = W + "#thesis_advisor"
        fam, giv = family_given(name)
        g.add(node, NS.RDF_TYPE, NS.BF + "Contribution", iri=True)
        g.add(node, NS.RDF_TYPE, NS.BF + "ThesisAdvisory", iri=True)
        g.add(W, NS.BF + "contribution", node, iri=True)
        person = node + "_person"
        g.add(person, NS.RDF_TYPE, NS.BF + "Person", iri=True)
        g.add(node, NS.BF + "agent", person, iri=True)
        g.add(person, NS.SCHEMA + "familyName", fam)
        g.add(person, NS.SCHEMA + "givenName", giv if giv is not None else "")
        g.add(node, NS.BF + "role", HTTPS_RELATORS + "ths", iri=True)
        for i, r in enumerate(rec.get("KRF") or []):
            name = clean(r.strip())
            node = W + "#thesis_reviewer_" + str(i + 1)
            fam, giv = family_given(name)
            g.add(node, NS.RDF_TYPE, NS.BF + "Contribution", iri=True)
            g.add(node, NS.RDF_TYPE, NS.BF + "ThesisReview", iri=True)
            g.add(W, NS.BF + "contribution", node, iri=True)
            person = node + "_person"
            g.add(person, NS.RDF_TYPE, NS.BF + "Person", iri=True)
            g.add(node, NS.BF + "agent", person, iri=True)
            g.add(person, NS.SCHEMA + "familyName", fam)
            g.add(person, NS.SCHEMA + "givenName", giv if giv is not None else "")
            g.add(node, NS.BF + "role", HTTPS_RELATORS + "dgc", iri=True)
    inst = clean(rec["INST"].strip()) if rec.get("INST") and rec["INST"].strip() else None
    if inst and contribs and contribs[0]["kind"] == "person":
        cnode = W + "#contribution1"
        agent = cnode + "_personagent"
        g.add(cnode, NS.BF + "role", HTTPS_RELATORS + "dis", iri=True)
        if contribs[0]["org"] is None and contribs[0]["country"] is None:
            emit_affiliation(g, cnode, agent, inst, None)


def _norm_key(s):
    s = re.sub(r"[.,;:()]+", " ", s.strip().lower())
    return re.sub(r"\s+", " ", s).strip()


_THESIS_GENRES = {
    NS.GENRES + g
    for g in (
        "ThesisDoctoral",
        "CompilationThesisDoctoral",
        "ThesisHabilitation",
        "CompilationThesisHabilitation",
    )
}
_SCHOLARLY = {NS.GENRES + "ScholarlyPaper", NS.GENRES + "ScholarlyWork"}


def canonicalize_funder(name):
    from psyndex2linkeddata_spark.data.tables import (
        funder_names_full_replacelist,
        funder_names_substr_replacelist,
    )

    full = dict(funder_names_full_replacelist)
    out = full.get(name, name)
    for substr, repl in funder_names_substr_replacelist:
        if substr in out:
            return repl
    return out


def apply_cleanup_and_enrich(t: set, authorities: dict | None = None) -> set:
    """Post-emit set transformations mirroring
    operators/upsert.dedup_clean_genres + plans/enrich (thesis genre rule
    always; ancestor cleanup, topic sameAs, genre labels, ROR ids,
    FundRef DOIs with authorities)."""
    from collections import defaultdict

    genre_pred = NS.BF + "genreForm"
    by_work = defaultdict(set)
    for (s, p, o, *_rest) in t:
        if p == genre_pred:
            by_work[s].add(o)

    anc_map = {}
    if authorities:
        for r in authorities.get("auth_concepts", []):
            if r["vocab"] == "genres":
                anc_map[r["uri"]] = set(r["ancestors"])

    drops = set()
    for w, gs in by_work.items():
        if gs & _THESIS_GENRES:
            for g in gs & _SCHOLARLY:
                drops.add((w, genre_pred, g, True, None, None))
        for g in gs:
            for a in anc_map.get(g, ()):
                if a in gs and a != g:
                    drops.add((w, genre_pred, a, True, None, None))
    t = t - drops
    if not authorities:
        return t

    concepts = authorities.get("auth_concepts", [])
    # J5 topic sameAs (terms preferred over addterms, then uri order)
    vocab_map = {}
    for r in sorted(
        (r for r in concepts if r["vocab"] in ("terms", "addterms")),
        key=lambda r: (r["label_en"], 0 if r["vocab"] == "terms" else 1, r["uri"]),
    ):
        vocab_map.setdefault(r["label_en"], r["uri"])
    genre_rows = {r["uri"]: r for r in concepts if r["vocab"] == "genres"}

    orgs = authorities.get("auth_orgs", [])
    org_map = {}
    for pref, keyer in ((0, lambda r: [r["name"]]), (1, lambda r: r["aliases"])):
        for r in sorted(orgs, key=lambda r: r["org_id"]):
            for k in keyer(r):
                key = _norm_key(k)
                cur = org_map.get(key)
                if cur is None or (pref, r["org_id"]) < cur[0]:
                    org_map[key] = ((pref, r["org_id"]), r)
    org_map = {k: v[1] for k, v in org_map.items()}

    adds = set()
    genre_nodes = {o for (s, p, o, *_x) in t if p == genre_pred}
    for gn in genre_nodes:
        r = genre_rows.get(gn)
        if r:
            adds.add((gn, NS.SKOS + "prefLabel", r["label_de"], False, "de", None))
            adds.add((gn, NS.SKOS + "prefLabel", r["label_en"], False, "en", None))
            adds.add((gn, NS.RDFS_LABEL, r["label_en"], False, None, None))
    for (s, p, o, iri, lang, dtype) in list(t):
        if p == NS.SKOS + "prefLabel" and lang == "en" and "#topic" in s:
            uri = vocab_map.get(o)
            if uri:
                adds.add((s, NS.OWL + "sameAs", uri, True, None, None))
        if p == NS.RDFS_LABEL and s.endswith("_organization"):
            r = org_map.get(_norm_key(o))
            if r:
                rn = s + "_rorid"
                adds.add((rn, NS.RDF_TYPE, NS.LOCID + "ror", True, None, None))
                adds.add((rn, NS.RDF + "value", r["org_id"], False, None, None))
                adds.add((s, NS.BF + "identifiedBy", rn, True, None, None))
        if p == NS.RDFS_LABEL and s.endswith("_funder"):
            canon = canonicalize_funder(o)
            r = org_map.get(_norm_key(canon))
            if not (r and r.get("fundref_doi")) and "," in canon:
                # J4 retry-on-truncation: the reference re-queries with the
                # name cut at the first comma (convert_starxml_to_bf.py:871-877)
                r = org_map.get(_norm_key(canon.split(",")[0]))
            if r and r.get("fundref_doi"):
                fn = s + "_funderid"
                adds.add((fn, NS.RDF_TYPE, NS.PXC + "FundRefDoi", True, None, None))
                adds.add((fn, NS.RDF + "value", r["fundref_doi"], False, None, None))
                adds.add((s, NS.BF + "identifiedBy", fn, True, None, None))
    # J6 license half: prefLabels on usageAndAccessPolicy license nodes
    license_rows = {r["uri"]: r for r in concepts if r["vocab"] == "licenses"}
    lic_nodes = {
        o for (s, p, o, *_x) in t if p == NS.BF + "usageAndAccessPolicy"
    }
    for ln in lic_nodes:
        r = license_rows.get(ln)
        if r:
            adds.add((ln, NS.SKOS + "prefLabel", r["label_de"], False, "de", None))
            adds.add((ln, NS.SKOS + "prefLabel", r["label_en"], False, "en", None))
    # J2: country fill-in from the resolved org for affiliations without
    # an address (contributions.py:114-222)
    have_addr = {s for (s, p, o, *_x) in t if p == NS.MADS + "hasAffiliationAddress"}
    for (s, p, o, iri, lang, dtype) in list(t):
        if p == NS.RDFS_LABEL and s.endswith("_organization"):
            aff = s[: -len("_organization")]
            if aff in have_addr:
                continue
            r = org_map.get(_norm_key(o))
            if not (r and r.get("country_name")):
                continue
            addr = aff + "_address"
            cn = addr + "_country"
            geo = GEO.get(r["country_name"].casefold())
            label = geo[0] if geo else r["country_name"]
            adds.add((aff, NS.MADS + "hasAffiliationAddress", addr, True, None, None))
            adds.add((addr, NS.RDF_TYPE, NS.MADS + "Address", True, None, None))
            adds.add((addr, NS.MADS + "country", cn, True, None, None))
            adds.add((cn, NS.RDF_TYPE, NS.MADS + "Country", True, None, None))
            adds.add((cn, NS.RDFS_LABEL, label, False, None, None))
            if geo:
                gn = cn + "_geonamesid"
                adds.add((cn, NS.BF + "identifiedBy", gn, True, None, None))
                adds.add((gn, NS.RDF_TYPE, NS.LOCID + "geonames", True, None, None))
                adds.add((gn, NS.RDF + "value", geo[1], False, None, None))
    return t | adds


def golden_triples(records: list[dict], authorities: dict | None = None) -> set[Triple]:
    """Reference-semantics triple set for a list of record dicts;
    `authorities` = dict of row-lists matching datagen/authorities.py."""
    g = G()
    bad = (
        {r["dfk"] for r in authorities.get("bad_ids", [])} if authorities else set()
    )
    kerndaten = (
        {r["paup_id"]: list(r["alternate_names"]) for r in authorities["auth_kerndaten"]}
        if authorities and "auth_kerndaten" in authorities
        else None
    )
    for rec in records:
        if rec.get("DFK") is None or rec["DFK"] in bad:
            continue
        W = work_uri(rec["DFK"])
        B = bundle_uri(rec["DFK"])
        insts = instances_of(rec)
        contribs = contributions_of(rec, kerndaten=kerndaten)
        emit_work_core(g, rec, W, B)
        emit_titles(g, rec, B)
        emit_instances(g, rec, W, B, insts)
        emit_identifiers(g, rec, B, insts)
        emit_publication(g, rec, B)
        emit_contributions(g, rec, W, contribs)
        emit_abstract(g, rec, W, "ABH", "ABLH", "ASH1", "ASH2", secondary=False)
        emit_abstract(g, rec, W, "ABN", "ABLN", "ASN1", "ASN2", secondary=True)
        emit_terms(g, rec, W)
        emit_genres(g, rec, W, B)
        emit_funding(g, rec, W)
        emit_conferences(g, rec, W)
        emit_research_data(g, rec, W)
        emit_preregistrations(g, rec, W)
        emit_replications(g, rec, W)
        emit_related_works(g, rec, W)
        emit_tests(g, rec, W)
        emit_journal(g, rec, B)
        emit_book(g, rec, B)
        emit_thesis(g, rec, W, contribs)
    return apply_cleanup_and_enrich(g.t, authorities)
