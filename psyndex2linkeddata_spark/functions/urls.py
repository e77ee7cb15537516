"""F3/F19 — URL/DOI sanitation & classification, as native column expressions.

Re-expresses the reference's `check_for_url_or_doi`
(/root/reference/modules/helpers.py:180-303) — a 124-LoC per-row Python
normalizer — as a pure regexp_replace/regexp_extract cascade (JVM, codegen).
Returns struct(value, type) with type ∈ {doi, url, unknown}.
"""

from __future__ import annotations

from pyspark.sql import Column, functions as F

DOI_PATTERN = r"10\.\d{4,9}/[-._;()/:A-Za-z0-9]+"
# Java translation of the reference's URL sniff regex (helpers.py:283-286).
URL_PATTERN = (
    r"(?i)[(http(s)?):\/\/(www\.)?a-zA-Z0-9@:%._\+~#=]{2,256}"
    r"\.[a-z]{2,6}\b([-a-zA-Z0-9@:%_\+.~#?&//=]*)"
)


def sanitize_url_or_doi(col: Column) -> Column:
    """The cleanup cascade (helpers.py:189-251), order-preserving:
    strip → drop 'DOI:' prefix junk → strip stray lead char → drop
    'PsychOpen GOLD' → collapse spaces → fix 'osf. io' → fix '/ a' →
    fix ' /' → space→underscore."""
    s = F.trim(col)
    s = F.trim(F.regexp_replace(s, r"(?i)^(.*)(DOI: |DOI |DOI:)(.*)$", "$3"))
    s = F.trim(F.regexp_replace(s, r"^(. )", ""))
    s = F.regexp_replace(s, r"PsychOpen GOLD", "")
    s = F.regexp_replace(s, " {2,}", " ")
    s = F.regexp_replace(s, r"(.*\.) ((io)|(org)|(com)|(net)|(de))\b", "$1$2")
    s = F.regexp_replace(s, r"(.*/) ([a-z]|[0-9]|\?)", "$1$2")
    s = F.regexp_replace(s, r"(.*) (/)", "$1$2")
    s = F.regexp_replace(s, " ", "_")
    return s


# printable-ASCII characters urllib.parse.quote(s) percent-encodes with the
# default safe='/' (everything outside [A-Za-z0-9_.~/-]); '%' must be first
# so already-substituted escapes aren't re-encoded (emit/arrow.pct_quote).
_PCT_UNSAFE = "% !\"#$&'()*+,:;<=>?@[\\]^`{|}"


def extract_doi(col: Column) -> Column:
    """F19: canonical DOI from anywhere in the (sanitized) string, trailing
    [. _] stripped (helpers.py:262-273); NULL if none."""
    m = F.regexp_extract(col, DOI_PATTERN, 0)
    m = F.regexp_replace(m, r"[. _]*$", "")
    return F.when(F.length(m) > 0, m)


def check_for_url_or_doi(col: Column) -> Column:
    """F3: struct(value string, type string) — doi | url | unknown.

    doi → canonical '10.x/y'; url → protocol-completed sanitized string;
    unknown → the original (trimmed) string, like the reference.
    """
    original = F.trim(col)
    s = sanitize_url_or_doi(col)
    doi = extract_doi(s)
    looks_url = s.rlike(URL_PATTERN)
    url = (
        F.when(s.startswith("//"), F.concat(F.lit("http:"), s))
        .when(s.rlike(r"^\p{L}") & ~s.startswith("http"), F.concat(F.lit("http://"), s))
        .otherwise(s)
    )
    value = F.when(doi.isNotNull(), doi).when(looks_url, url).otherwise(original)
    typ = (
        F.when(doi.isNotNull(), F.lit("doi"))
        .when(looks_url, F.lit("url"))
        .otherwise(F.lit("unknown"))
    )
    return F.struct(value.alias("value"), typ.alias("type"))
