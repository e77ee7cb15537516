"""Fixed schemas for the staged pipeline.

The reference reads dynamic XML records (<Record> with uppercase field tags,
some scalar `record.find(TAG)`, some repeated `record.findall(TAG)` — see
/root/reference/convert_starxml_to_bf.py:607 and modules/contributions.py:266).
Spark wants a FIXED schema, so the record struct enumerates every field the
engine consumes: scalars as StringType, repeated fields as ArrayType(String)
(source order preserved — counter semantics like A1/A4/A7 depend on it).
"""

from __future__ import annotations

from pyspark.sql import types as T

# Scalar fields (0..1 per record) — reference access pattern record.find(TAG).
SCALAR_FIELDS: tuple[str, ...] = (
    "DFK",      # 7-digit record id
    "BE",       # bibliographic entity / issuance code (UZ, SS, SM, SH, SR, UR, US, AV, ...)
    "TI",       # main title
    "TIL",      # title language name
    "TIU",      # subtitle
    "TIUL",     # subtitle language name
    "TIUE",     # translated title, "|s <lang>" subfield, "(DeepL)" marker
    "PY",       # publication year
    "LA",       # language of work (name, e.g. "English")
    "ABH",      # primary abstract
    "ABLH",     # abstract language name
    "ABN",      # secondary abstract
    "ABLN",     # secondary abstract language name
    "ASH1",     # abstract origin (primary source)
    "ASH2",     # primary abstract editor (descriptionModifier)
    "ASN1",     # secondary abstract origin (source)
    "ASN2",     # secondary abstract editor (descriptionModifier)
    "COPR",     # copyright/license: |c code |d german |e english
    "JT",       # journal title
    "JBD",      # volume
    "JHFT",     # issue
    "PAGE",     # page range / article number
    "ISSN",
    "EISSN",
    "MT",       # media type 1 (e.g. "Print", "Online Medium")
    "MT2",      # media type 2
    "DOI",
    "URN",
    "URLI",     # full-text / landing-page URL → bf:electronicLocator
    "PU",       # publisher: name |o place
    "PHIST",    # publication history; |o online-first date
    "ISBN",
    "EISBN",
    "SE",       # series statement "Title, Band N"
    "SSDFK",    # DFK of superordinate book (chapters)
    "BIP",      # title of superordinate book (chapters)
    "DT",       # document type code
    "DT2",
    "BN",       # book note flags
    "GRAD",     # thesis degree granted
    "PD",       # thesis date
    "PROMY",    # thesis year fallback
    "INST",     # thesis institute
    "ORT",      # thesis institute place
    "EMAIL",    # contact email
    "EMID",     # email owner name
    "CS",       # record-level corporate affiliation
    "COU",      # record-level country
    "NEBOB",    # "noch nicht erschienen" etc. flags (unused placeholder)
)

# Repeated fields (0..n per record) — reference access pattern record.findall(TAG).
REPEATED_FIELDS: tuple[str, ...] = (
    "AUP",      # person contributors: "Family, Given |c COUNTRY |i affiliation"
    "AUK",      # corporate contributors
    "PAUP",     # PsychAuthors ids: "Name |n psychauthors id"
    "ORCID",    # "Name |u orcid"
    "CM",       # controlled methods
    "CT",       # controlled terms
    "IT",       # additional (uncontrolled) terms
    "SH",       # subject heading classification codes
    "AGE",      # age groups
    "PLOC",     # population location
    "GRANT",    # funders: "Funder name |n number |i note"
    "CF",       # conferences: "Name |o place |d date |b note"
    "PRREG",    # preregistrations: "|d doi |u url |i info"
    "DATAC",    # research data: "|d doi |u url" (open)
    "URLAI",    # research data: "|d doi |u url" (restricted)
    "RPLIC",    # replication: dirty doi/url/citation strings
    "REL",      # related works: "|a authors |t title |j journal |y year |d doi |b note"
    "TESTG",    # tests/measures: "|l long |c short |n psytkom id |v verwendet ..."
    "HRF",      # thesis advisors
    "KRF",      # thesis reviewers
)

def pages_schema() -> T.StructType:
    """Primary input table shape, per BASELINE.json input_hint."""
    return T.StructType(
        [
            T.StructField("url", T.StringType(), False),
            T.StructField("warc_ts", T.TimestampType(), True),
            T.StructField("html", T.BinaryType(), True),
            T.StructField("text", T.StringType(), True),
            T.StructField("lang", T.StringType(), True),
        ]
    )


def triples_schema() -> T.StructType:
    """Output atom: (subj, pred, obj) + literal metadata.

    Mirrors rdflib's (URIRef, URIRef, URIRef|Literal(lang=, datatype=)) atom
    (/root/reference/convert_starxml_to_bf.py:120-122) as a flat columnar row.
    """
    return T.StructType(
        [
            T.StructField("subj", T.StringType(), False),
            T.StructField("pred", T.StringType(), False),
            T.StructField("obj", T.StringType(), False),
            T.StructField("obj_is_iri", T.BooleanType(), False),
            T.StructField("lang", T.StringType(), True),
            T.StructField("dtype", T.StringType(), True),
        ]
    )


TRIPLE_COLS = ("subj", "pred", "obj", "obj_is_iri", "lang", "dtype")
