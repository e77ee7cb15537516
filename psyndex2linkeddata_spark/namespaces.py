"""RDF namespace IRIs used by the emitted triples.

These are the public vocabulary namespaces the reference binds in
/root/reference/modules/namespace.py:1-26 (BIBFRAME, LoC vocabularies,
schema.org, and the ZPID w3id vocabularies). Plain string constants here —
URI minting is done with native column expressions (concat), never rdflib.
"""

BF = "http://id.loc.gov/ontologies/bibframe/"
BFLC = "http://id.loc.gov/ontologies/bflc/"
MADS = "http://www.loc.gov/mads/rdf/v1#"
SCHEMA = "https://schema.org/"
RDF = "http://www.w3.org/1999/02/22-rdf-syntax-ns#"
SKOS = "http://www.w3.org/2004/02/skos/core#"
RDFS = "http://www.w3.org/2000/01/rdf-schema#"
OWL = "http://www.w3.org/2002/07/owl#"
XSD = "http://www.w3.org/2001/XMLSchema#"

LOCID = "http://id.loc.gov/vocabulary/identifiers/"
LANG = "http://id.loc.gov/vocabulary/iso639-2/"
MEDIA = "http://id.loc.gov/vocabulary/mediaTypes/"
CARRIER = "http://id.loc.gov/vocabulary/carriers/"
CONTENT = "http://id.loc.gov/vocabulary/contentTypes/"

PXC = "https://w3id.org/zpid/ontology/classes/"
PXP = "https://w3id.org/zpid/ontology/properties/"
WORKS = "https://w3id.org/zpid/resources/works/"
INSTANCES = "https://w3id.org/zpid/resources/instances/"
INSTANCEBUNDLES = "https://w3id.org/zpid/resources/instancebundles/"
ROLES = "https://w3id.org/zpid/vocabs/roles/"
RELATIONS = "https://w3id.org/zpid/vocabs/relations/"
GENRES = "https://w3id.org/zpid/vocabs/genres/"
ISSUANCES = "https://w3id.org/zpid/vocabs/issuances/"
PMT = "https://w3id.org/zpid/vocabs/mediacarriers/"
LICENSES = "https://w3id.org/zpid/vocabs/licenses/"
METHODS = "https://w3id.org/zpid/vocabs/methods/"
CLASS = "https://w3id.org/zpid/vocabs/class/"
AGE = "https://w3id.org/zpid/vocabs/age/"
TRIALREGS = "https://w3id.org/zpid/vocabs/trialregs/"

RDF_TYPE = RDF + "type"
RDFS_LABEL = RDFS + "label"

XSD_DATE = XSD + "date"
XSD_GYEAR = XSD + "gYear"
XSD_ANYURI = XSD + "anyURI"
XSD_BOOLEAN = XSD + "boolean"
XSD_INTEGER = XSD + "integer"
