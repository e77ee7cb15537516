"""Stage 3 — link/enrich as DataFrame joins: authority broadcast joins
over the emitted triples (SURVEY §2.4).

The reference enriches per record with live HTTP (ROR, Crossref,
Skosmos — modules/local_api_lookups.py, redis-cached). build_triples
does the same per record inside its emit stage (emit/arrow.link_record,
against dicts folded by authority_links). This module is the join form
of those rules, and it stays in the package for two users:
tests/test_arrow_linking.py and tests/test_fundref_retry.py check
link_record against it (and tests/test_genre_stage.py checks
operators/upsert.dedup_clean_genres against genre_ancestor_closure), and
perfbench's linked_pages probe stages the joins. Here the
authorities are input DataFrames and each lookup is ONE broadcast join
over the distinct mention keys (Spark-native memoization):

- J5  topic owl:sameAs from the terms/addterms vocab (label_en → uri;
      'terms' preferred when both vocabs carry the label — mirrors the
      CT-before-IT lookup order, terms.py:106-110)
- J6  genre node labels (skos:prefLabel de/en + rdfs:label) from the
      genres vocab (publication_types.py:320-330,452-466)
- J1  ROR affiliation ids: org labels matched exactly against authority
      names + aliases (normalized key); fuzzy LSH tier available via
      operators/linking for dirty corpora (off by default so results
      stay deterministic vs the golden oracle)
- J3  FundRef DOIs for funder nodes (F28 canonicalization first,
      convert_starxml_to_bf.py:814-941)
- J2  country fill for affiliations without an address, with the J16
      geonames canonical names (geonames_name / geonames_id)
- J7/A2 genre-hierarchy dedup via the broadcast ancestor closure
      (publication_types.py:481-631)

Scale: every authority is dimension-sized (≤ millions of rows) →
broadcast hash joins, no shuffle on the fact side except the final
union+dedup. Mention keys are distinct()-ed before joining (each unique
dirty string resolved once per job, the requests_cache replacement).
"""

from __future__ import annotations

from itertools import chain

from pyspark.sql import Column, DataFrame, Window, functions as F

from psyndex2linkeddata_spark import namespaces as NS
from psyndex2linkeddata_spark.data.tables import geonames_countries
from psyndex2linkeddata_spark.functions.grants import canonicalize_funder_name
from psyndex2linkeddata_spark.operators.linking import norm_key
from psyndex2linkeddata_spark.schema import TRIPLE_COLS


def _triple(subj, pred, obj, iri=True, lang=None, dtype=None):
    return F.struct(
        F.col(subj).alias("subj") if isinstance(subj, str) else subj.alias("subj"),
        F.lit(pred).alias("pred"),
        (F.col(obj) if isinstance(obj, str) else obj).cast("string").alias("obj"),
        F.lit(iri).alias("obj_is_iri"),
        (F.lit(lang) if lang is None or isinstance(lang, str) else lang)
        .cast("string")
        .alias("lang"),
        F.lit(dtype).cast("string").alias("dtype"),
    )


def _rows(df: DataFrame, *triples) -> DataFrame:
    out = df.select(F.explode(F.array(*triples)).alias("_t")).select(
        *[F.col("_t")[c].alias(c) for c in TRIPLE_COLS]
    )
    return out.where(F.col("obj").isNotNull() & F.col("subj").isNotNull())


def topic_links(triples: DataFrame, concepts: DataFrame) -> DataFrame:
    """J5: (topic_node, owl:sameAs, concept_uri)."""
    labels = (
        triples.where(
            (F.col("pred") == NS.SKOS + "prefLabel")
            & (F.col("lang") == "en")
            & F.col("subj").contains("#topic")
        )
        .select("subj", F.col("obj").alias("label"))
    )
    w = Window.partitionBy("label_en").orderBy(
        F.when(F.col("vocab") == "terms", 0).otherwise(1), F.col("uri")
    )
    vocab = (
        concepts.where(F.col("vocab").isin("terms", "addterms"))
        .withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .select(F.col("label_en"), F.col("uri"))
    )
    joined = labels.join(F.broadcast(vocab), labels["label"] == vocab["label_en"])
    return _rows(joined, _triple("subj", NS.OWL + "sameAs", "uri"))


def genre_labels(triples: DataFrame, concepts: DataFrame) -> DataFrame:
    """J6: skos prefLabels + rdfs:label for every emitted genre node."""
    nodes = (
        triples.where(F.col("pred") == NS.BF + "genreForm")
        .select(F.col("obj").alias("gnode"))
        .distinct()
    )
    vocab = concepts.where(F.col("vocab") == "genres").select(
        "uri", "label_en", "label_de"
    )
    joined = nodes.join(F.broadcast(vocab), nodes["gnode"] == vocab["uri"])
    return _rows(
        joined,
        _triple("gnode", NS.SKOS + "prefLabel", "label_de", iri=False, lang="de"),
        _triple("gnode", NS.SKOS + "prefLabel", "label_en", iri=False, lang="en"),
        _triple("gnode", NS.RDFS_LABEL, "label_en", iri=False),
    )


def license_labels(triples: DataFrame, concepts: DataFrame) -> DataFrame:
    """J6 (license half): skos prefLabels for every usageAndAccessPolicy
    license node (reference local_api_lookups.py:129-156 — per-node
    Skosmos label lookups become one broadcast join over the distinct
    license URIs)."""
    nodes = (
        triples.where(F.col("pred") == NS.BF + "usageAndAccessPolicy")
        .select(F.col("obj").alias("lnode"))
        .distinct()
    )
    vocab = concepts.where(F.col("vocab") == "licenses").select(
        "uri", "label_en", "label_de"
    )
    joined = nodes.join(F.broadcast(vocab), nodes["lnode"] == vocab["uri"])
    return _rows(
        joined,
        _triple("lnode", NS.SKOS + "prefLabel", "label_de", iri=False, lang="de"),
        _triple("lnode", NS.SKOS + "prefLabel", "label_en", iri=False, lang="en"),
    )


def _geo_pairs():
    """casefold-key → (name, gid), first occurrence wins — the reference
    table carries literal duplicate rows (Malawi, Taiwan, Czech Republic)
    and its lookup is first-match (helpers.py:378-382); Spark's
    create_map refuses duplicate keys (mapKeyDedupPolicy=EXCEPTION)."""
    seen = {}
    for name, gid, _iso in geonames_countries:
        seen.setdefault(name.casefold(), (name, gid))
    return seen


def _geo_lookup(country: Column, field: int) -> Column:
    from psyndex2linkeddata_spark.functions.names import casefold_compat

    table = F.create_map(
        *chain.from_iterable(
            (F.lit(k), F.lit(v[field])) for k, v in _geo_pairs().items()
        )
    )
    return table[casefold_compat(F.trim(country))]


def geonames_name(country: Column) -> Column:
    """J16 canonical name: casefold first-match (reference
    modules/helpers.py:378-382) over the 190-row geonames country table
    (static reference data, modules/mappings.py:501-693), inlined as a
    literal map. The map keys are Python-casefolded, so the lookup side
    folds with casefold_compat (lower alone would miss e.g. 'Rußland' →
    'russland')."""
    return _geo_lookup(country, 0)


def geonames_id(country: Column) -> Column:
    """J16 geonames id of the same first-match row."""
    return _geo_lookup(country, 1)


def country_fill(triples: DataFrame, auth_orgs: DataFrame) -> DataFrame:
    """J2: affiliations WITHOUT a country (no |c subfield → the emit stage
    created no _address node) get one from the resolved ROR org
    (contributions.py:114-222): …_address a mads:Address via
    mads:hasAffiliationAddress, …_address_country a mads:Country with the
    geonames-improved label + _geonamesid a locid:geonames."""
    orgs = triples.where(
        F.col("subj").endswith("_organization") & (F.col("pred") == NS.RDFS_LABEL)
    ).select(
        F.regexp_replace("subj", "_organization$", "").alias("aff"),
        norm_key(F.col("obj")).alias("_key"),
    )
    # only affiliations that don't already carry an address
    have_addr = triples.where(
        F.col("pred") == NS.MADS + "hasAffiliationAddress"
    ).select(F.col("subj").alias("aff"))
    need = orgs.join(have_addr, "aff", "left_anti")
    authority = _org_authority(auth_orgs).where(F.col("country_name").isNotNull())
    j = need.join(F.broadcast(authority), "_key")
    j = (
        j.withColumn("addr", F.concat("aff", F.lit("_address")))
        .withColumn("cnode", F.concat("addr", F.lit("_country")))
        .withColumn(
            "clabel",
            F.coalesce(geonames_name(F.col("country_name")), F.col("country_name")),
        )
        .withColumn("gid", geonames_id(F.col("country_name")))
        .withColumn(
            "gnode",
            F.when(
                F.col("gid").isNotNull(), F.concat("cnode", F.lit("_geonamesid"))
            ),
        )
    )
    return _rows(
        j,
        _triple("aff", NS.MADS + "hasAffiliationAddress", "addr"),
        _triple("addr", NS.RDF_TYPE, F.lit(NS.MADS + "Address")),
        _triple("addr", NS.MADS + "country", "cnode"),
        _triple("cnode", NS.RDF_TYPE, F.lit(NS.MADS + "Country")),
        _triple("cnode", NS.RDFS_LABEL, "clabel", iri=False),
        _triple("cnode", NS.BF + "identifiedBy", "gnode"),
        _triple("gnode", NS.RDF_TYPE, F.lit(NS.LOCID + "geonames")),
        _triple("gnode", NS.RDF + "value", "gid", iri=False),
    )


def _org_authority(auth_orgs: DataFrame) -> DataFrame:
    """(norm name/alias key → org row), names before aliases on conflicts."""
    names = auth_orgs.select(
        norm_key(F.col("name")).alias("_key"),
        "org_id",
        "fundref_doi",
        "country_name",
        F.lit(0).alias("_pref"),
    )
    aliases = auth_orgs.select(
        F.explode("aliases").alias("_alias"), "org_id", "fundref_doi", "country_name"
    ).select(
        norm_key(F.col("_alias")).alias("_key"),
        "org_id",
        "fundref_doi",
        "country_name",
        F.lit(1).alias("_pref"),
    )
    w = Window.partitionBy("_key").orderBy("_pref", "org_id")
    return (
        names.unionByName(aliases)
        .withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .drop("_rn", "_pref")
    )


def ror_links(triples: DataFrame, auth_orgs: DataFrame) -> DataFrame:
    """J1: affiliation org nodes → ROR id identifier nodes
    (…_organization_rorid a locid:ror, rdf:value org_id — the node shape of
    contributions.py:75-88)."""
    orgs = (
        triples.where(
            F.col("subj").endswith("_organization")
            & (F.col("pred") == NS.RDFS_LABEL)
        )
        .select("subj", norm_key(F.col("obj")).alias("_key"))
    )
    authority = _org_authority(auth_orgs)
    joined = orgs.join(F.broadcast(authority), "_key").withColumn(
        "rornode", F.concat(F.col("subj"), F.lit("_rorid"))
    )
    return _rows(
        joined,
        _triple("rornode", NS.RDF_TYPE, F.lit(NS.LOCID + "ror")),
        _triple("rornode", NS.RDF + "value", "org_id", iri=False),
        _triple("subj", NS.BF + "identifiedBy", "rornode"),
    )


def fundref_links(triples: DataFrame, auth_orgs: DataFrame) -> DataFrame:
    """J3+J4: funder nodes → FundRef DOI identifier nodes
    (…_funder_funderid a pxc:FundRefDoi, convert_starxml_to_bf.py:994-1000),
    keyed on the F28-canonicalized funder name. J4 retry-on-truncation:
    when the full name finds nothing, the reference re-queries with the
    name cut at the first comma (convert_starxml_to_bf.py:871-877, the
    recursive `funder_name.split(",")[0]` branch) — here a second
    broadcast join on the truncated key, coalesced behind the full-name
    hit so a full match always wins."""
    canon = canonicalize_funder_name(F.col("obj"))
    funders = (
        triples.where(
            F.col("subj").endswith("_funder") & (F.col("pred") == NS.RDFS_LABEL)
        )
        .select(
            "subj",
            norm_key(canon).alias("_key"),
            norm_key(
                F.when(canon.contains(","), F.split(canon, ",").getItem(0))
            ).alias("_key_trunc"),
        )
    )
    authority = _org_authority(auth_orgs).where(F.col("fundref_doi").isNotNull())
    trunc_authority = authority.select(
        F.col("_key").alias("_key_trunc"),
        F.col("fundref_doi").alias("_fundref_doi_trunc"),
    )
    joined = (
        funders.join(F.broadcast(authority), "_key", "left")
        .join(F.broadcast(trunc_authority), "_key_trunc", "left")
        .withColumn(
            "fundref_doi",
            F.coalesce(F.col("fundref_doi"), F.col("_fundref_doi_trunc")),
        )
        .where(F.col("fundref_doi").isNotNull())
        .withColumn("fnode", F.concat(F.col("subj"), F.lit("_funderid")))
    )
    return _rows(
        joined,
        _triple("fnode", NS.RDF_TYPE, F.lit(NS.PXC + "FundRefDoi")),
        _triple("fnode", NS.RDF + "value", "fundref_doi", iri=False),
        _triple("subj", NS.BF + "identifiedBy", "fnode"),
    )


def genre_ancestor_closure(concepts: DataFrame) -> DataFrame:
    """(genre_uri, ancestor_uri) broadcast closure from the genres vocab
    (broaderTransitive stand-in, local_api_lookups.py:180-192)."""
    return (
        concepts.where(F.col("vocab") == "genres")
        .select(F.col("uri").alias("genre_uri"), F.explode("ancestors").alias("ancestor_uri"))
    )


def enrich_triples(triples: DataFrame, authorities: dict[str, DataFrame]) -> DataFrame:
    """All enrichment joins + A2 ancestor cleanup; returns the enlarged,
    deduplicated triple set."""
    from psyndex2linkeddata_spark.operators.upsert import clean_genres

    # `triples` is referenced by every join below: give it behind a
    # barrier (finalize(barrier=True) persists it), or each reference
    # re-executes its plan
    adds = []
    concepts = authorities.get("auth_concepts")
    orgs = authorities.get("auth_orgs")
    if concepts is not None:
        adds.append(topic_links(triples, concepts))
        adds.append(genre_labels(triples, concepts))
        adds.append(license_labels(triples, concepts))
        triples = clean_genres(triples, genre_ancestor_closure(concepts))
    if orgs is not None:
        adds.append(ror_links(triples, orgs))
        adds.append(fundref_links(triples, orgs))
        adds.append(country_fill(triples, orgs))
    out = triples
    for a in adds:
        out = out.unionByName(a)
    return out.dropDuplicates(list(TRIPLE_COLS))
