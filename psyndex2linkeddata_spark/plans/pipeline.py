"""The KG-construction pipeline: pages → records → triples.

Stage model (SURVEY §7): extract (pages→records, stage 1), normalize
(records→mentions, stage 2), emit (mentions→triples, stage 5), finalize
(set-semantics dedup, stage 6). Entity linking (stage 3) and URI
canonicalization (stage 4) are composable add-ons from operators/.

Scale notes:
- extract+normalize+emit is ONE narrow projection — no shuffle until the
  final dropDuplicates. At 10^12 pages the only shuffle in the core path
  is the dedup exchange, partitioned by all triple columns; AQE coalesces.
- the default Arrow path (emit/arrow.py) runs parse + S3 kill-list +
  emit in Python, in one Arrow-batched mapInArrow stage that reads the
  pages directly: each page is parsed once. The Column parser
  (extract_records) enters an Arrow plan only when a kerndaten, crossref
  or tests resolution map needs its mention columns.
- the Column path (emit_mode="columns") keeps every stage a pure column
  expression, with the kill-list as a broadcast anti-join
  (filter_bad_ids), so whole-stage codegen runs end to end with no
  Python in the per-row path.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

from psyndex2linkeddata_spark.emit import contributions as c_emit, core
from psyndex2linkeddata_spark.emit.base import explode_triples
from psyndex2linkeddata_spark.emit.normalize import normalize
from psyndex2linkeddata_spark.extract.parser import extract_records


# The emitter expression tree is ~10^4 Column operations = ~10^4 py4j round
# trips (~30s) to CONSTRUCT — while analysis/optimization are ~1s. Columns
# are unresolved expressions independent of any DataFrame, so we build the
# tree once per JVM and reuse it across every build_triples call.
_COLUMN_CACHE: dict = {}


def _memo(key: str, build):
    from pyspark import SparkContext

    ctx = SparkContext._active_spark_context
    cache_key = (id(ctx), key)
    if cache_key not in _COLUMN_CACHE:
        _COLUMN_CACHE[cache_key] = build()
    return _COLUMN_CACHE[cache_key]


def emitter_columns(annif: bool = True) -> list[Column]:
    """All registered emitters (grows as SURVEY §2.6 coverage widens)."""
    from psyndex2linkeddata_spark.emit import (  # late import: module registry
        abstracts,
        funding,
        genres,
        relations,
        terms,
        thesis,
    )

    return [
        core.work_core(),
        core.titles(),
        core.instances(),
        core.identifiers(),
        core.publication(),
        c_emit.contributions(),
        abstracts.abstracts(),
        terms.topics(),
        terms.subject_headings(),
        terms.age_groups(),
        genres.issuance_and_genres(annif=annif),
        genres.license_node(),
        funding.funding(),
        funding.conferences(),
        relations.research_data(),
        relations.preregistrations(),
        relations.replications(),
        relations.related_works(),
        relations.tests_measures(),
        relations.journal_relation(),
        relations.book_relation(),
        thesis.thesis(),
    ]


def emit_triples(norm_records: DataFrame, annif: bool = True) -> DataFrame:
    """normalized records → raw triples (single scan, single explode)."""
    arr = _memo(
        f"emit_array_annif={annif}", lambda: F.concat(*emitter_columns(annif=annif))
    )
    return explode_triples(norm_records, arr)


def finalize(
    triples: DataFrame,
    *,
    barrier: bool = True,
    genre_cleanup: bool = True,
    truncate_lineage: bool = False,
) -> DataFrame:
    """A10 (rdflib.Graph set semantics — implicit in every graph.add):
    exact-duplicate triples collapse, plus (Column path) the
    authority-free part of the A2 genre cleanup (thesis beats
    ScholarlyPaper/ScholarlyWork — clean_up_genres runs unconditionally
    in the reference, convert_starxml_to_bf.py:1455-1458). The one
    global shuffle of the pipeline; AQE-coalesced.

    `genre_cleanup=False` for the Arrow path: emit/arrow.py applies the
    A2 rule in-record, so the post-emit anti-join is a no-op there.
    `barrier=False` when nothing downstream references the triple set
    more than once (the plain no-authority pipeline) — then the pipeline
    is a single narrow stage + one dedup exchange, no cache.
    """
    deduped = triples.dropDuplicates(
        ["subj", "pred", "obj", "obj_is_iri", "lang", "dtype"]
    )
    if truncate_lineage:
        # Column-path barrier: the interpreted emit tree is ~10^4 nodes,
        # and every downstream reference (clean_genres reads the set 3×,
        # enrich 8×) re-ANALYZES the full logical plan — measured 650s of
        # driver CPU inside a single analyzer rule on a 100-page corpus.
        # localCheckpoint truncates the logical plan to a LogicalRDD so
        # each reference analyzes a leaf. Only the spec/test path uses
        # this; the Arrow production path keeps the columnar persist
        # (its plan is small, and RDD-block storage thrashes the heap at
        # the 100M-triple scale — measured 22× blowup at 5× data).
        return_df = deduped.localCheckpoint()
        if genre_cleanup:
            from psyndex2linkeddata_spark.operators.upsert import clean_genres

            return_df = clean_genres(return_df)
        return return_df
    if barrier:
        # Plan barrier: clean_genres and the enrich joins reference the
        # triple set many times; without a barrier each reference
        # re-analyzes and re-executes the whole emit plan. Lazy columnar
        # persist (MEMORY_AND_DISK) materializes once on first use into
        # compressed columnar batches — a few GB at 300k pages / ~63M
        # triples — where localCheckpoint's row-block storage thrashed
        # the heap at that scale (measured: 22× wall-time blowup at 5×
        # data). At cluster scale the equivalent is landing the raw
        # triples in the warehouse (Iceberg) before the linking stage —
        # same barrier, plus durability.
        from pyspark import StorageLevel

        deduped = deduped.persist(StorageLevel.MEMORY_AND_DISK)
    if genre_cleanup:
        from psyndex2linkeddata_spark.operators.upsert import clean_genres

        deduped = clean_genres(deduped)
    return deduped


def kerndaten_resolution_map(records: DataFrame, kern: DataFrame) -> DataFrame:
    """J9 second tier (reference modules/contributions.py:405-407,
    456-498: kerndaten.ttl parsed at import; unmatched PAUP ids fall
    back to the person's schema:alternateName variants).

    SURVEY §1.4 shape: broadcast the person authority (paup_id,
    alternate_names array) against the exploded PAUP mention ids and
    fold back to one compact per-record map column `_kerndaten`
    ({paup_id: [alternate name, ...]}) that both emit paths feed into
    the matcher's fallback tier. Only records that mention a known id
    get a row — the join stays proportional to the mention count, and
    at a 10^8-author scale the broadcast hint is the only line to drop
    (the shuffle join on paup_id is already the right shape)."""
    from psyndex2linkeddata_spark.emit.base import subfield

    mentions = (
        records.select("url", F.explode(F.col("PAUP")).alias("_e"))
        .select("url", subfield(F.col("_e"), "n").alias("paup_id"))
        .where(F.col("paup_id").isNotNull())
        .distinct()
    )
    return (
        mentions.join(F.broadcast(kern), "paup_id")
        .groupBy("url")
        .agg(
            F.map_from_entries(
                F.collect_list(F.struct("paup_id", "alternate_names"))
            ).alias("_kerndaten")
        )
    )


def _build_triples_columns(
    pages: DataFrame,
    authorities: dict[str, DataFrame] | None,
    annif: bool = True,
) -> DataFrame:
    """Declarative path: the full emit as native column expressions."""
    from psyndex2linkeddata_spark.extract.parser import filter_bad_ids

    records = extract_records(pages)
    if authorities and "bad_ids" in authorities:
        records = filter_bad_ids(records, authorities["bad_ids"])
    if authorities and "kerndaten" in authorities:
        records = records.join(
            kerndaten_resolution_map(records, authorities["kerndaten"]),
            "url",
            "left",
        )
    norm = normalize(records)
    if authorities and "crossref" in authorities:
        # J13/J14: offline Crossref DOI validation + citation→DOI search
        from psyndex2linkeddata_spark.plans.crossref import (
            resolve_rel_dois,
            resolve_rplic_dois,
        )

        norm = resolve_rplic_dois(
            norm,
            authorities["crossref"],
            search_threshold=authorities.get("crossref_search_threshold"),
        )
        norm = resolve_rel_dois(
            norm,
            authorities["crossref"],
            search_threshold=authorities.get("crossref_rel_search_threshold"),
        )
    if authorities and "tests" in authorities:
        # J15: fuzzy longName → test database id for uncontrolled TESTG
        from psyndex2linkeddata_spark.plans.crossref import resolve_testg_ids

        norm = resolve_testg_ids(norm, authorities["tests"])
    return finalize(emit_triples(norm, annif=annif), truncate_lineage=True)


def _build_triples_arrow(
    pages: DataFrame,
    authorities: dict[str, DataFrame] | None,
    annif: bool = True,
) -> DataFrame:
    """Arrow path: one narrow mapInArrow stage (emit/arrow.py) does
    parse+emit and drops kill-listed records after its own parse, so the
    check sees the same cleaned first DFK value the emit uses.

    Pages route (no kerndaten/crossref/tests map): the stage reads the
    pages and parses each one once. Maps route: the offline-linking joins
    (J9, J13-J15) run as DataFrame joins over the Column-parsed mention
    columns, reduced to compact per-record resolution maps the Python
    emitter applies; a killed record emits nothing, whatever maps it
    was joined to.

    The kill-list reaches the stage as a frozenset of DFKs, collected
    from bad_ids in one small job per call. filter_bad_ids'
    `F.broadcast(bad_ids)` builds the same list on the driver, so the
    memory contract is unchanged."""
    from psyndex2linkeddata_spark.emit.arrow import emit_triples_arrow

    auth = authorities or {}
    src = pages
    if "crossref" in auth or "tests" in auth or "kerndaten" in auth:
        from psyndex2linkeddata_spark.plans import crossref as cr

        src = extract_records(pages)
        if "kerndaten" in auth:
            src = src.join(
                kerndaten_resolution_map(src, auth["kerndaten"]), "url", "left"
            )
        norm = normalize(src)
        if "crossref" in auth:
            src = src.join(
                cr.rplic_resolution_map(
                    norm,
                    auth["crossref"],
                    search_threshold=auth.get("crossref_search_threshold"),
                ),
                "url",
                "left",
            ).join(
                cr.rel_resolution_map(
                    norm,
                    auth["crossref"],
                    search_threshold=auth.get("crossref_rel_search_threshold"),
                ),
                "url",
                "left",
            )
        if "tests" in auth:
            src = src.join(cr.testg_resolution_map(norm, auth["tests"]), "url", "left")
    # With authorities: barrier, because enrich_triples references the set
    # many times; behind the persist the DataFrame-level A2 rule costs two
    # cached reads, and it covers the cross-record case (two pages sharing
    # a DFK, one thesis + one Scholarly*) that the in-record rule can't see.
    # Without: the barrier-free fast path; genre_cleanup would re-execute
    # the emit 3× (no exchange reuse without a barrier — measured). The
    # in-record A2 rule fully covers it as long as the input holds one
    # page per DFK, which is the pages-table contract (url-keyed records
    # export); callers with weaker provenance can pass authorities={} to
    # opt into the barrier + DataFrame-level rule.
    bad = frozenset()
    if "bad_ids" in auth:
        rows = auth["bad_ids"].select("dfk").distinct().collect()
        bad = frozenset(r.dfk for r in rows)
    linked = authorities is not None
    return finalize(
        emit_triples_arrow(src, bad_dfks=bad, annif=annif),
        barrier=linked,
        genre_cleanup=linked,
    )


def build_triples(
    pages: DataFrame,
    authorities: dict[str, DataFrame] | None = None,
    emit_mode: str | None = None,
    annif: bool = True,
    repair_text: bool = False,
) -> DataFrame:
    """pages(url, warc_ts, html, text, lang) → deduplicated triples DF.

    With `authorities` (see datagen/authorities.py for the table shapes):
    the bad_ids kill-list drops records (S3) — inside the Arrow stage, as
    a driver-collected set, or as a broadcast anti-join on the Column
    path — and the linking stage (plans/enrich.py — J1/J3/J5/J6 + A2
    ancestor cleanup) runs after emit.

    `emit_mode` ('arrow' default, or 'columns', env SPARK_GRAFT_EMIT):
    both paths emit byte-identical triple sets (tests/test_arrow_parity);
    'arrow' is the hot path — one Arrow-batched mapInPandas stage,
    measured ~60× less CPU per page than the interpreted HOF column tree
    and a KB-scale plan instead of MB-scale (see emit/arrow.py docstring).
    """
    import os

    # Fetch-layer repair (opt-in): captures that arrive without
    # extracted text (text NULL) recover it from the raw html column —
    # a narrow projection that fuses into the scan
    # (operators/extraction.py, byte-stable mode). Opt-in because it
    # forces the scan to READ the html column; when the upstream table
    # already guarantees text, column pruning should keep html out of
    # the scan entirely.
    if repair_text and "html" in pages.columns:
        from psyndex2linkeddata_spark.operators.extraction import html_to_text

        pages = pages.withColumn(
            "text",
            F.coalesce(F.col("text"), html_to_text(F.col("html"))),
        )

    mode = emit_mode or os.environ.get("SPARK_GRAFT_EMIT", "arrow")
    if mode == "columns":
        triples = _build_triples_columns(pages, authorities, annif=annif)
    else:
        triples = _build_triples_arrow(pages, authorities, annif=annif)
    if authorities:
        from psyndex2linkeddata_spark.plans.enrich import enrich_triples

        triples = enrich_triples(triples, authorities)
    return triples
