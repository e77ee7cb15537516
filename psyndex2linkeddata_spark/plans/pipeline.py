"""The KG-construction pipeline: pages → records → triples.

Stage model (SURVEY §7): extract (pages→records, stage 1), normalize
(records→mentions, stage 2), emit (mentions→triples, stage 5) and
finalize (set-semantics dedup, stage 6). The first three run in one
Arrow stage (emit/arrow.py), as does entity linking against the
authority dictionaries (stage 3); URI canonicalization (stage 4) is a
composable add-on from operators/.

Scale notes:
- the emit stage (emit/arrow.py) runs parse + S3 kill-list + emit +
  J1-J6 linking in Python, in one Arrow-batched mapInArrow stage that
  reads the pages directly: each page is parsed once, and each record's
  triples are linked against driver-built authority dicts before the one
  dedup. No shuffle until the final dedup: at 10^12 pages the only
  shuffle in the core path is the dedup exchange; AQE coalesces.
  Without authorities it is partitioned by all triple columns. With
  authorities it is partitioned by subj, and the A2 genre cleanup runs
  as a window over that same partitioning
  (operators/upsert.dedup_clean_genres), with no cache and no second
  exchange; hot subjects (genre and vocabulary nodes) land in one
  partition each.
- the maps route (a kerndaten, crossref or tests authority): one more
  narrow mapInArrow pass over the pages (emit/arrow.mentions_arrow, the
  emit's own parser) emits the mention rows the resolution maps join
  on; the maps are joined onto the pages on url, and the emit stage
  reads those pages as on the other routes. No route plans the Column
  parser (extract/parser.py).
- the semantics are held by independent gates rather than a second
  emitter: the pure-Python golden oracle (tests/test_golden.py, exact
  set equality) and the pinned scenario triple sets
  (tests/test_arrow_parity.py).
"""

from __future__ import annotations

import functools

from pyspark.sql import DataFrame, functions as F

# unused here: perfbench's PATCH_POINTS wraps it (--trace 1 needs the name)
from psyndex2linkeddata_spark.extract.parser import extract_records  # noqa: F401


def finalize(
    triples: DataFrame,
    *,
    barrier: bool = True,
    genre_cleanup: bool = True,
) -> DataFrame:
    """A10 (rdflib.Graph set semantics — implicit in every graph.add):
    exact-duplicate triples collapse, plus the authority-free part of
    the A2 genre cleanup (thesis beats ScholarlyPaper/ScholarlyWork —
    clean_up_genres runs unconditionally in the reference,
    convert_starxml_to_bf.py:1455-1458). The one global shuffle of the
    pipeline; AQE-coalesced.

    build_triples calls it only without authorities, with
    `genre_cleanup=False` and `barrier=False`: emit/arrow.py applies the
    A2 rule in-record, and nothing downstream references the triple set
    more than once, so the pipeline is a single narrow stage + one dedup
    exchange, no cache. With authorities (even `{}`) build_triples uses
    operators/upsert.dedup_clean_genres instead, which dedups and applies
    both A2 rules after one exchange on subj, so the rules also cover
    pages that share a DFK. The barrier and the DataFrame-level rule here
    serve only the benchmark's staged probe and the tests.
    """
    deduped = triples.dropDuplicates(
        ["subj", "pred", "obj", "obj_is_iri", "lang", "dtype"]
    )
    if barrier:
        # Plan barrier: the clean_genres passes reference the triple
        # set many times; without a barrier each reference
        # re-analyzes and re-executes the whole emit plan. Lazy columnar
        # persist (MEMORY_AND_DISK) materializes once on first use into
        # compressed columnar batches — a few GB at 300k pages / ~63M
        # triples — where localCheckpoint's row-block storage thrashed
        # the heap at that scale (measured: 22× wall-time blowup at 5×
        # data). At cluster scale the equivalent is landing the raw
        # triples in the warehouse (Iceberg) before the A2 cleanup —
        # same barrier, plus durability.
        from pyspark import StorageLevel

        deduped = deduped.persist(StorageLevel.MEMORY_AND_DISK)
    if genre_cleanup:
        from psyndex2linkeddata_spark.operators.upsert import clean_genres

        deduped = clean_genres(deduped)
    return deduped


def kerndaten_resolution_map(mentions: DataFrame, kern: DataFrame) -> DataFrame:
    """J9 second tier (reference modules/contributions.py:405-407,
    456-498: kerndaten.ttl parsed at import; unmatched PAUP ids fall
    back to the person's schema:alternateName variants).

    SURVEY §1.4 shape: broadcast the person authority (paup_id,
    alternate_names array) against the PAUP mention ids (the `paup`
    rows of emit/arrow.mentions_arrow) and fold back to one compact
    per-page map column `_kerndaten` ({paup_id: [alternate name, ...]})
    that the emitter feeds into the matcher's fallback tier. Only pages
    that mention a known id get a row — the join stays proportional to
    the mention count, and at a 10^8-author scale the broadcast hint is
    the only line to drop (the shuffle join on paup_id is already the
    right shape)."""
    ids = (
        mentions.where(F.col("kind") == "paup")
        .select("url", F.col("key").alias("paup_id"))
        .distinct()
    )
    return (
        ids.join(F.broadcast(kern), "paup_id")
        .groupBy("url")
        .agg(
            F.map_from_entries(
                F.collect_list(F.struct("paup_id", "alternate_names"))
            ).alias("_kerndaten")
        )
    )


# the authority columns build_triples folds into authority_links' dicts
# (and, for the genres vocab, into the A2 ancestor map)
_ORG_COLS = ("name", "aliases", "org_id", "fundref_doi", "country_name")
_CONCEPT_COLS = ("vocab", "uri", "label_en", "label_de", "ancestors")


def build_triples(
    pages: DataFrame,
    authorities: dict[str, DataFrame] | None = None,
    annif: bool = True,
    repair_text: bool = False,
) -> DataFrame:
    """pages(url, warc_ts, html, text, lang) → deduplicated triples DF.

    One narrow mapInArrow stage (emit/arrow.py) does parse+emit and
    drops kill-listed records after its own parse, so the check sees the
    same cleaned first DFK value the emit uses.

    With `authorities` (see datagen/authorities.py for the table shapes):
    the bad_ids kill-list drops records (S3) and the linking rules
    (J1-J6 + A2 ancestor cleanup) add link triples.
    - Pages route (no kerndaten/crossref/tests map): the stage reads the
      pages and parses each one once.
    - Maps route (kerndaten, crossref or tests): the offline-linking
      joins (J9, J13-J15) run as DataFrame joins over the mention rows
      of emit/arrow.mentions_arrow (the emit's own parser, so each
      map's index lines up with the emit), reduced to compact per-page
      resolution maps that are joined onto the pages on url and that
      the emitter applies; a killed record emits nothing, whatever maps
      it was joined to.
    - Linking (J1-J6) runs in the same stage: auth_orgs and auth_concepts
      are collected once per builder (triples_builder) and folded into
      plain dicts (emit/arrow.authority_links), and the kernel applies
      them to each record's triples (link_record) — the per-record
      lookups of the reference, with no post-emit join, union or second
      dedup: the one dedup covers the link triples with the rest.
    - A2 genre cleanup: dedup_clean_genres dedups and applies the thesis
      rule and, with auth_concepts, the ancestor rule per subject after
      one exchange on subj, so the cross-record case stays covered. The
      ancestor map comes from the same auth_concepts collect as the
      linking dicts.

    The kill-list reaches the stage as a frozenset of DFKs, and the
    authorities as dicts, each collected in one small job per builder; a
    broadcast join would build the same tables on the driver. The dicts
    ride the kernel closure; PySpark ships a closure over 1 MB as a
    broadcast variable.

    The emitter runs ~60× less CPU per page than an interpreted
    higher-order-function Column tree of the same spec, with a KB-scale
    plan instead of MB-scale (see the emit/arrow.py docstring).
    """
    return triples_builder(authorities, annif=annif, repair_text=repair_text)(pages)


def triples_builder(
    authorities: dict[str, DataFrame] | None = None,
    annif: bool = True,
    repair_text: bool = False,
):
    """build_triples with everything but the pages bound: the returned
    pages → triples function collects the kill-list and the authority
    tables on its first call and reuses them on every later one, so a
    job that builds once per batch (jobs/convert.py) collects them once
    per run. The maps route's joins are planned per call."""
    from psyndex2linkeddata_spark.emit.arrow import (
        authority_links,
        emit_triples_arrow,
        mentions_arrow,
    )
    from psyndex2linkeddata_spark.operators.upsert import (
        dedup_clean_genres,
        genre_ancestor_map,
    )

    auth = authorities or {}

    @functools.cache
    def collect():
        bad = frozenset()
        if "bad_ids" in auth:
            rows = auth["bad_ids"].select("dfk").distinct().collect()
            bad = frozenset(r.dfk for r in rows)
        orgs, concepts = auth.get("auth_orgs"), auth.get("auth_concepts")
        concept_rows = (
            () if concepts is None else concepts.select(*_CONCEPT_COLS).collect()
        )
        links = None
        if orgs is not None or concepts is not None:
            links = authority_links(
                () if orgs is None else orgs.select(*_ORG_COLS).collect(),
                concept_rows,
            )
        ancestors = None if concepts is None else genre_ancestor_map(concept_rows)
        return bad, links, ancestors

    def build(pages: DataFrame) -> DataFrame:
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

        src = pages
        if "crossref" in auth or "tests" in auth or "kerndaten" in auth:
            from psyndex2linkeddata_spark.plans import crossref as cr

            mentions = mentions_arrow(pages)
            maps = []
            if "kerndaten" in auth:
                maps.append(kerndaten_resolution_map(mentions, auth["kerndaten"]))
            if "crossref" in auth:
                maps.append(cr.rplic_resolution_map(
                    mentions,
                    auth["crossref"],
                    search_threshold=auth.get("crossref_search_threshold"),
                ))
                maps.append(cr.rel_resolution_map(
                    mentions,
                    auth["crossref"],
                    search_threshold=auth.get("crossref_rel_search_threshold"),
                ))
            if "tests" in auth:
                maps.append(cr.testg_resolution_map(mentions, auth["tests"]))
            for res in maps:
                src = src.join(res, "url", "left")
        # Without authorities: one narrow stage + the dedup exchange, no
        # cache; the in-record A2 rule 1 in the kernel covers the genre
        # cleanup as long as the input holds one page per DFK, which is the
        # pages-table contract (url-keyed records export). With authorities
        # (even {}): dedup_clean_genres, which applies A2 per subject after
        # one exchange on subj, so two pages sharing a DFK (one thesis + one
        # Scholarly*) are cleaned too; callers with weaker provenance pass
        # authorities={} for that.
        bad, links, ancestors = collect()
        raw = emit_triples_arrow(src, bad_dfks=bad, annif=annif, links=links)
        if authorities is None:
            return finalize(raw, barrier=False, genre_cleanup=False)
        return dedup_clean_genres(raw, ancestors)

    return build
