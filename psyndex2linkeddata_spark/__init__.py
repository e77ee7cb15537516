"""psyndex2linkeddata_spark — a from-scratch, PySpark-native knowledge-graph
construction engine with the query/data-processing capabilities of
leibniz-psychology/psyndex2linkeddata (reference snapshot 2025-07-04).

NOT a port: the reference is row-at-a-time Python over rdflib + live HTTP
lookups (its convert_starxml_to_bf.py). This engine runs the same
record→RDF semantics as one Arrow-batched stage between a scan and a
shuffle (plans/pipeline.build_triples):

    pages (url, warc_ts, html, text, lang)         [Iceberg/parquet scan]
      → maps      : offline-linking resolution maps (J9 kerndaten, J13-J15
                    Crossref/test-db search) over the mention rows of
                    emit/arrow.mentions_arrow, joined onto the pages on url
                    (only with those authorities)
      → emit      : emit/arrow.py, one mapInArrow kernel per batch: parse,
                    S3 kill-list, BIBFRAME triples (N1-N20) and J1-J6
                    linking against driver-built authority dicts
      → dedup     : set-dedup (A10) and the A2 genre cleanup after one
                    exchange on subj (operators/upsert.dedup_clean_genres),
                    the one stage on every route
      → canonical : connected-components URI canonicalization (opt-in)
      → sink      : partitioned (subj, pred, obj) triples table

The maps and the sink stay DataFrame/SQL; per-record logic that a column
expression tree would spell out at great plan size runs in the kernel.
"""

__version__ = "0.1.0"
