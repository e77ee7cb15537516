"""Run report ("data card") for the pages→triples conversion job.

The reference logs per-run counts to star_logs/ and stamps an
AdminMetadata bnode (convert_starxml_to_bf.py:1520-1540, the
generationProcess/generationDate pair); a web-scale corpus job needs the
fuller artifact every training-data pipeline ships alongside its output:
what went in (docs per source/language, token mass, duplicate rate,
quality distribution) and what came out (triples per bucket, wall time,
throughput). This module assembles that from operators the engine
already gates — corpus_stats (driver-oracled rollup), lang_id (F5) and
quality_score over the INPUT pages, plus the checkpoint lineage the run
itself committed — and writes it under <ckpt>/report/run_id=<id>/ next
to the lineage and manifest, so the report travels with the resume
state.

Scale shape: the corpus rollup is one pass over pages (grouping-sets
aggregation, no joins); the quality histogram is a groupBy on a derived
decile (32-way partial agg); lineage is tiny (one row per bucket). No
collect touches page-sized data — only the final per-group aggregates.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, functions as F

from psyndex2linkeddata_spark.functions.lang import guess_language
from psyndex2linkeddata_spark.functions.textstats import quality_score
from psyndex2linkeddata_spark.operators.hosts import host_of
from psyndex2linkeddata_spark.operators.stats import corpus_stats

__all__ = ["build_run_report", "write_run_report"]


def build_run_report(pages: DataFrame) -> dict[str, DataFrame]:
    """Input-side report tables from a pages frame (url, text, ...).

    - ``corpus``: the corpus_stats rollup (leaf / per-source / total)
      with source = registered host of the url and lang = the engine's
      own stopword lang-ID over the text (NOT the crawl's lang column —
      the report describes what the pipeline saw, deterministically).
    - ``quality``: doc counts per quality-score decile (exact decimal
      decile key, engine-exact like the corpus ratios).
    """
    docs = pages.select(
        F.col("url").alias("doc_id"),
        host_of(F.col("url")).alias("source"),
        guess_language(F.col("text")).alias("lang"),
        F.col("text"),
    )
    corpus = corpus_stats(docs)
    q = pages.select(quality_score(F.col("text")).alias("q"))
    decile = F.least(F.floor(F.col("q.score") * 10).cast("int"), F.lit(9))
    quality = (
        q.groupBy(decile.alias("decile"))
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .orderBy("decile")
    )
    return {"corpus": corpus, "quality": quality}


def write_run_report(
    spark: SparkSession,
    pages: DataFrame,
    ckpt_dir: str,
    run_id: str,
    stage: str = "triples",
) -> dict:
    """Write the data-card under <ckpt>/report/run_id=<id>/ and return a
    small summary dict (driver-side scalars only).

    Tables written: corpus/ and quality/ (build_run_report) plus
    throughput/ — the run's own lineage rows (one per bucket) reduced to
    totals: pages, triples, wall seconds, triples/sec."""
    base = os.path.join(ckpt_dir, "report", f"run_id={run_id}")
    rep = build_run_report(pages)
    rep["corpus"].write.mode("overwrite").parquet(os.path.join(base, "corpus"))
    rep["quality"].write.mode("overwrite").parquet(os.path.join(base, "quality"))

    lineage = spark.read.parquet(os.path.join(ckpt_dir, "lineage")).where(
        (F.col("run_id") == run_id) & (F.col("stage") == stage)
    )
    thr = lineage.agg(
        F.count(F.lit(1)).alias("n_buckets"),
        F.sum("row_count").cast("bigint").alias("n_pages"),
        F.sum("n_triples").cast("bigint").alias("n_triples"),
        F.sum("wall_s").alias("wall_s"),
    )
    thr.write.mode("overwrite").parquet(os.path.join(base, "throughput"))

    row = thr.collect()[0]
    summary = {
        "run_id": run_id,
        "n_buckets": int(row["n_buckets"]),
        "n_pages": int(row["n_pages"] or 0),
        "n_triples": int(row["n_triples"] or 0),
        "wall_s": float(row["wall_s"] or 0.0),
    }
    if summary["wall_s"] > 0:
        summary["triples_per_s"] = summary["n_triples"] / summary["wall_s"]
    return summary

