"""The conversion job: pages table → triples table, checkpointed/resumable.

Usage (local test):
    python -m psyndex2linkeddata_spark.jobs.convert \
        --pages /path/pages.parquet --out /path/out --ckpt /path/ckpt \
        [--authorities /path/auth_dir] [--buckets 64] [--per-commit 8] \
        [--canonicalize] [--nt /path/nt_export]

On a cluster, the same file goes through spark-submit with the package
zip on --py-files; the session master/conf come from spark-submit.
"""

from __future__ import annotations

import argparse
import os

from pyspark.sql import SparkSession


AUTHORITY_TABLES = ("auth_orgs", "auth_concepts", "bad_ids")


def load_authorities(spark: SparkSession, auth_dir: str) -> dict:
    """The AUTHORITY_TABLES present under `auth_dir`, a local path or any
    Hadoop FS URI (file://, hdfs://, s3a://). A directory holding none of
    them raises: a job asked to link must not run unlinked."""
    from psyndex2linkeddata_spark.sources.checkpoint import _path_exists

    out = {}
    for name in AUTHORITY_TABLES:
        path = os.path.join(auth_dir, f"{name}.parquet")
        if _path_exists(spark, path):
            out[name] = spark.read.parquet(path)
    if not out:
        tables = ", ".join(f"{n}.parquet" for n in AUTHORITY_TABLES)
        raise FileNotFoundError(f"no authority table in {auth_dir} (expected {tables})")
    return out


def main(argv=None) -> None:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("--pages", required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--ckpt", required=True)
    ap.add_argument("--authorities")
    ap.add_argument("--buckets", type=int, default=64)
    ap.add_argument("--per-commit", type=int, default=8)
    ap.add_argument("--canonicalize", action="store_true",
                    help="connected-components URI canonicalization over "
                         "owl:sameAs edges after conversion")
    ap.add_argument("--nt", help="also export N-Triples text to this path")
    ap.add_argument("--table",
                    help="also materialize the triples as a partitioned "
                         "catalog table (writeTo V2 surface — Iceberg on a "
                         "configured cluster catalog, parquet session "
                         "catalog here); subj-hash bucketed")
    ap.add_argument("--report", action="store_true",
                    help="write the run's data-card (corpus_stats rollup "
                         "over the input pages, quality-decile histogram, "
                         "lineage throughput totals) under "
                         "<ckpt>/report/run_id=<id>/")
    ap.add_argument("--master", default=None,
                    help="override master for local runs (spark-submit sets it otherwise)")
    args = ap.parse_args(argv)

    from psyndex2linkeddata_spark import namespaces as NS, schema
    from psyndex2linkeddata_spark.plans.pipeline import triples_builder
    from psyndex2linkeddata_spark.session import get_spark
    from psyndex2linkeddata_spark.sources.checkpoint import (
        run_checkpointed,
        run_manifest,
    )

    spark = get_spark(app_name="psyndex-convert", master=args.master)
    pages = spark.read.parquet(args.pages)
    authorities = (
        load_authorities(spark, args.authorities) if args.authorities else None
    )

    # one builder per run: the authority tables are collected by the
    # first batch and reused by every later one
    res = run_checkpointed(
        spark,
        pages,
        os.path.join(args.out, "triples"),
        args.ckpt,
        triples_builder(authorities),
        n_buckets=args.buckets,
        buckets_per_commit=args.per_commit,
    )
    run_manifest(spark, args.ckpt, res["run_id"], pages=args.pages, out=args.out)
    # the bucket= partition column is storage layout, not part of a triple;
    # the persisted set is a multiset (see sources/checkpoint.py), so the
    # exports and the count below deduplicate. The known schema spares
    # the read its schema-inference job.
    triples = (
        spark.read.schema(schema.triples_schema())
        .parquet(os.path.join(args.out, "triples"))
        .select(*schema.TRIPLE_COLS)
    )

    if args.report:
        from psyndex2linkeddata_spark.plans.report import write_run_report

        summary = write_run_report(spark, pages, args.ckpt, res["run_id"])
        print(f"report: {summary}")

    if args.canonicalize:
        from pyspark.sql import Observation, functions as F

        from psyndex2linkeddata_spark.operators.components import (
            canonicalize_uris,
            connected_components,
        )

        edges = triples.where(F.col("pred") == NS.OWL + "sameAs").select(
            F.col("subj").alias("src"), F.col("obj").alias("dst")
        )
        comps = connected_components(edges)
        canonical = os.path.join(args.out, "triples_canonical")
        # the table holds each triple once; its row count is observed in
        # the write's result stage, after the dedup, so no pass re-reads it
        obs = Observation("triples_canonical")
        canonicalize_uris(triples, comps).distinct().observe(
            obs, F.count(F.lit(1)).alias("n")
        ).write.mode("overwrite").parquet(canonical)
        n = obs.get["n"]
        # the exports read the written table back instead of re-running
        # the two canonicalize_uris joins per consumer
        triples = spark.read.parquet(canonical)
    else:
        triples = triples.distinct()
        n = triples.count()

    if args.nt:
        from psyndex2linkeddata_spark.sources.export import write_nt

        write_nt(triples, args.nt)

    if args.table:
        from psyndex2linkeddata_spark.sources.warehouse import write_triples_table

        write_triples_table(triples, args.table, buckets=args.buckets, mode="replace")

    print(f"run_id={res['run_id']} buckets={res['processed_buckets']} triples={n}")


if __name__ == "__main__":
    main()
