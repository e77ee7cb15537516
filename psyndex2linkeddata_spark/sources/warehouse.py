"""Partitioned triple-table warehouse sink (DataFrameWriterV2 surface).

north_rule: triples materialize into *partitioned Iceberg tables*. The
call surface here is the catalog-agnostic `df.writeTo(table)` V2 API, so
on a cluster with an Iceberg catalog configured
(`spark.sql.catalog.<name>=org.apache.iceberg.spark.SparkCatalog`) the
very same call sites get Iceberg semantics — and with
`bucket_transform=True` Iceberg's hidden `bucket(N, subj)` partitioning,
no materialized bucket column. This container has no Iceberg jar, so the
default path materializes `subj_bucket = pmod(xxhash64(subj), N)` and
partitions on it: identical layout keys, identical pruning behavior
(`where subj_bucket = …` prunes directories the way Iceberg prunes
manifests).

Partitioning by a *subject* hash bucket, not by predicate: predicates
are Zipf-skewed (rdf:type alone is ~30% of a BIBFRAME graph), while
subject buckets are uniform at any corpus size AND co-locate each
entity's triples, which is what entity assembly / canonicalization
rewrites scan by.

The V2 session catalog in vanilla Spark registers the created table as
V1, so `append`/`replace` fall back to the V1 writer when the V2 verbs
are rejected — the fallback is sandbox-only and keeps the same layout.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F
from pyspark.sql.utils import AnalysisException

def with_subj_bucket(df: DataFrame, buckets: int = 64) -> DataFrame:
    return df.withColumn(
        "subj_bucket", F.pmod(F.xxhash64("subj"), F.lit(buckets))
    )


def write_triples_table(
    df: DataFrame,
    table: str,
    buckets: int = 64,
    mode: str = "create",
    bucket_transform: bool = False,
) -> None:
    """Write triples to a partitioned catalog table.

    mode: 'create' | 'replace' | 'append'. `bucket_transform=True` is
    the Iceberg-catalog path (hidden bucket(N, subj) partitioning);
    leave False against the vanilla session catalog.
    """
    if bucket_transform:
        w = (
            df.writeTo(table)
            .partitionedBy(F.bucket(buckets, F.col("subj")))
        )
        out = df
    else:
        out = with_subj_bucket(df, buckets)
        w = out.writeTo(table).using("parquet").partitionedBy(F.col("subj_bucket"))
    if mode == "create":
        w.create()
    elif mode == "replace":
        try:
            w.createOrReplace()
        except AnalysisException:
            # vanilla V2SessionCatalog: no RTAS — drop, then V2-create
            out.sparkSession.sql(f"drop table if exists {table}")
            w.create()
    elif mode == "append":
        try:
            w.append()
        except AnalysisException:
            # table registered as V1 by the session catalog: positional
            # insert keeps the partition layout
            out.write.insertInto(table, overwrite=False)
    else:
        raise ValueError(f"unknown mode {mode!r}")

