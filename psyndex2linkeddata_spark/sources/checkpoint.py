"""Checkpoint / lineage / metrics + resumable batch runs (north_rule:
"every stage writes per-partition lineage and metrics to a checkpoint
table so a killed run resumes exactly where it stopped").

The reference approximates resumability with redis request-caching and
RECORDS_START/END slice windows (/root/reference/convert_starxml_to_bf.py
:44-46,64-85,1506). Here:

- input is bucketed by a stable hash of `url` (crc32 % n_buckets) — the
  same bucketing a real deployment would get from Iceberg's bucket(url)
  partition transform;
- the unit of work is the COMMIT BATCH of `buckets_per_commit` buckets:
  one `process` call and one Spark write per batch, landing under the
  batch's first bucket (out_dir/bucket=<b0:05d>/);
- each committed batch appends one lineage row per bucket to the
  checkpoint table: (stage, run_id, bucket, row_count, n_triples,
  wall_s, status, ts). `row_count` is the bucket's own page count; the
  batch's `n_triples` (rows written) and `wall_s` sit on its first
  bucket's row and are 0 on the others, so sums over lineage are exact;
- resume = anti-join pending buckets against committed ones — a killed
  run redoes only its uncommitted batch.

The persisted triples are a MULTISET: each batch's rows are distinct
(`process` deduplicates), but a vocabulary node emitted by pages of two
batches is stored once per batch. Readers deduplicate, as
`jobs/convert.py` does; lineage `n_triples` counts persisted rows.

S9/S10 (log sink, run manifest) map to the same table: `run_manifest`
rows carry generationProcess/generationDate like the reference's
AdminMetadata bnode (convert_starxml_to_bf.py:1518-1549).
"""

from __future__ import annotations

import os
import time
import uuid

from pyspark.sql import DataFrame, Observation, SparkSession, functions as F
from pyspark.sql import types as T

CKPT_SCHEMA = T.StructType(
    [
        T.StructField("stage", T.StringType(), False),
        T.StructField("run_id", T.StringType(), False),
        T.StructField("bucket", T.IntegerType(), False),
        T.StructField("row_count", T.LongType(), False),
        T.StructField("n_triples", T.LongType(), False),
        T.StructField("wall_s", T.DoubleType(), False),
        T.StructField("status", T.StringType(), False),
        T.StructField("ts", T.TimestampType(), False),
    ]
)


def bucket_col(n_buckets: int):
    return F.pmod(F.crc32(F.col("url")), F.lit(n_buckets)).cast("int")


def _path_exists(spark: SparkSession, path: str) -> bool:
    jvm = spark.sparkContext._jvm
    p = jvm.org.apache.hadoop.fs.Path(path)
    return p.getFileSystem(spark.sparkContext._jsc.hadoopConfiguration()).exists(p)


def completed_buckets(spark: SparkSession, ckpt_dir: str, stage: str) -> set[int]:
    """Buckets whose lineage committed. A missing lineage table means a
    fresh run; any other read error (a corrupt table) propagates rather
    than silently re-running every bucket."""
    path = os.path.join(ckpt_dir, "lineage")
    if not _path_exists(spark, path):
        return set()
    df = spark.read.parquet(path)
    return {
        r.bucket
        for r in df.where(
            (F.col("stage") == stage) & (F.col("status") == "done")
        ).select("bucket").distinct().collect()
    }


def _append_lineage(spark, ckpt_dir: str, rows: list[dict]) -> None:
    # coalesce(1): the whole batch's lineage lands as ONE file (written
    # via temp + rename) — a crash can lose the entire commit but never
    # persist half of it, so resume sees a batch as all-done or all-pending
    spark.createDataFrame(rows, schema=CKPT_SCHEMA).coalesce(1).write.mode(
        "append"
    ).parquet(os.path.join(ckpt_dir, "lineage"))


def run_checkpointed(
    spark: SparkSession,
    pages: DataFrame,
    out_dir: str,
    ckpt_dir: str,
    process,
    stage: str = "triples",
    n_buckets: int = 16,
    buckets_per_commit: int = 4,
    run_id: str | None = None,
) -> dict:
    """Resumable pages→triples run. `process` is pages-DF → triples-DF.

    Pending buckets are grouped into commit batches of
    `buckets_per_commit`. Each batch is ONE `process` call over the
    batch's pages and ONE Spark write, partitioned by `bucket` with
    dynamic partition overwrite into out_dir/bucket=<b0:05d>/, b0 being
    the batch's first bucket — a DETERMINISTIC location, so re-running a
    batch after a crash replaces its rows instead of duplicating them.
    The per-bucket page counts and the batch's row count ride the same
    write as `DataFrame.observe` metrics: no extra count jobs, no
    re-read.

    Lineage gets one row per bucket: `row_count` is the bucket's page
    count; `n_triples` (rows written) and `wall_s` of the batch go on
    b0's row and are 0 on the others. The rows commit only after the
    write, as one atomic single-file append — kill the process anywhere
    and the next invocation redoes exactly the buckets whose lineage
    never landed. Persisted rows are distinct within a batch only; see
    the module docstring for the multiset contract.
    """
    import datetime as dt

    run_id = run_id or uuid.uuid4().hex[:12]
    done = completed_buckets(spark, ckpt_dir, stage)
    pending = [b for b in range(n_buckets) if b not in done]
    bucketed = pages.withColumn("_bucket", bucket_col(n_buckets))
    batches_run = 0
    for i in range(0, len(pending), buckets_per_commit):
        batch = pending[i : i + buckets_per_commit]
        t0 = time.time()
        now = dt.datetime.now(dt.timezone.utc).replace(tzinfo=None)
        page_obs, triple_obs = Observation(), Observation()
        part = bucketed.where(F.col("_bucket").isin(batch)).observe(
            page_obs,
            *[F.count_if(F.col("_bucket") == b).alias(f"b{b}") for b in batch],
        )
        triples = process(part.drop("_bucket")).observe(
            triple_obs, F.count(F.lit(1)).alias("n")
        )
        triples.withColumn("bucket", F.lit(f"{batch[0]:05d}")).write.mode(
            "overwrite"
        ).option("partitionOverwriteMode", "dynamic").partitionBy(
            "bucket"
        ).parquet(out_dir)
        n_pages = page_obs.get
        n_triples = int(triple_obs.get["n"])
        wall_s = float(time.time() - t0)
        rows = [
            dict(
                stage=stage,
                run_id=run_id,
                bucket=b,
                row_count=int(n_pages[f"b{b}"]),
                n_triples=n_triples if b == batch[0] else 0,
                wall_s=wall_s if b == batch[0] else 0.0,
                status="done",
                ts=now,
            )
            for b in batch
        ]
        # lineage commits AFTER the batch's output write — the
        # crash-recovery line
        _append_lineage(spark, ckpt_dir, rows)
        batches_run += 1
    return {
        "run_id": run_id,
        "resumed_buckets": len(done),
        "processed_buckets": len(pending),
        "batches": batches_run,
    }


def run_manifest(spark: SparkSession, ckpt_dir: str, run_id: str, **attrs) -> None:
    """S10: one manifest row per run (generationProcess/Date analog of the
    reference's AdminMetadata bnode)."""
    import datetime as dt

    row = {
        "run_id": run_id,
        "generation_process": "psyndex2linkeddata_spark",
        "generation_date": dt.datetime.now(dt.timezone.utc).replace(tzinfo=None),
        **{k: str(v) for k, v in attrs.items()},
    }
    spark.createDataFrame([row]).write.mode("append").parquet(
        os.path.join(ckpt_dir, "run_manifest")
    )
