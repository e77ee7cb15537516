"""Incremental KG construction with Structured Streaming.

`stream_triples` runs the full pages→triples pipeline over an append-only
parquet directory with Trigger.AvailableNow: each invocation processes
exactly the files not yet seen (file-source checkpoint), appends triples
partitioned parquet, and records per-batch metrics — re-running after new
pages arrive (or after a crash) picks up precisely where it stopped.

foreachBatch is the right shape here: the emit stage is stateless per
page (one record per page → triple dedup is record-local except for
shared vocabulary nodes, which are idempotent re-emits). foreachBatch
itself is at-least-once, so the sink is made IDEMPOTENT per batch_id:
output lands in batch_id=<id> directories written with overwrite — a
crash/retry between the parquet write and the streaming checkpoint
commit re-runs the batch into the same directory instead of appending
duplicates. at-least-once + idempotent writes = effective exactly-once.

`sessionize_events_stream` shows the stateful side: event-time session
windows with a watermark (late data tolerated up to the watermark bound).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql import types as T

from psyndex2linkeddata_spark.plans.pipeline import build_triples
from psyndex2linkeddata_spark.schema import pages_schema
from psyndex2linkeddata_spark.sources.checkpoint import local_frame

_METRICS_SCHEMA = T.StructType([T.StructField("n_pages", T.LongType())])


def stream_triples(
    spark: SparkSession,
    pages_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    max_files_per_trigger: int | None = None,
) -> None:
    """Process all not-yet-seen page files, then stop (AvailableNow)."""
    reader = (
        spark.readStream.schema(pages_schema())
        .format("parquet")
    )
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    pages = reader.load(pages_dir)

    metrics_path = os.path.join(checkpoint_dir, "batch_metrics")

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        triples = build_triples(batch_df)
        # idempotent per batch_id: a retried batch overwrites its own
        # directory rather than appending a duplicate copy
        triples.write.mode("overwrite").parquet(
            os.path.join(out_dir, "triples", f"batch_id={int(batch_id)}")
        )
        n_pages = batch_df.count()
        spark_ = batch_df.sparkSession
        # the batch_id=<id> partition directory encodes the id; keeping it
        # out of the data schema avoids the COLUMN_ALREADY_EXISTS conflict
        # on read (partition discovery restores the column)
        local_frame(
            spark_, [{"n_pages": int(n_pages)}], _METRICS_SCHEMA
        ).withColumn("ts", F.current_timestamp()).coalesce(1).write.mode(
            "overwrite"
        ).parquet(os.path.join(metrics_path, f"batch_id={int(batch_id)}"))

    q = (
        pages.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", os.path.join(checkpoint_dir, "stream"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def sessionize_events_stream(events: DataFrame, gap_minutes: int = 30) -> DataFrame:
    """Event-time session windows with watermarking (streaming DF in,
    streaming DF out): count events per (user, session window); late
    events beyond 10 minutes are dropped by the watermark."""
    return (
        events.withWatermark("ts", "10 minutes")
        .groupBy(
            F.col("user_id"),
            F.session_window(F.col("ts"), f"{gap_minutes} minutes"),
        )
        .agg(F.count("*").alias("n_events"), F.sum("value").alias("total_value"))
    )


def stream_corpus_chunks(
    spark: SparkSession,
    docs_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    mix_rates: dict[str, float] | None = None,
    min_tokens: int = 5,
    max_dup_word_frac: float = 0.9,
    cdc_divisor: int = 64,
) -> None:
    """Incremental training-corpus prep: new document files → scrubbed,
    quality-gated, CDC-chunked parquet, exactly once per doc.

    Only the NARROW prep stages run per micro-batch (mix sampling, PII
    scrub, per-row gates, chunking — all stateless per document, so a
    batch is just a filtered projection). Near-dup dedup and benchmark
    decontamination are deliberately NOT in the stream: both need
    corpus-global state (the LSH pair graph / the full gram set) that a
    micro-batch can't see; they run as the periodic batch compaction
    over the accumulated chunk table (plans/corpus.py), which is how a
    production crawl pipeline splits it too — stream the cheap hygiene,
    compact the global passes. (stream_neardup_filter is the exception
    that proves the rule: near-dup CAN stream when the global state is
    externalized into a persisted band-key index.)

    Same idempotency contract as stream_triples: per-batch overwrite
    into batch_id=<id> directories, so at-least-once foreachBatch
    becomes effective exactly-once.
    """
    from pyspark.sql.types import (
        LongType, StringType, StructField, StructType,
    )

    from psyndex2linkeddata_spark.plans.corpus import prepare_training_corpus

    schema = StructType([
        StructField("doc_id", LongType()),
        StructField("text", StringType()),
        StructField("lang", StringType()),
        StructField("source", StringType()),
        StructField("n_chars", LongType()),
    ])
    docs = spark.readStream.schema(schema).format("parquet").load(docs_dir)

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        chunks = prepare_training_corpus(
            batch_df,
            mix_rates=mix_rates,
            min_tokens=min_tokens,
            max_dup_word_frac=max_dup_word_frac,
            max_top_bigram_frac=None,
            benchmark=None,
            dedup=False,
            chunking="cdc",
            cdc_divisor=cdc_divisor,
        )
        chunks.write.mode("overwrite").parquet(
            os.path.join(out_dir, "chunks", f"batch_id={int(batch_id)}")
        )

    q = (
        docs.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", os.path.join(checkpoint_dir, "stream"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def stream_latest_snapshot(
    spark: SparkSession,
    pages_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    watermark_delay: str = "10 minutes",
    finalize_grace_ms: int = 0,
) -> None:
    """Cross-batch snapshot dedup as a CUSTOM STATEFUL streaming operator
    (applyInPandasWithState): for every canonical url, keep the newest
    capture seen so far ACROSS micro-batches, emit an update row whenever
    a batch improves a key, and emit a `final=true` row (clearing the
    state) once the event-time watermark passes the key's last update
    plus `finalize_grace_ms` — i.e. when no in-flight capture can still
    displace the winner.

    Why stateful and not a groupBy: the batch operator
    (operators/extraction.latest_snapshot) needs the whole capture set;
    a crawl stream delivers captures of the same url days apart. Keyed
    state holds exactly one candidate row per url (bounded by live-url
    count, evicted on finalize), so state size tracks the frontier, not
    history. Late captures older than the stored winner are absorbed
    with no output; captures later than the watermark bound are dropped
    upstream by the watermark — the standard lateness contract.

    Sink: update-mode rows via foreachBatch into batch_id=<id> dirs
    (same idempotent at-least-once → exactly-once pattern as
    stream_triples). The final table is `last_wins` over the update
    rows; `final=true` rows alone form the closed set.
    """
    import pandas as pd

    from psyndex2linkeddata_spark.operators.extraction import canonical_url
    from psyndex2linkeddata_spark.schema import pages_schema

    pages = (
        spark.readStream.schema(pages_schema())
        .format("parquet")
        .load(pages_dir)
    )
    d = pages.withWatermark("warc_ts", watermark_delay)
    d = d.withColumn("canonical_url", canonical_url(F.col("url")))

    out_schema = (
        "canonical_url string, url string, warc_ts timestamp, "
        "text string, lang string, final boolean"
    )
    # state: epoch micros (long) + the winning row's payload columns
    state_schema = "ts long, url string, text string, lang string"

    def fn(key, pdfs, state):
        canon = key[0]
        if state.hasTimedOut:
            ts, url, text, lang = state.get
            state.remove()
            yield pd.DataFrame(
                [
                    {
                        "canonical_url": canon,
                        "url": url,
                        "warc_ts": pd.Timestamp(ts, unit="us"),
                        "text": text,
                        "lang": lang,
                        "final": True,
                    }
                ]
            )
            return
        best = state.get if state.exists else None  # (ts_us, url, text, lang)
        for pdf in pdfs:
            if len(pdf) == 0:
                continue
            # newest capture in the batch slice; ties broken by raw url
            # descending (same ordering as the batch operator's struct key)
            pdf = pdf.sort_values(["warc_ts", "url"], ascending=False)
            top = pdf.iloc[0]
            ts_us = int(pd.Timestamp(top["warc_ts"]).value // 1000)
            cand = (ts_us, top["url"], top["text"], top["lang"])
            if best is None or (cand[0], cand[1]) > (best[0], best[1]):
                best = cand
        improved = best is not None and (not state.exists or best != tuple(state.get))
        if best is not None:
            state.update(best)
            # finalize once the watermark passes the winner's event time
            # (+ grace); EventTimeTimeout requires a timestamp beyond the
            # current watermark, so never set it in the past.
            wm = state.getCurrentWatermarkMs()
            state.setTimeoutTimestamp(
                max(best[0] // 1000 + finalize_grace_ms, wm + 1)
            )
        if improved:
            ts, url, text, lang = best
            yield pd.DataFrame(
                [
                    {
                        "canonical_url": canon,
                        "url": url,
                        "warc_ts": pd.Timestamp(ts, unit="us"),
                        "text": text,
                        "lang": lang,
                        "final": False,
                    }
                ]
            )

    updates = d.groupBy("canonical_url").applyInPandasWithState(
        fn,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="update",
        timeoutConf="EventTimeTimeout",
    )

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        batch_df.write.mode("overwrite").parquet(
            os.path.join(out_dir, f"batch_id={int(batch_id)}")
        )

    q = (
        updates.writeStream.foreachBatch(process_batch)
        .outputMode("update")
        .option("checkpointLocation", os.path.join(checkpoint_dir, "snapshot"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def stream_neardup_filter(
    spark: SparkSession,
    docs_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    num_hashes: int = 16,
    bands: int = 4,
    n: int = 3,
    max_files_per_trigger: int = 1,
) -> None:
    """Streaming near-dup admission against a PERSISTED MinHash index —
    the streaming answer to the corpus-global-state problem that keeps
    near-dup out of stream_corpus_chunks: the global state is exactly the
    accepted corpus's LSH band keys, persisted as a partitioned index
    table and grown per micro-batch, so no batch ever re-reads (or
    re-shingles) the historical corpus.

    Per micro-batch (foreachBatch runs batches serially):
      1. read the index rows of STRICTLY EARLIER batches
         (`batch_id < current` over the partition column — a re-run of a
         crashed batch therefore never collides with its own previous
         half-written delta);
      2. incremental_neardup(batch, index): cluster the batch, drop any
         cluster that collides with an index bucket, keep cluster minima;
      3. overwrite accepted docs into accepted/batch_id=<id> and the
         accepted docs' min-aggregated band keys into
         index/batch_id=<id>.
    Overwrite-per-batch_id keeps the at-least-once foreachBatch contract
    effectively exactly-once, same as stream_triples.

    Admission is arrival-order-dependent BY DESIGN (first copy crawled
    wins — the index is the tie-break), unlike the batch neardup_clusters
    pass where min doc_id wins globally; within one micro-batch the
    batch-operator determinism (min id per cluster) applies.
    """
    from pyspark.sql.types import (
        LongType, StringType, StructField, StructType,
    )

    from psyndex2linkeddata_spark.operators.dedup import (
        incremental_neardup,
        minhash_band_index,
    )

    schema = StructType([
        StructField("doc_id", LongType()),
        StructField("text", StringType()),
    ])
    docs = (
        spark.readStream.schema(schema)
        .format("parquet")
        .option("maxFilesPerTrigger", str(max_files_per_trigger))
        .load(docs_dir)
    )
    index_dir = os.path.join(out_dir, "index")

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        try:
            index = (
                spark.read.parquet(index_dir)
                .where(F.col("batch_id") < int(batch_id))
                .select("doc_id", "band", "key")
            )
        except Exception:  # first batch: no index yet
            index = spark.createDataFrame(
                [],
                "doc_id long, band int, key string",
            )
        verdict = incremental_neardup(
            batch_df, index, num_hashes=num_hashes, bands=bands, n=n
        )
        accepted = batch_df.join(
            verdict.where("accepted").select("doc_id"), "doc_id"
        )
        # one pass computes both outputs; cache to avoid re-shingling
        accepted = accepted.localCheckpoint(eager=True)
        accepted.write.mode("overwrite").parquet(
            os.path.join(out_dir, "accepted", f"batch_id={int(batch_id)}")
        )
        delta = (
            minhash_band_index(
                accepted, num_hashes=num_hashes, bands=bands, n=n
            )
            .groupBy("band", "key")
            .agg(F.min("doc_id").alias("doc_id"))
        )
        delta.write.mode("overwrite").parquet(
            os.path.join(index_dir, f"batch_id={int(batch_id)}")
        )

    q = (
        docs.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", os.path.join(checkpoint_dir, "neardup"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def compact_neardup_index(spark: SparkSession, out_dir: str) -> int:
    """Compact the stream_neardup_filter index: fold every batch_id
    partition into ONE min-aggregated partition (min of per-batch mins =
    the global min — the aggregation is idempotent by design), keeping
    the `batch_id < current` read contract intact by labeling the
    compacted partition with the LARGEST batch_id seen so far (future
    batch ids only grow, so every later batch still reads it).

    Run between AvailableNow invocations (the stream is quiescent then).
    Returns the number of rows in the compacted index. On a real
    warehouse this is the table format's rewrite-files action (e.g.
    Iceberg rewriteDataFiles) against the same aggregation; here the
    swap is two local renames."""
    import shutil

    index_dir = os.path.join(out_dir, "index")
    parts = sorted(
        p for p in os.listdir(index_dir) if p.startswith("batch_id=")
    )
    if not parts:
        return 0
    max_id = max(int(p.split("=", 1)[1]) for p in parts)
    compacted = (
        spark.read.parquet(*(os.path.join(index_dir, p) for p in parts))
        .groupBy("band", "key")
        .agg(F.min("doc_id").alias("doc_id"))
        .select("doc_id", "band", "key")
    )
    tmp = index_dir + ".compact.tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    compacted.write.parquet(tmp)
    n = spark.read.parquet(tmp).count()
    for p in parts:
        shutil.rmtree(os.path.join(index_dir, p))
    os.rename(tmp, os.path.join(index_dir, f"batch_id={max_id}"))
    return n
