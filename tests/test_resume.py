"""Checkpoint/lineage resumability + streaming incremental tests."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from psyndex2linkeddata_spark.datagen.pages import write_pages_parquet
from psyndex2linkeddata_spark.plans.pipeline import build_triples
from psyndex2linkeddata_spark.schema import TRIPLE_COLS
from psyndex2linkeddata_spark.sources import checkpoint
from psyndex2linkeddata_spark.sources.checkpoint import (
    completed_buckets,
    run_checkpointed,
    run_manifest,
)
from tests.conftest import spark_jobs

N_PAGES = 80
N_BUCKETS = 4


@pytest.fixture(scope="module")
def small_pages(spark, tmp_path_factory):
    d = tmp_path_factory.mktemp("ckpt_pages")
    path = str(d / "pages.parquet")
    write_pages_parquet(path, N_PAGES)
    return spark.read.parquet(path)


def test_checkpointed_run_and_resume(spark, small_pages, tmp_path_factory):
    base = str(tmp_path_factory.mktemp("ckpt_run"))
    out, ckpt = os.path.join(base, "out"), os.path.join(base, "ckpt")
    res = run_checkpointed(
        spark, small_pages, out, ckpt, build_triples,
        n_buckets=N_BUCKETS, buckets_per_commit=2,
    )
    assert res["processed_buckets"] == N_BUCKETS
    lineage = spark.read.parquet(os.path.join(ckpt, "lineage"))
    rows = lineage.collect()
    assert {r.bucket for r in rows} == set(range(N_BUCKETS))
    assert sum(r.row_count for r in rows) == N_PAGES  # every page accounted
    # all triples of a full unbucketed run are present; shared vocabulary
    # nodes re-emitted per batch collapse under the global read-side dedup
    got = spark.read.parquet(out).drop("bucket").distinct().count()
    expect = build_triples(small_pages).count()
    assert got == expect
    # resume: nothing left to do
    res2 = run_checkpointed(
        spark, small_pages, out, ckpt, build_triples,
        n_buckets=N_BUCKETS, buckets_per_commit=2,
    )
    assert res2["processed_buckets"] == 0
    assert res2["resumed_buckets"] == N_BUCKETS
    run_manifest(spark, ckpt, res["run_id"], pages=N_PAGES)
    assert spark.read.parquet(os.path.join(ckpt, "run_manifest")).count() == 1


def test_crash_mid_run_resumes_exactly(spark, small_pages, tmp_path_factory):
    base = str(tmp_path_factory.mktemp("ckpt_crash"))
    out, ckpt = os.path.join(base, "out"), os.path.join(base, "ckpt")

    calls = {"n": 0}

    def flaky(pages):
        calls["n"] += 1
        # process runs once per commit BATCH; with buckets_per_commit=2
        # the second call is the second batch → batch 1 fully committed,
        # batch 2 never reaches its lineage commit
        if calls["n"] == 2:
            raise RuntimeError("simulated executor loss")
        return build_triples(pages)

    with pytest.raises(RuntimeError):
        run_checkpointed(
            spark, small_pages, out, ckpt, flaky,
            n_buckets=N_BUCKETS, buckets_per_commit=2,
        )
    done = completed_buckets(spark, ckpt, "triples")
    assert len(done) == 2  # first batch committed, second didn't
    res = run_checkpointed(
        spark, small_pages, out, ckpt, build_triples,
        n_buckets=N_BUCKETS, buckets_per_commit=2,
    )
    assert res["resumed_buckets"] == 2
    assert res["processed_buckets"] == 2
    got = spark.read.parquet(out).drop("bucket").distinct().count()
    expect = build_triples(small_pages).count()
    assert got == expect


def test_completed_buckets_fails_loud_on_corrupt_lineage(spark, tmp_path):
    """Only a missing lineage table reads as a fresh run; a corrupt one
    raises instead of silently re-running every bucket."""
    ckpt = str(tmp_path / "ckpt")
    assert completed_buckets(spark, ckpt, "triples") == set()
    os.makedirs(os.path.join(ckpt, "lineage"))
    with open(os.path.join(ckpt, "lineage", "part-00000.parquet"), "wb") as f:
        f.write(b"not a parquet file")
    with pytest.raises(Exception):
        completed_buckets(spark, ckpt, "triples")


def _triple_set(df):
    return {tuple(r) for r in df.select(*TRIPLE_COLS).collect()}


def test_crash_at_commit_resumes_with_other_batch_size(
    spark, small_pages, tmp_path_factory, monkeypatch
):
    """The second batch's output lands but its lineage commit dies; the
    resume regroups the pending buckets one per batch. The persisted
    distinct set is still exactly the one-shot pipeline's, and every
    bucket= partition on disk belongs to a committed bucket."""
    base = str(tmp_path_factory.mktemp("ckpt_regroup"))
    out, ckpt = os.path.join(base, "out"), os.path.join(base, "ckpt")
    append = checkpoint._append_lineage
    commits = {"n": 0}

    def dying_append(*args):
        commits["n"] += 1
        if commits["n"] == 2:
            raise RuntimeError("simulated driver loss before commit")
        append(*args)

    monkeypatch.setattr(checkpoint, "_append_lineage", dying_append)
    with pytest.raises(RuntimeError):
        run_checkpointed(
            spark, small_pages, out, ckpt, build_triples,
            n_buckets=N_BUCKETS, buckets_per_commit=2,
        )
    monkeypatch.setattr(checkpoint, "_append_lineage", append)
    assert completed_buckets(spark, ckpt, "triples") == {0, 1}
    assert sorted(os.listdir(out)) == ["bucket=00000", "bucket=00002"]

    res = run_checkpointed(
        spark, small_pages, out, ckpt, build_triples,
        n_buckets=N_BUCKETS, buckets_per_commit=1,
    )
    assert (res["resumed_buckets"], res["processed_buckets"]) == (2, 2)
    assert res["batches"] == 2
    committed = completed_buckets(spark, ckpt, "triples")
    assert committed == set(range(N_BUCKETS))
    on_disk = {
        int(d.split("=", 1)[1]) for d in os.listdir(out) if d.startswith("bucket=")
    }
    assert on_disk <= committed
    assert _triple_set(spark.read.parquet(out)) == _triple_set(
        build_triples(small_pages)
    )


def test_lineage_sums_match_pages_and_persisted_rows(
    spark, small_pages, tmp_path_factory
):
    """Per-bucket page counts are exact; a batch's row count and wall
    time sit on its first bucket only, so lineage sums equal the input
    pages and the rows on disk."""
    base = str(tmp_path_factory.mktemp("ckpt_sums"))
    out, ckpt = os.path.join(base, "out"), os.path.join(base, "ckpt")
    run_checkpointed(
        spark, small_pages, out, ckpt, build_triples,
        n_buckets=N_BUCKETS, buckets_per_commit=3,
    )
    rows = {r.bucket: r for r in spark.read.parquet(os.path.join(ckpt, "lineage")).collect()}
    assert sorted(rows) == list(range(N_BUCKETS))
    per_bucket = {
        r.b: r["count"]
        for r in small_pages.groupBy(checkpoint.bucket_col(N_BUCKETS).alias("b"))
        .count()
        .collect()
    }
    assert {b: r.row_count for b, r in rows.items()} == {
        b: per_bucket.get(b, 0) for b in range(N_BUCKETS)
    }
    assert sum(r.row_count for r in rows.values()) == N_PAGES
    persisted = spark.read.parquet(out).count()
    assert sum(r.n_triples for r in rows.values()) == persisted
    # batches [0, 1, 2] and [3]: the non-first buckets carry no batch totals
    assert rows[1].n_triples == rows[2].n_triples == 0
    assert rows[1].wall_s == rows[2].wall_s == 0.0
    assert rows[0].n_triples > 0 and rows[3].n_triples > 0


def test_commit_batch_job_count_is_independent_of_batch_width(
    spark, small_pages, tmp_path_factory
):
    """A commit batch costs a fixed number of Spark jobs: a batch of four
    buckets issues no more jobs than a batch of one, so no per-bucket
    job (count, write or re-read) can creep back in."""
    base = str(tmp_path_factory.mktemp("ckpt_jobs"))

    def run(tag, n_buckets):
        return lambda: run_checkpointed(
            spark, small_pages, os.path.join(base, tag, "out"),
            os.path.join(base, tag, "ckpt"), build_triples,
            n_buckets=n_buckets, buckets_per_commit=n_buckets,
        )

    one = spark_jobs(spark, "ckpt_jobs_1", run("one", 1))
    four = spark_jobs(spark, "ckpt_jobs_4", run("four", 4))
    assert 0 < four <= one
    assert four <= 4


def test_streaming_incremental(spark, tmp_path_factory):
    from psyndex2linkeddata_spark.datagen.pages import (
        make_records,
        pages_rows_from_records,
    )
    from psyndex2linkeddata_spark.schema import pages_schema
    from psyndex2linkeddata_spark.streaming.incremental import stream_triples

    base = str(tmp_path_factory.mktemp("stream"))
    pages_dir = os.path.join(base, "pages")
    out_dir = os.path.join(base, "out")
    ckpt_dir = os.path.join(base, "ckpt")
    os.makedirs(pages_dir)

    recs = make_records(60)
    rows = pages_rows_from_records(recs)

    def write_chunk(chunk, name):
        spark.createDataFrame(chunk, schema=pages_schema()).coalesce(1).write.mode(
            "append"
        ).parquet(pages_dir)

    write_chunk(rows[:40], "a")
    stream_triples(spark, pages_dir, out_dir, ckpt_dir)
    t1 = spark.read.parquet(os.path.join(out_dir, "triples"))
    works1 = t1.where(F.col("subj").endswith("_work")).select("subj").distinct().count()
    assert works1 >= 40  # 40 main works (+ related-work nodes)

    write_chunk(rows[40:], "b")
    stream_triples(spark, pages_dir, out_dir, ckpt_dir)
    t2 = spark.read.parquet(os.path.join(out_dir, "triples"))
    # the second run processed ONLY the new file: metrics show 2 batches
    metrics = spark.read.parquet(os.path.join(ckpt_dir, "batch_metrics"))
    per_batch = sorted(r.n_pages for r in metrics.collect())
    assert per_batch == [20, 40]
    subj_main = {
        r.subj
        for r in t2.where(
            F.col("subj").rlike("works/[0-9]{7}_work$")
        ).select("subj").distinct().collect()
    }
    assert len(subj_main) == 60


def test_sessionize_stream_plan(spark):
    """Streaming sessionization analyzes as a valid streaming plan."""
    from psyndex2linkeddata_spark.streaming.incremental import (
        sessionize_events_stream,
    )

    events = (
        spark.readStream.format("rate").option("rowsPerSecond", 1).load()
        .select(
            F.col("timestamp").alias("ts"),
            (F.col("value") % 3).alias("user_id"),
            F.col("value").cast("double").alias("value"),
        )
    )
    out = sessionize_events_stream(events)
    assert out.isStreaming
    assert set(out.columns) == {"user_id", "session_window", "n_events", "total_value"}


def test_streaming_corpus_chunks(spark, tmp_path_factory):
    """Two arrival waves → two AvailableNow runs: each doc chunked exactly
    once, final table equals the batch plan over the union."""
    import os

    from psyndex2linkeddata_spark.plans.corpus import prepare_training_corpus
    from psyndex2linkeddata_spark.streaming.incremental import stream_corpus_chunks

    base = str(tmp_path_factory.mktemp("stream_corpus"))
    docs_dir, out_dir, ckpt = (os.path.join(base, d) for d in ("docs", "out", "ckpt"))
    os.makedirs(docs_dir)

    def make(lo, hi):
        return spark.range(lo, hi).select(
            F.col("id").alias("doc_id"),
            F.concat_ws(
                " ",
                *[
                    F.concat(F.lit(f"tok{j}_"), (F.col("id") * (j + 3) % 101).cast("string"))
                    for j in range(30)
                ],
            ).alias("text"),
            F.lit("de").alias("lang"),
            F.lit("src0").alias("source"),
            F.lit(0).cast("long").alias("n_chars"),
        )

    make(0, 40).coalesce(1).write.mode("append").parquet(docs_dir)
    stream_corpus_chunks(spark, docs_dir, out_dir, ckpt, cdc_divisor=16)
    first = spark.read.parquet(os.path.join(out_dir, "chunks")).count()
    assert first > 0

    make(40, 60).coalesce(1).write.mode("append").parquet(docs_dir)
    stream_corpus_chunks(spark, docs_dir, out_dir, ckpt, cdc_divisor=16)
    got = spark.read.parquet(os.path.join(out_dir, "chunks"))
    want = prepare_training_corpus(
        make(0, 60), benchmark=None, dedup=False,
        max_top_bigram_frac=None, chunking="cdc", cdc_divisor=16,
    )
    assert got.count() == want.count() > first
    g = {(r.doc_id, r.chunk_id, r.chunk_text) for r in got.collect()}
    w = {(r.doc_id, r.chunk_id, r.chunk_text) for r in want.collect()}
    assert g == w


def test_stream_latest_snapshot_stateful(spark, tmp_path_factory):
    """applyInPandasWithState snapshot dedup: winners carry ACROSS
    micro-batches (keyed state), older late captures are absorbed with
    no output, and keys finalize (final=true + state eviction) once the
    watermark passes their event time. Each AvailableNow run produces
    its data batch plus a trailing no-data batch that fires timeouts."""
    import datetime as dt
    import glob

    from psyndex2linkeddata_spark.operators.extraction import latest_snapshot
    from psyndex2linkeddata_spark.schema import pages_schema
    from psyndex2linkeddata_spark.streaming.incremental import (
        stream_latest_snapshot,
    )

    base = str(tmp_path_factory.mktemp("snapshot_stream"))
    pages_dir = os.path.join(base, "pages")
    out_dir = os.path.join(base, "out")
    ckpt_dir = os.path.join(base, "ckpt")
    os.makedirs(pages_dir)

    t0 = dt.datetime(2024, 1, 1, 12, 0, 0)

    def page(url, minutes, text):
        return {
            "url": url,
            "warc_ts": t0 + dt.timedelta(minutes=minutes),
            "html": b"",
            "text": text,
            "lang": "en",
        }

    def write_chunk(rows):
        spark.createDataFrame(rows, schema=pages_schema()).coalesce(
            1
        ).write.mode("append").parquet(pages_dir)

    def run():
        stream_latest_snapshot(
            spark, pages_dir, out_dir, ckpt_dir, watermark_delay="10 minutes"
        )

    def outputs():
        rows = []
        for d in sorted(glob.glob(os.path.join(out_dir, "batch_id=*"))):
            bid = int(d.rsplit("=", 1)[1])
            rows += [(bid, r) for r in spark.read.parquet(d).collect()]
        return rows

    # run 1: two captures of A (utm variant older), one of B
    write_chunk(
        [
            page("https://a.example.org/p?utm_source=x", 0, "a-old"),
            page("https://a.example.org/p", 5, "a-new"),
            page("https://b.example.org/q", 3, "b-only"),
        ]
    )
    run()
    out1 = outputs()
    got1 = {r.canonical_url: (r.text, bool(r.final)) for _, r in out1}
    assert got1 == {
        "https://a.example.org/p": ("a-new", False),
        "https://b.example.org/q": ("b-only", False),
    }
    n1 = len(out1)

    # run 2: late OLDER capture of A (absorbed silently), newer B, and a
    # far-future C that pushes the watermark past A/B event times — the
    # run's trailing timeout batch then emits their final rows
    write_chunk(
        [
            page("https://a.example.org/p#frag", 2, "a-older-late"),
            page("https://b.example.org/q?utm_c=1", 8, "b-newer"),
            page("https://c.example.org/r", 600, "c-future"),
        ]
    )
    run()
    new_rows = outputs()[n1:]
    updates = {
        r.canonical_url: r.text for _, r in new_rows if not bool(r.final)
    }
    finals = {r.canonical_url: r.text for _, r in new_rows if bool(r.final)}
    assert updates == {
        "https://b.example.org/q": "b-newer",
        "https://c.example.org/r": "c-future",
    }  # A's older late capture absorbed with no output
    assert finals == {
        "https://a.example.org/p": "a-new",
        "https://b.example.org/q": "b-newer",
    }

    # closure: last_wins over every update row == batch latest_snapshot
    # over every capture
    all_rows = outputs()
    stream_final = {}
    for _, r in sorted(all_rows, key=lambda t: (t[1].warc_ts, t[1].url)):
        stream_final[r.canonical_url] = r.text
    batch = latest_snapshot(spark.read.parquet(pages_dir))
    batch_final = {r.canonical_url: r.text for r in batch.collect()}
    assert stream_final == batch_final


def test_stream_neardup_filter(spark, tmp_path_factory):
    """Streaming near-dup admission against the persisted MinHash index:
    wave-2 docs duplicating wave-1 texts are rejected via the INDEX (the
    historical docs are never re-read); within-batch dups keep the min id;
    fresh texts pass. Two AvailableNow invocations = index grown across
    runs through the checkpoint."""
    import os

    from psyndex2linkeddata_spark.streaming.incremental import (
        stream_neardup_filter,
    )

    base = str(tmp_path_factory.mktemp("stream_neardup"))
    docs_dir, out_dir, ckpt = (os.path.join(base, d) for d in ("docs", "out", "ckpt"))
    os.makedirs(docs_dir)

    t_fox = "the quick brown fox jumps over the lazy dog near the river"
    t_ship = "ancient ships carried copper ingots across the wine dark sea"
    t_comet = "a bright comet crossed the northern sky before dawn yesterday"

    def write(rows):
        spark.createDataFrame(rows, "doc_id long, text string").coalesce(
            1
        ).write.mode("append").parquet(docs_dir)

    write([(1, t_fox), (2, t_ship)])
    stream_neardup_filter(spark, docs_dir, out_dir, ckpt, num_hashes=8, bands=4)
    acc1 = spark.read.parquet(os.path.join(out_dir, "accepted"))
    assert {r.doc_id for r in acc1.collect()} == {1, 2}

    # doc 3 duplicates wave-1 doc 1 (index hit); 4 is fresh; 5 duplicates
    # 4 within the batch (cluster min 4 wins)
    write([(3, t_fox), (4, t_comet), (5, t_comet)])
    stream_neardup_filter(spark, docs_dir, out_dir, ckpt, num_hashes=8, bands=4)
    acc = spark.read.parquet(os.path.join(out_dir, "accepted"))
    assert {r.doc_id for r in acc.collect()} == {1, 2, 4}

    # the index holds band keys for exactly the accepted docs
    idx = spark.read.parquet(os.path.join(out_dir, "index"))
    assert {r.doc_id for r in idx.select("doc_id").distinct().collect()} == {1, 2, 4}

    # compact the two batch partitions into one; a third wave must still
    # see wave-1 history through the compacted index
    from psyndex2linkeddata_spark.streaming.incremental import (
        compact_neardup_index,
    )

    n = compact_neardup_index(spark, out_dir)
    assert n > 0
    assert os.listdir(os.path.join(out_dir, "index")) == ["batch_id=1"]
    write([(6, t_ship), (7, "fresh snow fell quietly on the old stone bridge")])
    stream_neardup_filter(spark, docs_dir, out_dir, ckpt, num_hashes=8, bands=4)
    acc = spark.read.parquet(os.path.join(out_dir, "accepted"))
    assert {r.doc_id for r in acc.collect()} == {1, 2, 4, 7}


def test_run_report_data_card(spark, small_pages, tmp_path_factory):
    """--report artifact: corpus_stats rollup + quality deciles + lineage
    throughput land under <ckpt>/report/run_id=<id>/ and reconcile with
    the run's own lineage and with corpus_stats run directly."""
    from psyndex2linkeddata_spark.operators.stats import corpus_stats
    from psyndex2linkeddata_spark.operators.hosts import host_of
    from psyndex2linkeddata_spark.functions.lang import guess_language
    from psyndex2linkeddata_spark.plans.report import (
        read_run_report,
        write_run_report,
    )

    base = str(tmp_path_factory.mktemp("ckpt_report"))
    out, ckpt = os.path.join(base, "out"), os.path.join(base, "ckpt")
    res = run_checkpointed(
        spark, small_pages, out, ckpt, build_triples,
        n_buckets=N_BUCKETS, buckets_per_commit=2,
    )
    summary = write_run_report(spark, small_pages, ckpt, res["run_id"])
    assert summary["run_id"] == res["run_id"]
    assert summary["n_buckets"] == N_BUCKETS
    assert summary["n_pages"] == N_PAGES
    assert summary["n_triples"] > 0 and summary["triples_per_s"] > 0

    rep = read_run_report(spark, ckpt, res["run_id"])

    # corpus table == corpus_stats run directly on the same derivation
    docs = small_pages.select(
        F.col("url").alias("doc_id"),
        host_of(F.col("url")).alias("source"),
        guess_language(F.col("text")).alias("lang"),
        F.col("text"),
    )
    expect = {tuple(r) for r in corpus_stats(docs).collect()}
    got = {tuple(r) for r in rep["corpus"].collect()}
    assert got == expect
    # grand-total row (lvl=3) counts every page
    total = [r for r in rep["corpus"].collect() if r["lvl"] == 3]
    assert len(total) == 1 and total[0]["n_docs"] == N_PAGES

    # quality deciles partition all pages
    qrows = rep["quality"].collect()
    assert sum(r["n_docs"] for r in qrows) == N_PAGES
    assert all(0 <= r["decile"] <= 9 for r in qrows)

    # throughput mirrors the lineage the run committed
    lineage = spark.read.parquet(os.path.join(ckpt, "lineage"))
    n_trip = sum(r.n_triples for r in lineage.collect())
    thr = rep["throughput"].collect()[0]
    assert thr["n_triples"] == n_trip == summary["n_triples"]

    # the convert job's --report flag drives the same path end-to-end
    from psyndex2linkeddata_spark.jobs import convert as convert_job

    base2 = str(tmp_path_factory.mktemp("ckpt_report_job"))
    pages_path = os.path.join(base2, "pages.parquet")
    small_pages.write.parquet(pages_path)
    convert_job.main([
        "--pages", pages_path,
        "--out", os.path.join(base2, "out"),
        "--ckpt", os.path.join(base2, "ckpt"),
        "--buckets", "2", "--per-commit", "2",
        "--report",
    ])
    reports = os.listdir(os.path.join(base2, "ckpt", "report"))
    assert len(reports) == 1 and reports[0].startswith("run_id=")
