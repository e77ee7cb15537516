"""Checkpoint/lineage resumability tests."""

from __future__ import annotations

import datetime as dt
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


def _utc_now():
    return dt.datetime.now(dt.timezone.utc).replace(tzinfo=None)


def _lineage_rows(run_id, buckets, ts):
    return [
        dict(
            stage="triples", run_id=run_id, bucket=b, row_count=10 + b,
            n_triples=100 if b == buckets[0] else 0,
            wall_s=1.25 if b == buckets[0] else 0.0, status="done", ts=ts,
        )
        for b in buckets
    ]


def _job_tasks(spark, group):
    tracker = spark.sparkContext.statusTracker()
    return [
        sum(
            tracker.getStageInfo(s).numTasks
            for s in tracker.getJobInfo(j).stageIds
        )
        for j in tracker.getJobIdsForGroup(group)
    ]


def test_commits_start_no_python_worker(
    spark, small_pages, tmp_path_factory, monkeypatch
):
    """Lineage and manifest rows reach the JVM as one Arrow batch: with
    `SparkContext.parallelize` (the PythonRDD entry of
    `createDataFrame(<list>)`) raising, a checkpointed run and its
    manifest still complete, and one lineage commit is one Spark job of
    one task. Each row's `ts` is the commit's UTC instant."""
    import time

    from pyspark import SparkContext

    def no_parallelize(*args, **kwargs):
        raise AssertionError("driver rows went through a PythonRDD")

    monkeypatch.setattr(SparkContext, "parallelize", no_parallelize)
    base = str(tmp_path_factory.mktemp("ckpt_arrow"))
    out, ckpt = os.path.join(base, "out"), os.path.join(base, "ckpt")
    t0 = int(time.time() * 1e6)
    res = run_checkpointed(
        spark, small_pages, out, ckpt, build_triples,
        n_buckets=N_BUCKETS, buckets_per_commit=2,
    )
    t1 = int(time.time() * 1e6)
    run_manifest(spark, ckpt, res["run_id"], pages=N_PAGES)
    assert res["batches"] == 2
    micros = [
        r.us
        for r in spark.read.parquet(os.path.join(ckpt, "lineage"))
        .select(F.unix_micros("ts").alias("us"))
        .collect()
    ]
    assert len(micros) == N_BUCKETS and all(t0 <= us <= t1 for us in micros)
    assert spark.read.parquet(os.path.join(ckpt, "run_manifest")).count() == 1

    rows = _lineage_rows("one_job", [0, 1, 2, 3], _utc_now())
    one = str(tmp_path_factory.mktemp("one_commit"))
    jobs = spark_jobs(
        spark, "lineage_commit", lambda: checkpoint._append_lineage(spark, one, rows)
    )
    assert jobs == 1
    assert _job_tasks(spark, "lineage_commit") == [1]


def test_lineage_round_trip(spark, tmp_path):
    """Committed lineage reads back value for value, with CKPT_SCHEMA's
    types; `ts` (a naive UTC datetime) is that UTC instant."""
    ts = dt.datetime(2026, 1, 2, 3, 4, 5, 678901)
    rows = _lineage_rows("rt", [5, 6, 7], ts)
    checkpoint._append_lineage(spark, str(tmp_path), rows)
    df = spark.read.parquet(str(tmp_path / "lineage"))
    assert [(f.name, f.dataType) for f in df.schema.fields] == [
        (f.name, f.dataType) for f in checkpoint.CKPT_SCHEMA.fields
    ]
    assert sorted((r.asDict() for r in df.collect()), key=lambda r: r["bucket"]) == rows
    assert spark.conf.get("spark.sql.session.timeZone") == "UTC"
    (got,) = df.select(
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss.SSSSSS").alias("s"),
        F.unix_micros("ts").alias("us"),
    ).distinct().collect()
    assert got.s == "2026-01-02 03:04:05.678901"
    want_us = int(ts.replace(tzinfo=dt.timezone.utc).timestamp()) * 10**6 + 678901
    assert got.us == want_us


def test_mixed_lineage_table_resumes(spark, small_pages, tmp_path):
    """A lineage table holding one batch file written the earlier way,
    `createDataFrame(<list>, CKPT_SCHEMA)`, and one written by
    `_append_lineage` reads as both batches; a resumed run redoes
    nothing."""
    ckpt = str(tmp_path / "ckpt")
    ts = _utc_now()
    spark.createDataFrame(
        _lineage_rows("old", [0, 1], ts), checkpoint.CKPT_SCHEMA
    ).coalesce(1).write.mode("append").parquet(os.path.join(ckpt, "lineage"))
    checkpoint._append_lineage(spark, ckpt, _lineage_rows("new", [2, 3], ts))
    assert completed_buckets(spark, ckpt, "triples") == set(range(N_BUCKETS))
    assert spark.read.parquet(os.path.join(ckpt, "lineage")).count() == N_BUCKETS

    def must_not_run(pages):
        raise AssertionError("a committed bucket was redone")

    res = run_checkpointed(
        spark, small_pages, str(tmp_path / "out"), ckpt, must_not_run,
        n_buckets=N_BUCKETS, buckets_per_commit=2,
    )
    assert (res["resumed_buckets"], res["processed_buckets"]) == (N_BUCKETS, 0)


def test_mixed_run_manifest_table(spark, tmp_path):
    """A manifest row appended by `run_manifest` lands in a table whose
    first row was written with `createDataFrame([<dict>])`; the table
    keeps that inferred schema (sorted keys, a timestamp, strings)."""
    ckpt = str(tmp_path)
    old = {
        "run_id": "old",
        "generation_process": "psyndex2linkeddata_spark",
        "generation_date": _utc_now(),
        "pages": "80",
        "out": "triples",
    }
    inferred = spark.createDataFrame([old])
    inferred.write.mode("append").parquet(os.path.join(ckpt, "run_manifest"))
    run_manifest(spark, ckpt, "new", pages=80, out="triples")
    df = spark.read.parquet(os.path.join(ckpt, "run_manifest"))
    assert df.schema == inferred.schema
    assert [f.name for f in df.schema.fields] == sorted(old)
    got = {r.run_id: r for r in df.collect()}
    assert sorted(got) == ["new", "old"]
    assert (got["new"].pages, got["new"].out) == ("80", "triples")
    assert got["new"].generation_process == "psyndex2linkeddata_spark"
    assert got["new"].generation_date >= got["old"].generation_date


def test_run_report_data_card(spark, small_pages, tmp_path_factory):
    """--report artifact: corpus_stats rollup + quality deciles + lineage
    throughput land under <ckpt>/report/run_id=<id>/ and reconcile with
    the run's own lineage and with corpus_stats run directly."""
    from psyndex2linkeddata_spark.operators.stats import corpus_stats
    from psyndex2linkeddata_spark.operators.hosts import host_of
    from psyndex2linkeddata_spark.functions.lang import guess_language
    from psyndex2linkeddata_spark.plans.report import write_run_report

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

    report_dir = os.path.join(ckpt, "report", f"run_id={res['run_id']}")
    rep = {
        name: spark.read.parquet(os.path.join(report_dir, name))
        for name in ("corpus", "quality", "throughput")
    }

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
