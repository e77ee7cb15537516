from __future__ import annotations

import os

import pytest

from psyndex2linkeddata_spark.datagen.authorities import write_authority_parquets
from psyndex2linkeddata_spark.datagen.pages import write_pages_parquet
from psyndex2linkeddata_spark.session import get_spark

N_FIXTURE_PAGES = 300


def spark_jobs(spark, group, fn) -> int:
    """The number of Spark jobs `fn()` runs, counted by job group."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="tests", master="local[4]", shuffle_partitions=4)
    yield s


@pytest.fixture(scope="session")
def fixture_dir(tmp_path_factory):
    """Deterministic pages + authority parquet fixtures (seed=42)."""
    d = tmp_path_factory.mktemp("fixtures")
    write_pages_parquet(str(d / "pages.parquet"), N_FIXTURE_PAGES, seed=42)
    write_authority_parquets(str(d), N_FIXTURE_PAGES, seed=42)
    return str(d)


@pytest.fixture(scope="session")
def pages(spark, fixture_dir):
    return spark.read.parquet(os.path.join(fixture_dir, "pages.parquet"))


@pytest.fixture(scope="session")
def records(spark, pages):
    from psyndex2linkeddata_spark.extract.parser import extract_records

    df = extract_records(pages, keep_page_cols=True)
    df.cache().count()
    return df


N_JOURNALS = 40


@pytest.fixture(scope="session")
def journal_corpus(tmp_path_factory):
    """One synthetic STAR journal corpus (XML + CSV lookups + records),
    shared by the refexec exact-match gate and the SPARQL gate."""
    from tests.fixture_journals import (
        journal_records,
        write_journal_lookups,
        write_journals_xml,
    )

    d = str(tmp_path_factory.mktemp("journals"))
    recs = journal_records(N_JOURNALS)
    write_journals_xml(os.path.join(d, "journals.xml"), recs)
    write_journal_lookups(d, recs)
    return d, recs


@pytest.fixture(scope="session")
def journal_engine_rows(spark, journal_corpus):
    """Engine-emitted journal triples as plain tuples, computed ONCE per
    session: the emit is a single very wide expression tree whose
    whole-stage codegen overflows janino's 64 KB method limit and falls
    back to interpreted evaluation, so each materialization costs
    minutes — both journals test modules share this collect."""
    from psyndex2linkeddata_spark.datagen.journals import journals_df
    from psyndex2linkeddata_spark.emit.journals import journal_triples

    d, recs = journal_corpus
    j = journals_df(spark, recs)
    uuid_lk = (
        spark.read.option("header", True)
        .csv(os.path.join(d, "jtc_uuid_lookup.csv"))
        .toDF("JTC", "uuid")
    )
    review_lk = (
        spark.read.option("header", True)
        .csv(os.path.join(d, "review_lookup.csv"))
        .toDF("JTC", "rv")
    )
    triples = journal_triples(j, uuid_lk, review_lk)
    return [
        (r.subj, r.pred, r.obj, r.obj_is_iri, r.lang, r.dtype)
        for r in triples.collect()
    ]
