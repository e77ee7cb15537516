"""Stage 2 — normalize: records → records + parsed mention columns.

The maps route of build_triples (plans/pipeline.py) runs the offline
linking tiers J13-J15 (plans/crossref.py) as DataFrame joins over the
mention columns parsed here: RPLIC and REL entries with their F3/A3 id
sets and citations, and TESTG entries with their cleaned long names.
The emitter itself (emit/arrow.py) re-parses each record in Python and
applies the resulting per-record resolution maps.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

from psyndex2linkeddata_spark.emit.base import bundle_uri, mainfield, subfield, work_uri

# The parsed mention columns are a large tree of Column operations, and
# each operation is a py4j round trip to CONSTRUCT, while analysis and
# optimization are cheap. Columns are unresolved expressions independent
# of any DataFrame, so the tree is built once per JVM and reused across
# every normalize call.
_COLUMN_CACHE: dict = {}


def _memo(key: str, build):
    from pyspark import SparkContext

    ctx = SparkContext._active_spark_context
    cache_key = (id(ctx), key)
    if cache_key not in _COLUMN_CACHE:
        _COLUMN_CACHE[cache_key] = build()
    return _COLUMN_CACHE[cache_key]


def _checked(value: Column) -> Column:
    """F3 struct(value, type) — imported lazily to avoid import cycles."""
    from psyndex2linkeddata_spark.functions.urls import check_for_url_or_doi

    return check_for_url_or_doi(value)


def _dedup_urls(dois: Column, urls: Column) -> Column:
    """A3 (research_info.py:386-406): drop a url containing one of the dois
    or the OSF shortcode of an OSF doi."""

    def keep(u: Column) -> Column:
        contains_doi = F.exists(dois, lambda d: u.contains(d))
        osf = F.exists(
            dois,
            lambda d: d.contains("OSF.IO/")
            & u.contains("osf.io")
            & u.contains(F.lower(F.element_at(F.split(d, "/"), 3))),
        )
        return ~(contains_doi | osf)

    return F.filter(urls, keep)


def id_sets(values: Column) -> Column:
    """struct(dois, urls, unknowns) from an array of raw strings via F3 +
    A3 dedup; distinct, insertion-ordered (mirrors the reference's set()
    usage — Python sets of ≤3 elements here, order is by first-seen)."""
    checked = F.transform(F.filter(values, lambda v: v.isNotNull()), _checked)
    dois = F.array_distinct(
        F.transform(F.filter(checked, lambda c: c["type"] == "doi"), lambda c: c["value"])
    )
    urls = F.array_distinct(
        F.transform(F.filter(checked, lambda c: c["type"] == "url"), lambda c: c["value"])
    )
    unknowns = F.array_distinct(
        F.transform(
            F.filter(
                checked,
                lambda c: (c["type"] == "unknown")
                & c["value"].isNotNull()
                & (F.trim(c["value"]) != ""),
            ),
            lambda c: c["value"],
        )
    )
    return F.struct(
        dois.alias("dois"),
        _dedup_urls(dois, urls).alias("urls"),
        unknowns.alias("unknowns"),
    )


def relation_mentions() -> dict[str, Column]:
    """Heavy parsed RPLIC/REL/TESTG columns for the J13-J15 resolution
    maps. Hoisted into the normalize projection so the expensive F3
    subtrees become column ATTRIBUTES downstream — CollapseProject keeps
    multi-referenced non-cheap aliases in their own projection, which
    keeps the optimized plan ~100× smaller than inlining (measured: 190s
    → seconds of planning)."""
    rplic_parsed = F.transform(
        F.coalesce(F.col("RPLIC"), F.array()),
        lambda s: F.struct(
            mainfield(s).alias("main"),
            id_sets(
                F.array(subfield(s, "d"), subfield(s, "u"), mainfield(s))
            ).alias("ids"),
        ),
    )
    def _rel_citation(s: Column) -> Column:
        """|a/|t/|j/|q → the reference's composed citation cascade
        (research_info.py:1253-1267)."""
        title = subfield(s, "t")
        author = subfield(s, "a")
        year = subfield(s, "j")
        source = subfield(s, "q")
        return (
            F.when(
                title.isNotNull() & author.isNotNull() & year.isNotNull() & source.isNotNull(),
                F.concat(author, F.lit(": "), title, F.lit("; "), year, F.lit("; "), source),
            )
            .when(
                title.isNotNull() & author.isNotNull() & year.isNotNull(),
                F.concat(author, F.lit(": "), title, F.lit("; "), year),
            )
            .when(title.isNotNull() & author.isNotNull(), F.concat(author, F.lit(": "), title))
            .when(
                title.isNotNull() & year.isNotNull() & source.isNotNull(),
                F.concat(title, F.lit("; "), year, F.lit("; "), source),
            )
            .when(title.isNotNull() & year.isNotNull(), F.concat(title, F.lit("; "), year))
            .otherwise(title)
        )

    rel_parsed = F.transform(
        F.coalesce(F.col("REL"), F.array()),
        lambda s: F.struct(
            F.trim(s).alias("cstr"),
            _checked(F.trim(s)).alias("checked"),
            _rel_citation(s).alias("citation"),
        ),
    )
    return {
        "rplic_parsed": rplic_parsed,
        "rel_parsed": rel_parsed,
        "testg_parsed": testg_parsed_col(),
    }


def _nonempty(col: Column) -> Column:
    return F.when(col.isNotNull() & (F.trim(col) != ""), col)


def testg_longs_cols() -> dict[str, Column]:
    """Two-stage TESTG long-name column: `_testg_longs_raw` extracts |l
    and strips the '(PSYNDEX Tests …)' markers natively; `_testg_longs`
    applies the ALL-CAPS title-casing via the Arrow UDF over the already
    materialized array (pandas UDFs can't contain HOF lambdas in their
    argument subtree)."""
    from psyndex2linkeddata_spark.functions.text import title_except_if_upper_arr

    raw = F.transform(
        F.coalesce(F.col("TESTG"), F.array()),
        lambda s: _nonempty(
            F.regexp_replace(
                subfield(s, "l"), r"\(PSYNDEX Tests (Review|Info|Abstract)\)", ""
            )
        ),
    )
    return {
        "_testg_longs_raw": raw,
        "_testg_longs": title_except_if_upper_arr(F.col("_testg_longs_raw")),
    }


def testg_parsed_col() -> Column:
    """TESTG → array<struct<long, test_id>>, the two fields of the
    reference's build_related_test dict (research_info.py:1404-1525 /
    testing/TESTG/testg.py:105-244) that J15 reads: longName from |l
    with '(PSYNDEX Tests Review/Info/Abstract)' markers removed and
    ALL-CAPS names title-cased (helpers.title_except — Python
    .isupper()/.title() semantics, so the casing runs in the
    Arrow-batched UDF over the extracted array), and test_id |c.

    The cased long names come from the pre-materialized `_testg_longs`
    column (testg_longs_cols): a pandas UDF cannot sit in an expression
    tree containing HOF lambdas, so extraction (native transform) and
    casing (Arrow UDF) live in separate projections."""
    longs = F.col("_testg_longs")
    return F.transform(
        F.coalesce(F.col("TESTG"), F.array()),
        lambda s, i: F.struct(
            F.element_at(longs, i + 1).alias("long"),
            subfield(s, "c").alias("test_id"),
        ),
    )


def normalize(records: DataFrame) -> DataFrame:
    """records → + work/bundle URI columns + parsed mention structs.

    Drops records without a DFK (the reference cannot mint URIs for them
    either). The crossref and tests resolution maps (plans/crossref.py)
    read the parsed columns.
    """
    cols = _memo(
        "normalize_columns",
        lambda: {
            "work": work_uri(F.col("DFK")),
            "bundle": bundle_uri(F.col("DFK")),
            **testg_longs_cols(),
            **relation_mentions(),
        },
    )
    out = records.where(F.col("DFK").isNotNull())
    for name, col in cols.items():
        out = out.withColumn(name, col)
    return out
