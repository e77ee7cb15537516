"""Salted-aggregation equivalence + the spark-submit conversion job CLI."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from psyndex2linkeddata_spark.operators.skew import salted_collect_set, salted_count
from tests.conftest import spark_jobs


def test_salted_count_equals_plain(spark):
    # hot key: 'a' carries 90% of rows
    rows = [("a", i) for i in range(900)] + [(f"k{i}", i) for i in range(100)]
    df = spark.createDataFrame(rows, ["k", "v"])
    plain = {r.k: r["count"] for r in df.groupBy("k").count().collect()}
    salted = {r.k: r["count"] for r in salted_count(df, ["k"]).collect()}
    assert plain == salted


def test_salted_collect_set_equals_plain(spark):
    rows = [("a", i % 7) for i in range(500)] + [("b", i) for i in range(5)]
    df = spark.createDataFrame(rows, ["k", "v"])
    plain = {
        r.k: sorted(r.vs)
        for r in df.groupBy("k").agg(F.collect_set("v").alias("vs")).collect()
    }
    salted = {
        r.k: sorted(r.v_set) for r in salted_collect_set(df, ["k"], "v").collect()
    }
    assert plain == salted


def test_convert_job_cli(spark, tmp_path_factory):
    from psyndex2linkeddata_spark import namespaces as NS
    from psyndex2linkeddata_spark.datagen.authorities import write_authority_parquets
    from psyndex2linkeddata_spark.datagen.pages import write_pages_parquet
    from psyndex2linkeddata_spark.extract.parser import extract_records
    from psyndex2linkeddata_spark.jobs.convert import load_authorities, main
    from psyndex2linkeddata_spark.plans.pipeline import build_triples
    from psyndex2linkeddata_spark.schema import TRIPLE_COLS

    base = str(tmp_path_factory.mktemp("job"))
    pages = os.path.join(base, "pages.parquet")
    write_pages_parquet(pages, 40)
    auth_dir = os.path.join(base, "auth")
    write_authority_parquets(auth_dir, 40)
    out = os.path.join(base, "out")
    ckpt = os.path.join(base, "ckpt")
    nt = os.path.join(base, "nt")
    spark.sql(
        f"create database if not exists wh_job location '{os.path.join(base, 'wh')}'"
    )
    main(
        [
            "--pages", pages,
            "--out", out,
            "--ckpt", ckpt,
            "--authorities", auth_dir,
            "--buckets", "4",
            "--per-commit", "2",
            "--nt", nt,
            "--table", "wh_job.triples",
        ]
    )
    triples = spark.read.parquet(os.path.join(out, "triples")).select(*TRIPLE_COLS)
    assert triples.distinct().count() > 1000
    # --table materialized the same triple set as a partitioned table
    tbl = spark.table("wh_job.triples")
    assert tbl.count() == triples.distinct().count()
    assert "subj_bucket" in tbl.columns
    spark.sql("drop database if exists wh_job cascade")
    # enrichment ran (ror ids present) and kill-list applied
    assert triples.where(F.col("subj").endswith("_rorid")).count() > 0
    authorities = load_authorities(spark, auth_dir)
    killed = {r.dfk for r in authorities["bad_ids"].collect()}
    pages_df = spark.read.parquet(pages)
    assert extract_records(pages_df).where(F.col("DFK").isin(*killed)).count() > 0
    for dfk in killed:
        assert triples.where(F.col("subj").startswith(NS.WORKS + dfk)).count() == 0
    # the persisted distinct set is the one-shot pipeline's
    one_shot = build_triples(pages_df, authorities).select(*TRIPLE_COLS)
    assert set(triples.distinct().collect()) == set(one_shot.collect())
    lineage = spark.read.parquet(os.path.join(ckpt, "lineage"))
    assert lineage.where(F.col("status") == "done").count() == 4
    assert spark.read.text(nt).count() == triples.distinct().count()
    # resumability: second invocation is a no-op (lineage rows unchanged)
    main(["--pages", pages, "--out", out, "--ckpt", ckpt,
          "--authorities", auth_dir, "--buckets", "4", "--per-commit", "2"])
    assert spark.read.parquet(os.path.join(ckpt, "lineage")).count() == 4


def test_convert_job_canonicalize(spark, tmp_path):
    """--canonicalize rewrites every URI of an owl:sameAs component to the
    component's minimum: the exported set equals a pure-Python union-find
    canonicalization of the persisted distinct set, and the closure runs
    in a bounded number of Spark jobs."""
    from psyndex2linkeddata_spark import namespaces as NS
    from psyndex2linkeddata_spark.datagen.pages import write_pages_parquet
    from psyndex2linkeddata_spark.jobs.convert import main
    from psyndex2linkeddata_spark.operators.components import connected_components
    from psyndex2linkeddata_spark.schema import TRIPLE_COLS

    pages = str(tmp_path / "pages.parquet")
    write_pages_parquet(pages, 40)
    out = str(tmp_path / "out")
    main(["--pages", pages, "--out", out, "--ckpt", str(tmp_path / "ckpt"),
          "--buckets", "4", "--per-commit", "2", "--canonicalize"])
    triples = spark.read.parquet(os.path.join(out, "triples")).select(*TRIPLE_COLS)
    persisted = {tuple(r) for r in triples.distinct().collect()}
    same_as = [(t[0], t[2]) for t in persisted if t[1] == NS.OWL + "sameAs"]
    assert len(same_as) > 50

    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for u, v in same_as:
        a, b = find(u), find(v)
        if a != b:
            parent[max(a, b)] = min(a, b)
    canon = {x: find(x) for x in list(parent)}
    want = {
        (canon.get(s, s), p, canon.get(o, o) if iri else o, iri, lang, dt)
        for s, p, o, iri, lang, dt in persisted
    }
    assert len(set(canon.values())) < len(canon)
    got = spark.read.parquet(os.path.join(out, "triples_canonical")).select(
        *TRIPLE_COLS
    )
    assert {tuple(r) for r in got.distinct().collect()} == want

    edges = triples.where(F.col("pred") == NS.OWL + "sameAs").select(
        F.col("subj").alias("src"), F.col("obj").alias("dst")
    )
    assert spark_jobs(spark, "cc", lambda: connected_components(edges)) <= 4


def test_load_authorities_uri_and_empty_dir(spark, tmp_path):
    """Tables are found through the Hadoop FS, so a file:// URI loads all
    of them; a directory holding none of them raises."""
    from psyndex2linkeddata_spark.datagen.authorities import write_authority_parquets
    from psyndex2linkeddata_spark.jobs.convert import AUTHORITY_TABLES, load_authorities

    auth_dir = tmp_path / "auth"
    write_authority_parquets(str(auth_dir), 20)
    loaded = load_authorities(spark, auth_dir.as_uri())
    assert sorted(loaded) == sorted(AUTHORITY_TABLES)
    assert loaded["bad_ids"].count() > 0
    empty = tmp_path / "empty"
    empty.mkdir()
    with pytest.raises(FileNotFoundError, match="bad_ids.parquet"):
        load_authorities(spark, str(empty))


def test_warehouse_triple_table(spark, tmp_path):
    """V2 writeTo create → partitioned table; replace + append take the
    documented vanilla-catalog fallbacks; bucket scan prunes partitions."""
    from psyndex2linkeddata_spark.sources.warehouse import (
        read_subj_bucket,
        read_triples_table,
        write_triples_table,
    )

    spark.sql(f"create database if not exists wh_test location '{tmp_path}'")
    try:
        df = spark.range(60).select(
            F.concat(F.lit("s"), (F.col("id") % 7).cast("string")).alias("subj"),
            F.lit("http://example.org/p").alias("pred"),
            F.col("id").cast("string").alias("obj"),
        )
        write_triples_table(df, "wh_test.triples", buckets=8, mode="create")
        back = read_triples_table(spark, "wh_test.triples")
        assert back.count() == 60
        assert set(back.columns) == {"subj", "pred", "obj", "subj_bucket"}
        # partition pruning: the FileScan carries a subj_bucket filter
        pruned = read_subj_bucket(spark, "wh_test.triples", 1)
        plan = pruned._jdf.queryExecution().executedPlan().toString()
        assert "PartitionFilters: [" in plan and "subj_bucket" in plan.split(
            "PartitionFilters"
        )[1].split("]")[0]
        # each subject lands in exactly one partition directory
        n_buckets = back.select("subj", "subj_bucket").distinct()
        assert n_buckets.groupBy("subj").count().where(F.col("count") > 1).count() == 0
        # append (V1 positional-insert fallback on this catalog)
        write_triples_table(df, "wh_test.triples", buckets=8, mode="append")
        assert read_triples_table(spark, "wh_test.triples").count() == 120
        # replace (drop+create fallback on this catalog)
        write_triples_table(df.limit(10), "wh_test.triples", buckets=8, mode="replace")
        assert read_triples_table(spark, "wh_test.triples").count() == 10
    finally:
        spark.sql("drop database if exists wh_test cascade")


def test_query_job_cli(spark, tmp_path_factory):
    """jobs/query.py: SPARQL text → solutions parquet over a triples
    table written by the conversion pipeline surface."""
    import os

    from psyndex2linkeddata_spark.jobs.query import main

    base = str(tmp_path_factory.mktemp("qjob"))
    tpath = os.path.join(base, "triples.parquet")
    spark.createDataFrame(
        [
            ("w1", "http://x/type", "Work"),
            ("w2", "http://x/type", "Work"),
            ("w1", "http://x/lang", "de"),
            ("w2", "http://x/lang", "en"),
        ],
        ["subj", "pred", "obj"],
    ).write.parquet(tpath)
    out = os.path.join(base, "solutions.parquet")
    qf = os.path.join(base, "q.rq")
    with open(qf, "w") as f:
        f.write(
            'SELECT ?w ?l WHERE { ?w <http://x/type> "Work" . '
            "?w <http://x/lang> ?l . }"
        )
    main(["--triples", tpath, "--query-file", qf, "--out", out])
    got = sorted(tuple(r) for r in spark.read.parquet(out).collect())
    assert got == [("w1", "de"), ("w2", "en")]


def test_skosify_job_cli(spark, tmp_path_factory):
    """jobs/skosify.py: vocabulary TTL in → repaired single-file TTL out
    (the CLI surface replacing the reference workflow's external
    `skosify` call). The full-size gate is tests/test_skosify_refexec
    (exact vs the reference's checked-in run); here a small vocab
    proves the CLI contract: one plain file, related conflict removed,
    loose concept marked."""
    from psyndex2linkeddata_spark.jobs.skosify import main
    from psyndex2linkeddata_spark.plans.skos import SKOS
    from psyndex2linkeddata_spark.sources.turtle import parse_turtle

    d = tmp_path_factory.mktemp("skosify_job")
    rdf_type = "http://www.w3.org/1999/02/22-rdf-syntax-ns#type"
    src = d / "vocab.ttl"
    src.write_text(
        "@prefix skos: <http://www.w3.org/2004/02/skos/core#> .\n"
        "@prefix rdf: <http://www.w3.org/1999/02/22-rdf-syntax-ns#> .\n"
        "<v:S> rdf:type skos:ConceptScheme .\n"
        "<v:a> rdf:type skos:Concept ; skos:inScheme <v:S> .\n"
        "<v:b> rdf:type skos:Concept ; skos:inScheme <v:S> ;\n"
        "      skos:broader <v:a> ; skos:related <v:a> .\n"
        "<v:a> skos:related <v:b> .\n",
        encoding="utf-8",
    )
    out = d / "out.ttl"
    main(["--in", str(src), "--out", str(out)])
    assert out.is_file()
    got = set(parse_turtle(out.read_text(encoding="utf-8")))
    assert ("v:a", SKOS + "related", "v:b", True, None, None) not in got
    assert ("v:b", SKOS + "related", "v:a", True, None, None) not in got
    assert ("v:a", SKOS + "topConceptOf", "v:S", True, None, None) in got
    assert ("v:S", SKOS + "hasTopConcept", "v:a", True, None, None) in got
    assert ("v:b", SKOS + "broader", "v:a", True, None, None) in got


def test_spark_submit_pyfiles_smoke(spark, tmp_path_factory):
    """The north-rule deployment shape, for real: package the engine as
    a zip, hand it to an actual `spark-submit --py-files` subprocess
    running jobs/convert.py in its own JVM (no PYTHONPATH leakage), and
    check the triples written by the checkpointed job match an in-process
    build_triples run over the same pages — proving the package is
    self-contained under the cluster submission path, not just
    importable from the repo checkout."""
    import shutil
    import subprocess
    import zipfile

    from psyndex2linkeddata_spark.datagen.pages import write_pages_parquet
    from psyndex2linkeddata_spark.plans.pipeline import build_triples

    submit = shutil.which("spark-submit")
    if submit is None:
        pytest.skip("spark-submit not on PATH")

    base = str(tmp_path_factory.mktemp("submitjob"))
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    pkg = os.path.join(repo, "psyndex2linkeddata_spark")
    zpath = os.path.join(base, "engine.zip")
    with zipfile.ZipFile(zpath, "w", zipfile.ZIP_DEFLATED) as z:
        for root, _dirs, files in os.walk(pkg):
            if "__pycache__" in root:
                continue
            for fn in files:
                if not fn.endswith(".py"):
                    continue
                full = os.path.join(root, fn)
                z.write(full, os.path.relpath(full, repo))
    job = os.path.join(base, "convert_job.py")
    shutil.copy(os.path.join(pkg, "jobs", "convert.py"), job)

    pages_path = os.path.join(base, "pages.parquet")
    write_pages_parquet(pages_path, 20)
    out = os.path.join(base, "out")
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    res = subprocess.run(
        [
            submit, "--master", "local[2]", "--py-files", zpath, job,
            "--pages", pages_path, "--out", out,
            "--ckpt", os.path.join(base, "ckpt"),
            "--buckets", "2", "--per-commit", "2",
        ],
        capture_output=True, text=True, timeout=480, env=env, cwd=base,
    )
    assert res.returncode == 0, res.stderr[-2000:]
    got = {
        (r.subj, r.pred, r.obj, r.obj_is_iri, r.lang, r.dtype)
        for r in spark.read.parquet(out).collect()
    }
    want = {
        tuple(r)
        for r in build_triples(spark.read.parquet(pages_path))
        .select("subj", "pred", "obj", "obj_is_iri", "lang", "dtype")
        .collect()
    }
    assert got == want


def test_ror_enrich_job_cli(spark, tmp_path_factory):
    """jobs/ror_enrich.py: the offline replacement for the reference's
    norminstitute_ror_to_csv.py (CSV + per-row ROR-API lookups → CSV
    with ror_id/ror_name). Exercises its kept semantics: F1 cleaning
    before matching (a ^DD-encoded umlaut resolves against the clean
    authority name), Cluster-first then ##-alternative fallback in
    order, quote-stripped alternatives, no-hit rows with empty ror
    columns, Land str.capitalize(). Plus the review-hardened contract:
    extra input columns survive to the output, a country column on the
    authority BIASES (same-name orgs in two countries resolve to the
    in-country one, deterministically) without hard-rejecting, and
    null-Land rows still link through the unbiased fallback pass."""
    import csv as csvmod

    from psyndex2linkeddata_spark.jobs.ror_enrich import main

    d = tmp_path_factory.mktemp("rorjob")
    src = d / "clusters.csv"
    with open(src, "w", newline="", encoding="utf-8") as f:
        w = csvmod.writer(f)
        w.writerow(["UUID", "Cluster", "Vorkommende Namen", "Land", "Notiz"])
        # exact hit on the Cluster name itself, after ^DD cleaning
        w.writerow(["u1", 'Universit^D$eat Trier', '"Uni Trier"', "GERMANY", "n1"])
        # Cluster misses; the SECOND alternative resolves (first-hit-wins
        # order), quotes stripped
        w.writerow([
            "u2", "Unknown Cluster Name",
            '"No Such Institute" ## "Centre Hospitalier"', "LUXEMBOURG", "n2",
        ])
        # nothing resolves
        w.writerow(["u3", "Completely Unlinked", '"Still Unlinked"', "FRANCE", "n3"])
        # same name exists in two countries — the biased pass must pick
        # the LUXEMBOURG row, not an arbitrary one
        w.writerow(["u4", "Ministry of Health", "", "LUXEMBOURG", "n4"])
        # null Land: the biased pass is skipped, the fallback still links
        w.writerow(["u5", "Universität Trier", "", "", "n5"])
    auth = d / "authority.csv"
    with open(auth, "w", newline="", encoding="utf-8") as f:
        w = csvmod.writer(f)
        w.writerow(["name", "ror_id", "ror_name", "country"])
        w.writerow(["Universität Trier", "https://ror.org/02778hg05", "Universität Trier", "GERMANY"])
        w.writerow(["Centre Hospitalier", "https://ror.org/01abcde00", "Centre Hospitalier de Luxembourg", "LUXEMBOURG"])
        w.writerow(["Ministry of Health", "https://ror.org/0aaaaaa01", "Ministry of Health (DE)", "GERMANY"])
        w.writerow(["Ministry of Health", "https://ror.org/0bbbbbb02", "Ministry of Health (LU)", "LUXEMBOURG"])
    out = d / "enriched.csv"
    main(["--in", str(src), "--authority", str(auth), "--out", str(out)])
    with open(out, newline="", encoding="utf-8") as f:
        rows = {r["UUID"]: r for r in csvmod.DictReader(f)}
    assert rows["u1"]["ror_id"] == "https://ror.org/02778hg05"
    assert rows["u1"]["Cluster"] == "Universität Trier"  # cleaned in output
    assert rows["u1"]["Land"] == "Germany"
    assert rows["u1"]["Notiz"] == "n1"  # extra input columns preserved
    assert rows["u2"]["ror_id"] == "https://ror.org/01abcde00"
    assert rows["u2"]["ror_name"] == "Centre Hospitalier de Luxembourg"
    assert rows["u3"]["ror_id"] == ""
    assert rows["u3"]["Land"] == "France"
    assert rows["u4"]["ror_id"] == "https://ror.org/0bbbbbb02"  # in-country
    assert rows["u5"]["ror_id"] == "https://ror.org/02778hg05"  # null Land


def test_org_authority_job_cli(spark, tmp_path_factory):
    """jobs/org_authority.py: the norminstitute notebook's org-graph
    emitter (CSV → schema:Organization triples + TTL), checked against a
    row-at-a-time Python oracle replaying the notebook loop (rdflib g.add
    sequence, ' ## ' split, prefname-only sameAs lookup with a dict
    standing in for the ROR API)."""
    import csv as csvmod

    from psyndex2linkeddata_spark import namespaces as NS
    from psyndex2linkeddata_spark.jobs.org_authority import ORGS_NS, main
    from psyndex2linkeddata_spark.sources.turtle import parse_turtle

    d = tmp_path_factory.mktemp("orgjob")
    rows = [
        ("11111111-aaaa", "University of Luxembourg",
         "Uni Lux ## Université du Luxembourg", "LUXEMBOURG"),
        ("22222222-bbbb", "Unlinked Institute", "", "GERMANY"),
    ]
    src = d / "institute.csv"
    with open(src, "w", newline="", encoding="utf-8") as f:
        w = csvmod.writer(f)
        w.writerow(["uuid", "prefname", "known_names", "country"])
        w.writerows(rows)
    auth = d / "authority.csv"
    ror = {"University of Luxembourg": "https://ror.org/036x5ad56"}
    with open(auth, "w", newline="", encoding="utf-8") as f:
        w = csvmod.writer(f)
        w.writerow(["name", "ror_id"])
        for n, r in ror.items():
            w.writerow([n, r])
    out = str(d / "triples")
    ttl = str(d / "orgs.ttl")
    main(["--in", str(src), "--authority", str(auth), "--out", out, "--ttl", ttl])

    got = {
        (r.subj, r.pred, r.obj, r.obj_is_iri)
        for r in spark.read.parquet(out).collect()
    }
    # the notebook loop, row at a time
    want = set()
    for uuid, pref, known, country in rows:
        node = ORGS_NS + uuid
        want.add((node, NS.RDF_TYPE, NS.SCHEMA + "Organization", True))
        want.add((node, NS.SCHEMA + "name", pref, False))
        if pref in ror:
            want.add((node, NS.SCHEMA + "sameAs", ror[pref], True))
        for nm in known.split(" ## "):
            if nm:
                want.add((node, NS.SCHEMA + "alternateName", nm, False))
        want.add((node, NS.SCHEMA + "location", country, False))
    assert got == want
    ttl_set = {
        (s, p, o, iri)
        for s, p, o, iri, _lang, _dt in parse_turtle(
            open(ttl, encoding="utf-8").read()
        )
    }
    assert ttl_set == want


def test_ror_enrich_reference_artifact(spark, tmp_path_factory):
    """The strongest gate on the enrichment job: run it on the
    reference's ACTUAL input (normkoerperschaften/
    Luxembourg_institute_cluster.csv) with the authority built from the
    canonical ROR orgs its API chose, and reproduce the checked-in
    output (Luxembourg_institute_cluster_with_ror.csv) ROW-FOR-ROW —
    every passthrough cell byte-equal (F1 cleaning, Land capitalize,
    quoting) and every ror assignment identical, the 39 resolutions AND
    the 12 non-resolutions. This pins the containment matcher's ranking
    (contiguous phrase > scattered tokens, longer name first, earliest
    occurrence) against the live API's observed behavior."""
    import csv as csvmod

    from psyndex2linkeddata_spark.jobs.ror_enrich import main

    ref = "/root/reference/normkoerperschaften"
    src = os.path.join(ref, "Luxembourg_institute_cluster.csv")
    golden = os.path.join(ref, "Luxembourg_institute_cluster_with_ror.csv")
    if not (os.path.exists(src) and os.path.exists(golden)):
        pytest.skip("reference artifact not available")
    with open(golden, newline="", encoding="utf-8") as f:
        want = list(csvmod.DictReader(f))
    d = tmp_path_factory.mktemp("ror_artifact")
    auth = d / "authority.csv"
    with open(auth, "w", newline="", encoding="utf-8") as f:
        w = csvmod.writer(f)
        w.writerow(["name", "ror_id", "ror_name"])
        for name, rid in sorted(
            {(r["ror_name"], r["ror_id"]) for r in want if r["ror_id"]}
        ):
            w.writerow([name, rid, name])
    out = d / "enriched.csv"
    main(["--in", src, "--authority", str(auth), "--out", str(out)])
    with open(out, newline="", encoding="utf-8") as f:
        got = {r["UUID"]: r for r in csvmod.DictReader(f)}
    assert len(got) == len(want) == 51
    for wrow in want:
        grow = got[wrow["UUID"]]
        for c in ("UUID", "Cluster", "Vorkommende Namen", "Land",
                  "ror_id", "ror_name"):
            assert grow[c] == wrow[c], (wrow["UUID"], c, wrow[c], grow[c])
