"""The benchmark's workloads.

Each workload generates its inputs from the seed, defines one timed
iteration (a closed loop with one client runs it repeatedly), an untimed
output check, and a traced decomposition into the package's layers:

- `plain_pages`: `build_triples(pages)` with no authorities into the noop
  sink (bench.py's headline shape); linking and checkpointing never run;
- `linked_pages`: the pipeline with exactly the authority set
  `jobs/convert.py` loads (`auth_orgs`, `auth_concepts`, `bad_ids`);
- `convert_job`: `jobs.convert.main` with checkpointed buckets plus
  `--canonicalize`, fresh output directories per iteration;
- `operator_leaves`: 14 registry queries over seeded tables.

Layers are measured from outside: the traced run wraps spans around calls
into each layer's public functions, and materializes each stage into the
cache before the next one reads it, so a stage's span holds that layer's
work only.
"""

from __future__ import annotations

import os
import shutil

from harness import fingerprint_any, fingerprint_triples
from tracer import Tracer

PKG = "psyndex2linkeddata_spark"

# (module, attribute, span name): the layer functions a traced iteration
# wraps. Modules that import a name at their top are patched at that
# name; the others import at call time and are patched at the source.
PATCH_POINTS = [
    (f"{PKG}.plans.pipeline", "build_triples", "plans.pipeline.build_triples"),
    (f"{PKG}.plans.pipeline", "extract_records", "extract.extract_records"),
    (f"{PKG}.plans.pipeline", "finalize", "plans.finalize"),
    (f"{PKG}.extract.parser", "filter_bad_ids", "extract.filter_bad_ids"),
    (f"{PKG}.emit.arrow", "emit_triples_arrow", "emit.emit_triples_arrow"),
    (f"{PKG}.operators.upsert", "clean_genres", "operators.upsert.clean_genres"),
    (f"{PKG}.plans.enrich", "enrich_triples", "plans.enrich.enrich_triples"),
    (f"{PKG}.plans.enrich", "topic_links", "plans.enrich.topic_links"),
    (f"{PKG}.plans.enrich", "genre_labels", "plans.enrich.genre_labels"),
    (f"{PKG}.plans.enrich", "license_labels", "plans.enrich.license_labels"),
    (f"{PKG}.plans.enrich", "ror_links", "plans.enrich.ror_links"),
    (f"{PKG}.plans.enrich", "fundref_links", "plans.enrich.fundref_links"),
    (f"{PKG}.plans.enrich", "country_fill", "plans.enrich.country_fill"),
    (f"{PKG}.sources.checkpoint", "run_checkpointed", "sources.checkpoint.run_checkpointed"),
    (f"{PKG}.operators.components", "connected_components", "operators.components.connected_components"),
    (f"{PKG}.operators.components", "canonicalize_uris", "operators.components.canonicalize_uris"),
    (f"{PKG}.jobs.convert", "main", "jobs.convert.main"),
]

ENRICH_CONCEPTS = ("topic_links", "genre_labels", "license_labels")
ENRICH_ORGS = ("ror_links", "fundref_links", "country_fill")

LEAVES = (
    "ngram_jaccard", "connected_components", "pagerank", "hits",
    "skos_hygiene", "path_query", "bgp_query", "bpe_tokens", "pii_scrub",
    "quality", "semantic_dedup", "minhash_lsh", "decontaminate", "corpus_prep",
)


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def release(spark) -> None:
    """Drop every persisted RDD block (iterative operators localCheckpoint
    per round; clearCache does not free those) and the SQL cache."""
    for rdd in spark.sparkContext._jsc.getPersistentRDDs().values():
        rdd.unpersist()
    spark.catalog.clearCache()


class Workload:
    """Why each workload exists is recorded in BENCHMARK.json and
    baseline.json."""

    name = ""
    kg = True  # reports triples_per_s

    def __init__(self, work: str, seed: int, cpus: int):
        self.work = work
        self.seed = seed
        self.cpus = cpus
        self.distinct_triples = 0
        self.extra: dict[str, tuple[float, str]] = {}
        self.fingerprint: tuple[int, int] | None = None
        self.tr: Tracer | None = None  # set while a traced iteration runs

    # -- inputs ---------------------------------------------------------
    def prepare(self) -> None:
        raise NotImplementedError

    def pages_df(self, spark, path: str):
        n_parts = self.cpus * 3
        return spark.read.parquet(path).repartition(n_parts)

    # -- set-up ---------------------------------------------------------
    def warm_up(self, spark) -> None:
        """The untimed warm-up: one Arrow emit over 32 pages in the fresh
        session (Python worker start and imports, codegen)."""
        from psyndex2linkeddata_spark.plans.pipeline import build_triples

        noop(build_triples(self.pages_df(spark, self.pages_path).limit(32)))

    # -- the timed loop -------------------------------------------------
    def iteration(self, spark):
        raise NotImplementedError

    def check(self, spark, handle) -> str | None:
        return None

    def between(self, spark) -> None:
        release(spark)

    def final_check(self, spark) -> str | None:
        return None

    # -- traced decomposition -------------------------------------------
    def probe(self, spark, tr: Tracer) -> dict:
        return {}

    # shared by the KG workloads: scan → emit → finalize, each stage
    # cached before the next reads it
    def _probe_one_shot(self, spark, tr: Tracer, path: str, records_fn=None):
        """Returns the stage metrics and the finalized (persisted) set."""
        from psyndex2linkeddata_spark.emit.arrow import emit_triples_arrow
        from psyndex2linkeddata_spark.plans.pipeline import finalize

        out: dict = {}
        with tr.span("sources.read_pages"):
            pages = self.pages_df(spark, path).persist()
            noop(pages)
        src = pages
        if records_fn is not None:
            src = records_fn(pages, tr)
        with tr.span("emit.emit_triples_arrow"):
            raw = emit_triples_arrow(src).persist()
            noop(raw)
        n_raw = raw.count()
        with tr.span("plans.finalize"):
            fin = finalize(raw, barrier=True, genre_cleanup=False)
            noop(fin)
        n_fin = fin.count()
        out["emit.raw_triples"] = (n_raw, "count")
        out["emit.distinct_per_raw"] = (n_fin / n_raw, "ratio")
        return out, fin


class PlainPages(Workload):
    name = "plain_pages"
    n_pages = 4000

    def prepare(self) -> None:
        from psyndex2linkeddata_spark.datagen.pages import write_pages_parquet

        self.pages_path = os.path.join(self.work, "pages.parquet")
        write_pages_parquet(self.pages_path, self.n_pages, seed=self.seed)

    def iteration(self, spark):
        from psyndex2linkeddata_spark.plans import pipeline

        noop(pipeline.build_triples(self.pages_df(spark, self.pages_path)))

    def final_check(self, spark) -> str | None:
        # one extra untimed pass: the noop sink keeps no rows to check
        from psyndex2linkeddata_spark.plans.pipeline import build_triples

        self.fingerprint = fingerprint_triples(
            build_triples(self.pages_df(spark, self.pages_path)))
        self.distinct_triples = self.fingerprint[0]
        release(spark)
        return None

    def probe(self, spark, tr: Tracer) -> dict:
        return self._probe_one_shot(spark, tr, self.pages_path)[0]


class LinkedPages(Workload):
    name = "linked_pages"
    n_pages = 400

    def prepare(self) -> None:
        from psyndex2linkeddata_spark.datagen.authorities import write_authority_parquets
        from psyndex2linkeddata_spark.datagen.pages import write_pages_parquet

        self.pages_path = os.path.join(self.work, "pages.parquet")
        self.auth_dir = os.path.join(self.work, "auth")
        write_pages_parquet(self.pages_path, self.n_pages, seed=self.seed)
        write_authority_parquets(self.auth_dir, self.n_pages, seed=self.seed)

    def authorities(self, spark) -> dict:
        from psyndex2linkeddata_spark.jobs.convert import load_authorities

        return load_authorities(spark, self.auth_dir)

    def iteration(self, spark):
        # the result is held in the cache so the check can read it back
        # without a second run of the linking plan
        from pyspark import StorageLevel

        from psyndex2linkeddata_spark.plans import pipeline

        t = pipeline.build_triples(self.pages_df(spark, self.pages_path),
                                   self.authorities(spark))
        t = t.persist(StorageLevel.MEMORY_AND_DISK)
        noop(t)
        return t

    def check(self, spark, handle) -> str | None:
        fp = fingerprint_triples(handle)
        if self.fingerprint is not None and fp != self.fingerprint:
            return f"output changed between iterations: {fp} != {self.fingerprint}"
        self.fingerprint = fp
        self.distinct_triples = fp[0]
        return None

    def probe(self, spark, tr: Tracer) -> dict:
        from psyndex2linkeddata_spark.extract.parser import extract_records, filter_bad_ids
        from psyndex2linkeddata_spark.operators.upsert import clean_genres
        from psyndex2linkeddata_spark.plans import enrich

        auth = self.authorities(spark)

        def records(pages, tr):
            with tr.span("extract.extract_records"):
                rec = extract_records(pages).persist()
                noop(rec)
            with tr.span("extract.filter_bad_ids"):
                kept = filter_bad_ids(rec, auth["bad_ids"]).persist()
                noop(kept)
            return kept

        out, fin = self._probe_one_shot(spark, tr, self.pages_path, records)
        with tr.span("operators.upsert.clean_genres"):
            base = clean_genres(fin).persist()
            noop(base)
        n_base = base.count()
        adds = []
        with tr.span("plans.enrich.enrich_triples"):
            for fn in ENRICH_CONCEPTS:
                with tr.span(f"plans.enrich.{fn}"):
                    a = getattr(enrich, fn)(base, auth["auth_concepts"]).persist()
                    noop(a)
                adds.append(a)
            # the A2 ancestor cleanup and the final union+dedup are
            # enrich_triples' own work: its self time
            cleaned = clean_genres(
                base, enrich.genre_ancestor_closure(auth["auth_concepts"])).persist()
            noop(cleaned)
            for fn in ENRICH_ORGS:
                with tr.span(f"plans.enrich.{fn}"):
                    a = getattr(enrich, fn)(cleaned, auth["auth_orgs"]).persist()
                    noop(a)
                adds.append(a)
            res = cleaned
            for a in adds:
                res = res.unionByName(a)
            noop(res.dropDuplicates(list(enrich.TRIPLE_COLS)))
        n_added = sum(a.count() for a in adds)
        out["plans.enrich.added_per_base"] = (n_added / n_base, "ratio")
        return out


class ConvertJob(Workload):
    name = "convert_job"
    n_pages = 800
    buckets = 8
    per_commit = 4

    def prepare(self) -> None:
        from psyndex2linkeddata_spark.datagen.pages import write_pages_parquet

        self.pages_path = os.path.join(self.work, "pages.parquet")
        write_pages_parquet(self.pages_path, self.n_pages, seed=self.seed)
        self._iter = 0
        self.reference: tuple[int, int] | None = None

    def _dirs(self) -> tuple[str, str]:
        base = os.path.join(self.work, f"job{self._iter}")
        return os.path.join(base, "out"), os.path.join(base, "ckpt")

    def run_job(self) -> tuple[str, str]:
        from psyndex2linkeddata_spark.jobs import convert

        out, ckpt = self._dirs()
        convert.main([
            "--pages", self.pages_path, "--out", out, "--ckpt", ckpt,
            "--buckets", str(self.buckets), "--per-commit", str(self.per_commit),
            "--canonicalize", "--master", f"local[{self.cpus}]",
        ])
        return out, ckpt

    def iteration(self, spark):
        return self.run_job()

    def _reference(self, spark) -> tuple[int, int]:
        # the same pages through the one-shot pipeline: the persisted set
        # must hold exactly these distinct triples
        if self.reference is None:
            from psyndex2linkeddata_spark.plans.pipeline import build_triples

            self.reference = fingerprint_triples(
                build_triples(spark.read.parquet(self.pages_path)))
        return self.reference

    def check(self, spark, handle) -> str | None:
        out, _ckpt = handle
        tdir = os.path.join(out, "triples")
        stored = spark.read.parquet(tdir)
        persisted = stored.count()
        fp = fingerprint_triples(stored.select(
            "subj", "pred", "obj", "obj_is_iri", "lang", "dtype").distinct())
        ref = self._reference(spark)
        if fp != ref:
            return f"persisted distinct set {fp} != one-shot pipeline {ref}"
        n_bytes = sum(os.path.getsize(os.path.join(d, f))
                      for d, _s, fs in os.walk(tdir) for f in fs
                      if f.endswith(".parquet"))
        self.fingerprint = fp
        self.distinct_triples = fp[0]
        self.persisted_rows = persisted
        self.extra["persisted_rows_per_triple"] = (persisted / fp[0], "ratio")
        self.extra["stored_bytes_per_triple"] = (n_bytes / fp[0], "B")
        return None

    def between(self, spark) -> None:
        release(spark)
        shutil.rmtree(os.path.join(self.work, f"job{self._iter}"), ignore_errors=True)
        self._iter += 1

    def probe(self, spark, tr: Tracer) -> dict:
        from pyspark.sql import functions as F

        from psyndex2linkeddata_spark import namespaces as NS
        from psyndex2linkeddata_spark.operators.components import (
            canonicalize_uris, connected_components)
        from psyndex2linkeddata_spark.plans.pipeline import build_triples

        out, _fin = self._probe_one_shot(spark, tr, self.pages_path)
        release(spark)
        with tr.span("sources.one_shot_write"):
            build_triples(spark.read.parquet(self.pages_path)).write.mode(
                "overwrite").parquet(os.path.join(self.work, "one_shot"))
        job_out, ckpt = self._dirs()
        triples = spark.read.parquet(os.path.join(job_out, "triples")).persist()
        noop(triples)
        edges = triples.where(F.col("pred") == NS.OWL + "sameAs").select(
            F.col("subj").alias("src"), F.col("obj").alias("dst"))
        with tr.span("operators.components.connected_components"):
            comps = connected_components(edges).persist()
            noop(comps)
        with tr.span("operators.components.canonicalize_uris"):
            noop(canonicalize_uris(triples, comps))
        lineage = spark.read.parquet(os.path.join(ckpt, "lineage"))
        n_lineage = lineage.agg(F.sum("n_triples")).collect()[0][0]
        out["sources.checkpoint.lineage_triples_per_distinct"] = (
            n_lineage / self.distinct_triples, "ratio")
        return out


class OperatorLeaves(Workload):
    name = "operator_leaves"
    kg = False
    sizes = dict(n_docs=1000, n_vecs=500, n_lineitem=100_000, n_customers=3000)

    def prepare(self) -> None:
        from leafdata import write_leaf_tables

        self.sf_dir = os.path.join(self.work, "tables")
        write_leaf_tables(self.sf_dir, self.seed, **self.sizes)
        self.leaf_fingerprints: dict[str, list[int]] = {}

    def warm_up(self, spark) -> None:
        import __spark_entry__ as entry

        noop(entry.queries()["quality"](spark, self.sf_dir))

    def iteration(self, spark):
        import __spark_entry__ as entry

        queries = entry.queries()
        for q in LEAVES:
            if self.tr is None:
                noop(queries[q](spark, self.sf_dir))
            else:
                with self.tr.span(f"operators.leaf.{q}"):
                    noop(queries[q](spark, self.sf_dir))
            release(spark)

    def final_check(self, spark) -> str | None:
        import __spark_entry__ as entry

        queries = entry.queries()
        for q in LEAVES:
            self.leaf_fingerprints[q] = list(fingerprint_any(queries[q](spark, self.sf_dir)))
            release(spark)
        return None


WORKLOADS = {w.name: w for w in (PlainPages, LinkedPages, ConvertJob, OperatorLeaves)}
