"""Operator-level tests: dedup, similarity, components, linking, upsert,
multimodal plumbing."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from psyndex2linkeddata_spark.operators import dedup, similarity
from psyndex2linkeddata_spark.operators.components import (
    canonicalize_uris,
    connected_components,
)
from psyndex2linkeddata_spark.operators.linking import (
    link_exact,
    link_fuzzy,
    norm_key,
    token_set_similarity,
)
from psyndex2linkeddata_spark.operators.multimodal import (
    extract_features,
    sample_frames,
    synthetic_media,
)
from psyndex2linkeddata_spark.operators.upsert import clean_genres, last_wins


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (1, "the quick brown fox jumps over the lazy dog"),
        (2, "the quick brown fox jumps over the lazy dog"),  # exact dup of 1
        (3, "the quick brown fox leaps over the lazy dog"),  # near dup
        (4, "completely different text about spark engines"),
        (5, "spark engines about text different completely"),  # permutation of 4
    ]
    return spark.createDataFrame(rows, ["doc_id", "text"])


def test_exact_duplicate_groups(spark, docs):
    g = dedup.exact_duplicate_groups(docs).collect()
    assert len(g) == 1
    assert g[0]["doc_ids"] == [1, 2]


def test_minhash_lsh_finds_near_dups(spark, docs):
    # 8 bands of 1 row: collision prob at J≈0.4 is 1-(1-J)^8 ≈ 0.98 and the
    # hash family is deterministic (md5) → stable assertion
    pairs = {
        (r.id_a, r.id_b)
        for r in dedup.minhash_lsh_pairs(docs, num_hashes=8, bands=8).collect()
    }
    assert (1, 2) in pairs  # identical docs always collide
    assert (1, 3) in pairs and (2, 3) in pairs  # near dups block together
    assert (1, 4) not in pairs  # unrelated docs don't


def test_ngram_jaccard_exact_values(spark, docs):
    pairs = {
        (r.id_a, r.id_b): r.jaccard
        for r in dedup.ngram_jaccard_pairs(docs, threshold=0.1).collect()
    }
    assert pairs[(1, 2)] == 1.0
    assert 0.3 < pairs[(1, 3)] < 1.0


def test_simhash_identical_for_dups(spark, docs):
    rows = {r.doc_id: r.simhash for r in dedup.simhash_hex_table(docs).collect()}
    assert rows[1] == rows[2]
    assert len(rows[1]) == 32 and set(rows[1]) <= {"0", "1"}
    # bag-identical docs (same tokens, different order) hash identically
    assert rows[4] == rows[5]


def test_cosine_topk_matches_numpy(spark):
    import numpy as np

    rng = np.random.RandomState(7)
    vecs = rng.randn(30, 8).astype(float)
    rows = [(i, [float(x) for x in vecs[i]]) for i in range(30)]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    queries = df.where(F.col("vec_id") < 2).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    corpus = df.where(F.col("vec_id") >= 2)
    got = similarity.cosine_topk(corpus, queries, k=3).collect()
    norms = np.linalg.norm(vecs, axis=1)
    cos = (vecs @ vecs.T) / np.outer(norms, norms)
    for q in (0, 1):
        expect = sorted(range(2, 30), key=lambda j: (-cos[q, j], j))[:3]
        mine = [r.vec_id for r in sorted(got, key=lambda r: r.rank) if r.query_id == q]
        assert mine == expect
        for r in got:
            if r.query_id == q:
                assert math.isclose(r.cos, cos[q, r.vec_id], rel_tol=1e-9)


def test_lsh_cosine_topk_subset_of_bruteforce(spark):
    import numpy as np

    rng = np.random.RandomState(3)
    vecs = rng.randn(50, 8).astype(float)
    rows = [(i, [float(x) for x in vecs[i]]) for i in range(50)]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    queries = df.where(F.col("vec_id") == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    corpus = df.where(F.col("vec_id") > 0)
    got = similarity.lsh_cosine_topk(corpus, queries, dims=8, k=5, n_planes=4).collect()
    # the query's own bucket always contains ≥ the identical vector's bucket;
    # all returned scores must be exact cosines
    norms = np.linalg.norm(vecs, axis=1)
    for r in got:
        expect = float(vecs[0] @ vecs[r.vec_id] / (norms[0] * norms[r.vec_id]))
        assert math.isclose(r.cos, expect, rel_tol=1e-9)


def test_connected_components_known_graph(spark):
    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("x", "y"), ("p", "p")], ["src", "dst"]
    )
    comps = {r.node: r.component for r in connected_components(edges).collect()}
    assert comps["a"] == comps["b"] == comps["c"] == "a"
    assert comps["x"] == comps["y"] == "x"
    assert comps["p"] == "p"


def test_connected_components_within_budget_closes_on_driver(spark):
    """Within the driver budget the closure is one Spark job (the edge
    collect) and its result is a local relation: no mapInArrow stage,
    no Python worker, nothing to checkpoint."""
    from tests.conftest import spark_jobs

    # 4 range partitions, no exchange: ten stars of ten nodes each
    edges = spark.range(0, 100, numPartitions=4).select(
        (F.col("id") - F.col("id") % 10).alias("src"), F.col("id").alias("dst")
    )
    got = []
    assert spark_jobs(spark, "cc_driver", lambda: got.append(connected_components(edges))) == 1
    plan = got[0]._jdf.queryExecution().analyzed().toString()
    assert plan.lstrip().startswith("LocalRelation")
    assert "MapInArrow" not in plan
    comps = {r.node: r.component for r in got[0].collect()}
    assert comps == {i: i - i % 10 for i in range(100)}


def test_connected_components_long_chain_one_component(spark):
    """A 1,000-node chain with shuffled ids in one partition is ONE
    component labelled with its minimum: the closure runs to its
    fixpoint, where a pass-capped loop split it into several."""
    import random

    rng = random.Random(11)
    ids = rng.sample(range(10**12), 1000)
    chain = list(zip(ids, ids[1:]))
    rng.shuffle(chain)
    for schema, mk in (
        ("src long, dst long", lambda x: x),
        ("src string, dst string", lambda x: f"uri:{x}"),
    ):
        edges = spark.createDataFrame(
            [(mk(u), mk(v)) for u, v in chain], schema
        ).coalesce(1)
        got = {r.node: r.component for r in connected_components(edges).collect()}
        assert len(got) == 1000
        assert set(got.values()) == {min(mk(x) for x in ids)}


def test_canonicalize_uris(spark):
    from psyndex2linkeddata_spark.schema import triples_schema

    triples = spark.createDataFrame(
        [
            ("u2", "p", "u3", True, None, None),
            ("u9", "p", "lit", False, None, None),
        ],
        schema=triples_schema(),
    )
    comps = spark.createDataFrame(
        [("u2", "u1"), ("u3", "u1")], ["node", "component"]
    )
    got = {(r.subj, r.obj) for r in canonicalize_uris(triples, comps).collect()}
    assert ("u1", "u1") in got
    assert ("u9", "lit") in got  # literals never rewritten


def test_link_exact_and_norm_key(spark):
    mentions = spark.createDataFrame(
        [(1, "GERMANY ."), (2, "  united   states"), (3, "Atlantis")],
        ["mid", "mention"],
    )
    auth = spark.createDataFrame(
        [("Germany", 10), ("United States", 20)], ["name", "auth_id"]
    )
    got = {
        r.mid: r.auth_id
        for r in link_exact(mentions, auth, "mention", "name", ["auth_id"]).collect()
    }
    assert got == {1: 10, 2: 20, 3: None}


def test_link_fuzzy_blocks_and_verifies(spark):
    mentions = spark.createDataFrame(
        [(1, "Max Planck Institute Berlin"), (2, "zzz qqq vvv")],
        ["mid", "mention"],
    )
    auth = spark.createDataFrame(
        [("Max Planck Institute for Human Development Berlin", "ror1"),
         ("University of Vienna", "ror2")],
        ["name", "org_id"],
    )
    got = {
        r.mid: (r.org_id, r["_tier"] if "_tier" in r.__fields__ else None)
        for r in link_fuzzy(mentions, auth, "mention", "name", ["org_id"], threshold=0.3).collect()
    }
    assert got[1][0] == "ror1"
    assert got[2][0] is None


def test_token_set_similarity_values(spark):
    df = spark.createDataFrame([("a b c", "a b c"), ("a b c", "a b d"), ("a", "b")], ["x", "y"])
    vals = [r.s for r in df.select(token_set_similarity(F.col("x"), F.col("y")).alias("s")).collect()]
    assert vals[0] == 1.0
    assert abs(vals[1] - 0.5) < 1e-9
    assert vals[2] == 0.0


def test_last_wins(spark):
    df = spark.createDataFrame(
        [("s", "p", "old", 1), ("s", "p", "new", 2), ("s", "q", "x", 1)],
        ["subj", "pred", "obj", "emit_order"],
    )
    got = {(r.subj, r.pred): r.obj for r in last_wins(df).collect()}
    assert got[("s", "p")] == "new"
    assert got[("s", "q")] == "x"


def test_clean_genres_thesis_rule(spark):
    from psyndex2linkeddata_spark import namespaces as NS

    rows = [
        ("w1", NS.BF + "genreForm", NS.GENRES + "ThesisDoctoral", True, None, None),
        ("w1", NS.BF + "genreForm", NS.GENRES + "ScholarlyPaper", True, None, None),
        ("w2", NS.BF + "genreForm", NS.GENRES + "ScholarlyPaper", True, None, None),
    ]
    from psyndex2linkeddata_spark.schema import triples_schema

    t = spark.createDataFrame(rows, schema=triples_schema())
    got = {(r.subj, r.obj) for r in clean_genres(t).collect()}
    assert ("w1", NS.GENRES + "ThesisDoctoral") in got
    assert ("w1", NS.GENRES + "ScholarlyPaper") not in got
    assert ("w2", NS.GENRES + "ScholarlyPaper") in got


def test_clean_genres_ancestor_rule(spark):
    from psyndex2linkeddata_spark import namespaces as NS

    rows = [
        ("w1", NS.BF + "genreForm", NS.GENRES + "ResearchPaper", True, None, None),
        ("w1", NS.BF + "genreForm", NS.GENRES + "ScholarlyWork", True, None, None),
    ]
    from psyndex2linkeddata_spark.schema import triples_schema

    t = spark.createDataFrame(rows, schema=triples_schema())
    anc = spark.createDataFrame(
        [(NS.GENRES + "ResearchPaper", NS.GENRES + "ScholarlyWork")],
        ["genre_uri", "ancestor_uri"],
    )
    got = {r.obj for r in clean_genres(t, anc).collect()}
    assert got == {NS.GENRES + "ResearchPaper"}


def test_multimodal_features_shape(spark):
    media = synthetic_media(spark, n=12)
    feats = extract_features(media, dim=8).collect()
    assert len(feats) == 12
    for r in feats:
        assert r.n_bytes > 0 and len(r.feature) == 8
        assert all(0.0 <= x < 1.0 for x in r.feature)
    # determinism: same payload → same feature
    again = extract_features(synthetic_media(spark, n=12), dim=8).collect()
    assert {(r.media_id, tuple(r.feature)) for r in feats} == {
        (r.media_id, tuple(r.feature)) for r in again
    }


def test_sample_frames_grid(spark):
    media = synthetic_media(spark, n=9)
    frames = sample_frames(media, every_ms=500).collect()
    videos = [r for r in frames if r.kind == "video"]
    assert len(videos) > 0
    by_media = {}
    for r in frames:
        by_media.setdefault(r.media_id, []).append(r.frame_idx)
    for mid, idxs in by_media.items():
        assert sorted(idxs) == list(range(len(idxs)))


def test_rel_crossref_doi_search(spark):
    """J14 for REL: a citation-only REL resolves to the authority DOI at
    threshold 60 (research_info.py:1268-1276); without an authority the
    composed citation is kept as preferredCitation."""
    from psyndex2linkeddata_spark.plans.pipeline import build_triples
    from psyndex2linkeddata_spark.schema import pages_schema

    rows = [(
        "starxml://6000000", None, None,
        "DFK 6000000\nREL |a Smith, J. |t A wonderful study of things |j 2020 |b Comment",
        None,
    )]
    pages = spark.createDataFrame(rows, schema=pages_schema())
    auth = spark.createDataFrame(
        [("10.1000/xyz123", "A wonderful study of things", "Smith")],
        "doi string, title string, authors string",
    )
    with_auth = {
        (r.pred, r.obj)
        for r in build_triples(pages, authorities={"crossref": auth}).collect()
    }
    assert (
        "http://id.loc.gov/ontologies/bibframe/identifiedBy",
        "https://doi.org/10.1000/xyz123",
    ) in with_auth
    assert not any(p.endswith("preferredCitation") for p, _ in with_auth)

    without = {
        (r.pred, r.obj) for r in build_triples(pages).collect()
    }
    assert (
        "http://id.loc.gov/ontologies/bibframe/preferredCitation",
        "Smith, J.: A wonderful study of things; 2020",
    ) in without


def test_testg_dsm_guard(spark):
    """J15 guard: a >=70 name match is rejected when DSM versions differ
    (research_info.py:1366-1369) — the entry stays uncontrolled."""
    from psyndex2linkeddata_spark.plans.pipeline import build_triples
    from psyndex2linkeddata_spark.schema import pages_schema

    rows = [(
        "starxml://6000001", None, None,
        "DFK 6000001\nTESTG SKID |l Strukturiertes Klinisches Interview für DSM-IV |n 1111",
        None,
    )]
    pages = spark.createDataFrame(rows, schema=pages_schema())
    decoy = spark.createDataFrame(
        [("9999", "Strukturiertes Klinisches Interview für DSM-III")],
        "test_id string, long_name string",
    )
    got = {
        (r.pred, r.obj)
        for r in build_triples(pages, authorities={"tests": decoy}).collect()
    }
    # guard fired: no PsytkomTestId, test typed Uncontrolled
    assert not any(o == "9999" for _, o in got)
    assert (
        "http://www.w3.org/1999/02/22-rdf-syntax-ns#type",
        "http://id.loc.gov/ontologies/bflc/Uncontrolled",
    ) in got
    # same name without the version conflict resolves
    ok_auth = spark.createDataFrame(
        [("4242", "Strukturiertes Klinisches Interview für DSM-IV")],
        "test_id string, long_name string",
    )
    got2 = {
        (r.pred, r.obj)
        for r in build_triples(pages, authorities={"tests": ok_auth}).collect()
    }
    assert ("http://www.w3.org/1999/02/22-rdf-syntax-ns#value", "4242") in got2


def test_scrub_pii(spark):
    from psyndex2linkeddata_spark.operators.pii import pii_counts, scrub_pii

    df = spark.createDataFrame(
        [
            ("write to jane.doe+x@uni-example.de now",),
            ("server at 192.168.001.7 port 80",),
            ("call +49 30 1234 5678 or 030-555-1212",),
            ("nothing sensitive here, pi = 3.14159",),
        ],
        ["t"],
    )
    counts = pii_counts(F.col("t"))
    got = df.select(
        scrub_pii(F.col("t")).alias("s"),
        counts["n_emails"].alias("e"),
        counts["n_ips"].alias("i"),
    ).collect()
    assert got[0].s == "write to [EMAIL] now" and got[0].e == 1
    assert got[1].s == "server at [IP] port 80" and got[1].i == 1
    assert got[2].s == "call [PHONE] or [PHONE]"
    # 3.14159 is not an IP (only 2 dots) and not phone-shaped
    assert got[3].s == "nothing sensitive here, pi = 3.14159"
    assert got[3].e == 0 and got[3].i == 0


def test_chunk_tokens(spark):
    from psyndex2linkeddata_spark.operators.chunking import chunk_tokens

    words = " ".join(f"w{i}" for i in range(45))
    df = spark.createDataFrame(
        [(1, words), (2, "a b c"), (3, "   "), (4, None)],
        "doc_id long, text string",
    )
    got = {
        (r.doc_id, r.chunk_id): (r.chunk_text, r.n_tokens)
        for r in chunk_tokens(df, window=40, stride=30).collect()
    }
    # 45 tokens, W=40, S=30 -> ceil((45-10)/30)=2 chunks: [0,40), [30,45)
    assert got[(1, 0)][1] == 40 and got[(1, 0)][0].startswith("w0 w1 ")
    assert got[(1, 1)] == (" ".join(f"w{i}" for i in range(30, 45)), 15)
    assert got[(2, 0)] == ("a b c", 3)
    # blank/null docs keep exactly one empty chunk (lineage survives)
    assert got[(3, 0)] == ("", 0) and got[(4, 0)] == ("", 0)
    assert len(got) == 5


def test_neardup_clusters(spark):
    from psyndex2linkeddata_spark.operators.dedup import neardup_clusters

    base = "the quick brown fox jumps over the lazy dog again and again today"
    df = spark.createDataFrame(
        [
            (1, base),
            (2, base + " extra"),          # near-dup of 1
            (3, "totally different words about spark shuffles and parquet files"),
            (4, base.replace("dog", "cat")),  # near-dup of 1 (chains via bands)
        ],
        "doc_id long, text string",
    )
    got = {
        r.doc_id: (r.cluster_id, r.is_canonical)
        for r in neardup_clusters(df, num_hashes=8, bands=4, n=3).collect()
    }
    assert len(got) == 4
    # 1 and 2 share nearly all shingles -> same cluster, 1 canonical
    assert got[2][0] == got[1][0] == 1
    assert got[1][1] is True and got[2][1] is False
    # 3 is a singleton: its own cluster, canonical
    assert got[3] == (3, True)


def test_incremental_neardup_family_kill(spark):
    """Cluster-level index fold: when any NON-min member of a batch
    cluster collides with the index, the WHOLE family is rejected
    (dup_of = the indexed id), and fresh families keep their min id."""
    from psyndex2linkeddata_spark.operators.dedup import (
        incremental_neardup,
        minhash_band_index,
    )

    base = "the quick brown fox jumps over the lazy dog again and again today"
    fresh = "totally different words about spark shuffles and parquet files"
    # index holds doc 100 = near-dup of `base + extra` (collides with
    # batch doc 12, NOT with batch doc 11)
    corpus = spark.createDataFrame(
        [(100, base + " extra")], "doc_id long, text string"
    )
    index = minhash_band_index(corpus, num_hashes=8, bands=4, n=3)
    batch = spark.createDataFrame(
        [
            (11, base.replace("dog", "cat")),  # chains to 12 via bands
            (12, base + " extra"),             # index hit
            (13, fresh),
            (14, fresh + " two"),              # within-batch near-dup of 13
        ],
        "doc_id long, text string",
    )
    got = {
        r.doc_id: (r.cluster_id, r.dup_of, r.accepted)
        for r in incremental_neardup(
            batch, index, num_hashes=8, bands=4, n=3
        ).collect()
    }
    assert len(got) == 4
    # 11+12 form one cluster; 12 hits indexed 100 -> whole family killed,
    # INCLUDING the cluster-min 11 that never touched the index itself
    assert got[11][0] == got[12][0] == 11
    assert got[11] == (11, 100, False) and got[12] == (11, 100, False)
    # 13+14 fresh family: min id accepted, the other rejected, no dup_of
    assert got[13] == (13, None, True)
    assert got[14] == (13, None, False)


def test_semantic_dedup_keeper_rule(spark):
    """SemDeDup keep-rule: within a closed near-dup cluster the CANONICAL
    member is the one LEAST similar to its cell centroid (diversity-
    preserving, per the paper), ties broken by id; singletons keep
    themselves. Expected values computed independently with numpy."""
    import numpy as np

    from psyndex2linkeddata_spark.operators.similarity import semantic_dedup

    vecs = {
        1: [1.0, 0.0, 0.0, 0.0],
        2: [0.98, 0.199, 0.0, 0.0],   # near-dup of 1
        3: [0.9, 0.436, 0.0, 0.0],    # near-dup of 2 (chains to 1)
        4: [0.0, 0.0, 1.0, 0.0],      # singleton
    }
    df = spark.createDataFrame(
        [(i, v) for i, v in vecs.items()], "vec_id long, embedding array<double>"
    )
    got = {
        r.vec_id: (r.cluster_id, r.canonical_id, r.is_canonical)
        for r in semantic_dedup(df, n_cells=1, threshold=0.95).collect()
    }
    assert len(got) == 4
    # one cell: centroid = elementwise sum of all four vectors
    cent = np.sum([np.array(v) for v in vecs.values()], axis=0)

    def cos(a, b):
        return float(np.dot(a, b) / (np.linalg.norm(a) * np.linalg.norm(b)))

    cluster = [1, 2, 3]  # 1~2 and 2~3 above 0.95; 1~3 is 0.9 but closure chains
    expected_keeper = min(cluster, key=lambda i: (cos(vecs[i], cent), i))
    for i in cluster:
        assert got[i][0] == 1
        assert got[i][1] == expected_keeper
        assert got[i][2] is (i == expected_keeper)
    assert got[4] == (4, 4, True)


def test_semantic_dedup_matches_native_on_boundary(spark):
    """semantic_dedup's per-cell kernel (numpy gemm pair scoring plus
    the local closure) must produce EXACTLY the all-JVM reference's
    clusters (tests/native_twins.semantic_dedup_native: JVM cosine pair
    predicate → connected_components) — including pairs whose cosine
    sits at or within float-summation error of the threshold, which the
    kernel re-decides with the JVM expression's sequential arithmetic.
    Stress data: many vector pairs engineered to land exactly ON the
    0.8 threshold in exact math (cos([1,0],[4,3])=0.8, plus scaled and
    rotated copies), where BLAS-vs-sequential rounding is most likely
    to disagree, mixed with clearly-above and clearly-below pairs."""
    from psyndex2linkeddata_spark.operators.similarity import (
        ivf_centroids,
        semantic_dedup,
    )
    from tests.native_twins import semantic_dedup_native

    rows = []
    vid = 0
    # 40 boundary families: (a, b) with cos==0.8 exactly in exact math,
    # at varying scales and an extra noise dimension to vary summation
    for fam in range(40):
        s = 1.0 + fam * 0.37
        rows.append((vid, [3.0 * s, 4.0 * s, 0.0, 0.0])); vid += 1
        rows.append((vid, [0.0, 5.0 * s, 0.0, 0.0])); vid += 1       # cos = 0.8
        rows.append((vid, [3.0 * s, 4.0 * s, 1e-8, 0.0])); vid += 1  # ~0.8 ± ulp
    # clear keeps and clear drops
    for fam in range(10):
        rows.append((vid, [1.0, 0.0, 0.0, float(fam)])); vid += 1
        rows.append((vid, [0.0, 1.0, 0.0, float(fam)])); vid += 1
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    def run(dedup_fn):
        cents = ivf_centroids(df, 4, refine_iters=1)
        return {
            (r.vec_id, r.cluster_id, r.canonical_id, r.is_canonical)
            for r in dedup_fn(
                df, n_cells=4, threshold=0.8, centroids=cents
            ).collect()
        }

    assert run(semantic_dedup) == run(semantic_dedup_native)

    # The same rows with each family in its own cell: a family's cluster
    # then hinges on its own boundary pairs, which the cross-family
    # merges above can mask. Family 0 (scale 1.0) sits exactly on 0.8 in
    # double arithmetic, so a kernel that drops ties splits it.
    from psyndex2linkeddata_spark.operators.similarity import (
        semantic_clusters_arrow,
    )
    from tests.native_twins import semantic_clusters_native

    withc = spark.createDataFrame(
        [(v // 3, v, emb, 0.0) for v, emb in rows],
        "cell int, vec_id long, embedding array<double>, _ccos double",
    )

    def clusters(cluster_fn):
        return {tuple(r) for r in cluster_fn(withc, 0.8).collect()}

    want = clusters(semantic_clusters_native)
    assert {c for v, c, _ in want if v < 3} == {0}
    assert clusters(semantic_clusters_arrow) == want


def test_dsir_select_prefers_target_like(spark):
    """DSIR importance resampling: raw docs written in the TARGET's
    vocabulary get positive weights and fill the top ranks; off-
    distribution docs sink. Gumbel-off variant is a hard top-k by
    weight."""
    from psyndex2linkeddata_spark.operators.selection import dsir_select

    wiki = "the history of science describes theories experiments and discoveries across centuries"
    spam = "buy cheap pills online casino bonus click here winner jackpot free offer now"
    raw = spark.createDataFrame(
        [(i, wiki + f" chapter {i}") for i in range(10)]
        + [(100 + i, spam + f" deal {i}") for i in range(10)],
        "doc_id long, text string",
    )
    target = spark.createDataFrame(
        [(1000, wiki), (1001, "science experiments history and discoveries")],
        "doc_id long, text string",
    )
    sel = dsir_select(raw, target, k=10, n_buckets=128, gumbel=False)
    rows = sel.collect()
    assert len(rows) == 10
    top_ids = {r.doc_id for r in rows}
    assert top_ids == set(range(10))          # every wiki-like doc wins
    # absolute weights are negative here (tiny target corpus -> smoothing
    # mass dominates ln p); what matters is the margin between families
    w_all = {r.doc_id: float(r.weight) for r in dsir_select(
        raw, target, k=20, n_buckets=128, gumbel=False).collect()}
    assert min(w_all[i] for i in range(10)) > max(w_all[100 + i] for i in range(10))
    assert [r.rank for r in sorted(rows, key=lambda r: -r.score)][0] == 1


def test_cdc_chunks_stability(spark):
    """Content-defined boundaries depend only on local k-grams: after a
    prefix edit, every chunk past the first boundary is byte-identical —
    the property fixed windows lack and the reason CDC chunk hashes make
    stable dedup keys across recrawls."""
    from psyndex2linkeddata_spark.operators.chunking import cdc_chunks

    words = " ".join(f"tok{i * 7 % 97}" for i in range(120))
    df = spark.createDataFrame(
        [(1, words), (2, "prefix inserted here " + words), (3, "a b"), (4, "")],
        "doc_id long, text string",
    )
    rows = cdc_chunks(df, k=3, divisor=8).collect()
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r.doc_id, []).append((r.chunk_id, r.chunk_text, r.n_tokens))
    for d in by_doc.values():
        d.sort()
    # lossless: chunks reassemble the token stream
    assert " ".join(c for _, c, _ in by_doc[1]) == words
    assert len(by_doc[1]) > 3  # divisor=8 over 120 tokens → many chunks
    # stability: every chunk of doc1 except the first survives the edit
    c1 = [c for _, c, _ in by_doc[1]]
    c2 = {c for _, c, _ in by_doc[2]}
    assert set(c1[1:]) <= c2
    # short doc (< k+1 tokens): single chunk, no boundary scan
    assert by_doc[3] == [(0, "a b", 2)]
    # empty doc keeps one empty chunk (lineage)
    assert by_doc[4] == [(0, "", 0)]


def test_hash_sample_determinism(spark):
    from psyndex2linkeddata_spark.operators.sampling import (
        hash_sample,
        stratified_hash_sample,
    )

    df = spark.range(2000).select(
        F.col("id").alias("doc_id"),
        F.when(F.col("id") % 2 == 0, "web").otherwise("wiki").alias("source"),
    )
    a = {r.doc_id for r in hash_sample(df, 0.3, salt="s1").collect()}
    b = {r.doc_id for r in hash_sample(df.repartition(13), 0.3, salt="s1").collect()}
    assert a == b  # layout-independent, unlike df.sample
    assert 0.2 < len(a) / 2000 < 0.4
    # a smaller fraction with the same salt is a strict subset (nested
    # samples: growing the budget only ADDS docs, never reshuffles)
    c = {r.doc_id for r in hash_sample(df, 0.1, salt="s1").collect()}
    assert c <= a
    mixed = stratified_hash_sample(
        df, {"wiki": 1.0}, strata_col="source", default_rate=0.0
    )
    got = mixed.groupBy("source").count().collect()
    assert {r.source: r["count"] for r in got} == {"wiki": 1000}


def test_decontaminate(spark):
    from psyndex2linkeddata_spark.operators.decontaminate import decontaminate

    bench = spark.createDataFrame(
        [("what is the capital of france",)], ["text"]
    )
    docs = spark.createDataFrame(
        [
            (1, "quiz leak: what is the capital of france answer paris"),
            (2, "unrelated text about spark shuffle partitions and parquet"),
            (3, "the capital of france is lovely in spring"),  # only 4-gram overlap
        ],
        "doc_id long, text string",
    )
    got = {r.doc_id: r.contaminated for r in decontaminate(docs, bench, n=5).collect()}
    assert got == {1: True, 2: False, 3: False}


@pytest.mark.parametrize("broadcast_bench", [True, False])
def test_decontaminate_keeps_row_count_with_duplicate_ids(spark, broadcast_bench):
    """A docs table that repeats a contaminated doc_id: contaminated_ids
    stays distinct on both paths, so the left join neither drops nor
    fans out rows (2 input rows of id 1 → 2 output rows, not 4)."""
    from psyndex2linkeddata_spark.operators.decontaminate import decontaminate

    bench = spark.createDataFrame([("what is the capital of france",)], ["text"])
    text = "quiz leak: what is the capital of france answer paris"
    docs = spark.createDataFrame(
        [(1, text), (1, text), (2, "unrelated text about spark shuffle")],
        "doc_id long, text string",
    )
    out = decontaminate(docs, bench, n=5, broadcast_bench=broadcast_bench).collect()
    assert sorted((r.doc_id, r.contaminated) for r in out) == [
        (1, True),
        (1, True),
        (2, False),
    ]


def test_prepare_training_corpus(spark):
    """End-to-end corpus prep plan: mix → scrub → quality gates →
    decontaminate → near-dup dedup → chunk."""
    from psyndex2linkeddata_spark.plans.corpus import prepare_training_corpus

    base = " ".join(f"w{i * 13 % 211}" for i in range(60))
    rows = [
        (1, "keep", base + " mail me a@b.example.com"),          # near-dup of 2
        (2, "keep", base + " extra tail words here"),            # canonical (min id wins via 1... see below)
        (3, "keep", "short"),                                    # < min_tokens
        (4, "keep", "spam spam spam spam spam spam spam spam"),  # dup-word gate
        (5, "drop", base),                                       # mixed out
        (6, "keep", "leaky doc with the secret benchmark answer phrase inside"),
        (7, "keep", " ".join(f"u{i * 7 % 199}" for i in range(80))),  # clean unique
    ]
    docs = spark.createDataFrame(rows, "doc_id long, source string, text string")
    bench = spark.createDataFrame(
        [("the secret benchmark answer phrase",)], ["text"]
    )
    out = prepare_training_corpus(
        docs,
        benchmark=bench,
        decontaminate_n=5,
        mix_rates={"keep": 1.0},
        min_tokens=5,
        max_dup_word_frac=0.5,
        chunking="cdc",
        cdc_divisor=16,
    )
    got = out.collect()
    kept_ids = {r.doc_id for r in got}
    # 3 (too short), 4 (repetition), 5 (mixed out), 6 (contaminated) gone;
    # {1,2} is a near-dup family -> only the canonical (min id = 1) survives
    assert kept_ids == {1, 7}
    # chunks reassemble losslessly and PII was scrubbed before chunking
    d1 = " ".join(r.chunk_text for r in sorted(got, key=lambda r: (r.doc_id, r.chunk_id)) if r.doc_id == 1)
    assert "[EMAIL]" in d1 and "a@b.example.com" not in d1


def test_minhash_bucket_guard(spark):
    """max_bucket_size drops boilerplate LSH buckets from the quadratic
    pair join (their members are exact-dup families for the linear
    exact-dedup pass) without touching genuine near-dup pairs."""
    from psyndex2linkeddata_spark.operators.dedup import minhash_lsh_pairs

    boiler = "identical parked domain banner text repeated on every page"
    near = "the quick brown fox jumps over the lazy dog again today"
    rows = [(i, boiler) for i in range(20)] + [
        (100, near),
        (101, near + " extra"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    unguarded = minhash_lsh_pairs(df, num_hashes=8, bands=4, n=3)
    assert unguarded.count() >= 190 + 1  # 20-doc bucket -> 190 pairs
    guarded = minhash_lsh_pairs(df, num_hashes=8, bands=4, n=3, max_bucket_size=10)
    got = {(r.id_a, r.id_b) for r in guarded.collect()}
    assert got == {(100, 101)}  # boilerplate family excluded, near-dup kept


def test_pack_sequences_invariants(spark):
    """Concat-then-cut packing: every sequence but each shard's last is
    exactly seq_len tokens; the token stream is conserved (nothing padded,
    dropped, or reordered) — reassembling each shard's sequences in
    seq_id order reproduces the concatenation of its docs in doc_id
    order."""
    from pyspark.sql import Window

    from psyndex2linkeddata_spark.operators.chunking import pack_sequences

    docs = [
        (i, " ".join(f"w{i}_{j}" for j in range(3 + (i * 11) % 29)))
        for i in range(40)
    ] + [(100, ""), (101, "   ")]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    out = pack_sequences(df, seq_len=16, n_shards=4).cache()

    w = Window.partitionBy("shard")
    non_final_short = (
        out.withColumn("_mx", F.max("seq_id").over(w))
        .where((F.col("seq_id") < F.col("_mx")) & (F.col("n_tokens") != 16))
        .count()
    )
    assert non_final_short == 0

    # stream conservation + order, per shard, via driver-side replay of
    # the same md5 shard key
    rows = {
        (r.shard, r.seq_id): r.seq_text
        for r in out.collect()
    }
    import hashlib

    def shard_of(doc_id):
        return int(hashlib.md5(str(doc_id).encode()).hexdigest()[:8], 16) % 4

    streams = {}
    for i, text in docs:
        toks = text.split()
        if toks:
            streams.setdefault(shard_of(i), []).extend(toks)
    for sh, toks in streams.items():
        seqs = sorted(k[1] for k in rows if k[0] == sh)
        assert seqs == list(range(len(seqs)))
        rebuilt = " ".join(rows[(sh, s)] for s in seqs).split()
        assert rebuilt == toks

    # blank docs contribute nothing but don't crash
    assert out.where(F.col("n_tokens") == 0).count() == 0


def test_host_operators(spark):
    """hosts.py: extraction edge cases, suffix blocklist semantics, and
    the salted two-phase cap matching the naive single-window top-k."""
    from pyspark.sql import Window

    from psyndex2linkeddata_spark.operators.hosts import (
        cap_per_host,
        filter_blocked_hosts,
        host_of,
    )

    urls = spark.createDataFrame(
        [
            (1, "https://A.Example.ORG/x"),
            (2, "http://user:pw@sub.example.org:8080/y?q=1"),
            (3, "https://other.test/"),
            (4, "not a url"),
        ],
        "doc_id long, url string",
    )
    got = {r.doc_id: r.h for r in urls.select("doc_id", host_of(F.col("url")).alias("h")).collect()}
    assert got == {1: "a.example.org", 2: "sub.example.org", 3: "other.test", 4: ""}

    bl = spark.createDataFrame([("example.org",)], "host string")
    kept = {r.doc_id for r in filter_blocked_hosts(urls, bl).collect()}
    # suffix match drops 1 and 2 (subdomains of example.org), keeps the rest
    assert kept == {3, 4}

    # cap: 1000 docs over 3 hosts, one hot host with 900 docs
    docs = spark.createDataFrame(
        [(i, f"https://h{0 if i < 900 else i % 2 + 1}.test/p/{i}") for i in range(1000)],
        "doc_id long, url string",
    )
    capped = cap_per_host(docs, k=7, n_salts=4)
    counts = {r.host: r.c for r in capped.groupBy("host").agg(F.count("*").alias("c")).collect()}
    assert counts["h0.test"] == 7 and counts["h1.test"] == 7 and counts["h2.test"] == 7
    # equivalence with the naive exact window
    staged = docs.withColumn("host", F.lower(F.regexp_extract("url", r"^[a-zA-Z][a-zA-Z0-9+.-]*://(?:[^/?#@]*@)?([^/?#:]+)", 1)))
    w = Window.partitionBy("host").orderBy(F.md5(F.col("doc_id").cast("string")))
    naive = staged.withColumn("rn", F.row_number().over(w)).where(F.col("rn") <= 7)
    assert {r.doc_id for r in capped.collect()} == {r.doc_id for r in naive.collect()}


def test_dedup_lines(spark):
    """CCNet-style line dedup: lines shared by > max_docs docs vanish,
    blank lines and unique lines survive in order, every doc survives."""
    from psyndex2linkeddata_spark.operators.dedup import dedup_lines

    docs = spark.createDataFrame(
        [
            (1, "alpha one\nSHARED FOOTER\n\nkeep me 1"),
            (2, "beta two\nshared footer\nkeep me 2"),   # key is case-folded
            (3, "gamma three\n  Shared Footer  \nkeep me 3"),  # and trimmed
            (4, "SHARED FOOTER"),
            (5, ""),
        ],
        "doc_id long, text string",
    )
    got = {r.doc_id: r.text for r in dedup_lines(docs, max_docs=2).collect()}
    assert got == {
        1: "alpha one\n\nkeep me 1",
        2: "beta two\nkeep me 2",
        3: "gamma three\nkeep me 3",
        4: "",
        5: "",
    }
    # threshold respected: at max_docs=4 nothing is hot
    got4 = {r.doc_id: r.text for r in dedup_lines(docs, max_docs=4).collect()}
    assert got4[1] == "alpha one\nSHARED FOOTER\n\nkeep me 1"


def test_html_to_text_byte_identical(spark, pages):
    """The extracted-text-per-url invariant: for every fixture page,
    html_to_text(html) must equal the stored text column byte-for-byte
    (datagen wraps text in escaped markup — pages.py text_to_html)."""
    from psyndex2linkeddata_spark.operators.extraction import html_to_text

    bad = (
        pages.select(
            "url", "text", html_to_text(F.col("html")).alias("extracted")
        )
        .where("extracted is distinct from text")
        .count()
    )
    assert bad == 0


def test_html_to_text_markup_handling(spark):
    from psyndex2linkeddata_spark.operators.extraction import html_to_text

    cases = [
        # script/style/comment content dropped, incl. fake closers inside
        (
            '<html><head><script>var a = "</div>";</script>'
            "<style>p > a {}</style></head>"
            "<body><!-- note -->Hello &amp; welcome</body></html>",
            "Hello & welcome",
        ),
        # entities unescaped AFTER tag strip: literal &lt;b&gt; stays text
        ("<p>&lt;b&gt; is not a tag</p>", "<b> is not a tag"),
        # multiline tag bodies
        ("<div\n class='x'>ok</div>", "ok"),
        # html.escape's quote forms (&#x27; / &quot;) roundtrip
        ("<p>it&#x27;s &quot;quoted&quot;</p>", 'it\'s "quoted"'),
    ]
    df = spark.createDataFrame(cases, "html string, want string")
    got = df.select(
        html_to_text(F.col("html"), binary=False).alias("got"), "want"
    ).collect()
    for r in got:
        assert r.got == r.want

    norm = spark.createDataFrame(
        [("<h1>Title</h1><p>a  b</p>\n\n<p>c</p>",)], "html string"
    ).select(
        html_to_text(F.col("html"), binary=False, normalize_ws=True).alias("g")
    ).head()[0]
    assert norm == "Title\na b\nc"


def test_canonical_url(spark):
    from psyndex2linkeddata_spark.operators.extraction import canonical_url

    cases = [
        ("HTTP://Example.COM:80/A/b/?utm_source=x#f", "http://example.com/A/b"),
        ("https://example.com:443", "https://example.com/"),
        ("https://example.com:8443/x", "https://example.com:8443/x"),
        # adjacent tracking params both removed; non-tracking kept in order
        ("https://h/p?utm_a=1&utm_b=2&z=3&a=4", "https://h/p?z=3&a=4"),
        ("https://h/p?utm_a=1", "https://h/p"),
        ("https://h/p?gclid=1&&fbclid=2", "https://h/p"),
        # path case preserved (case-significant servers); root slash kept
        ("https://H/", "https://h/"),
        ("ftp://Host/File", "ftp://host/File"),
    ]
    df = spark.createDataFrame(cases, "url string, want string")
    for r in df.select(canonical_url(F.col("url")).alias("got"), "want").collect():
        assert r.got == r.want, r


def test_latest_snapshot(spark):
    import datetime as dt

    from psyndex2linkeddata_spark.operators.extraction import latest_snapshot

    rows = [
        ("https://H/p?utm_x=1", dt.datetime(2020, 1, 1), "old"),
        ("https://h/p#top", dt.datetime(2021, 1, 1), "new"),
        ("https://h/q", dt.datetime(2020, 6, 1), "only"),
        # exact-ts tie (same canonical): broken by raw url, descending
        ("https://h/r#x", dt.datetime(2022, 1, 1), "tie-x"),
        ("https://h/r#y", dt.datetime(2022, 1, 1), "tie-y"),
    ]
    df = spark.createDataFrame(rows, "url string, warc_ts timestamp, text string")
    got = {r.canonical_url: (r.text, r.url) for r in latest_snapshot(df).collect()}
    assert len(got) == 3
    assert got["https://h/p"] == ("new", "https://h/p#top")
    assert got["https://h/q"][0] == "only"
    assert got["https://h/r"] == ("tie-y", "https://h/r#y")


def test_build_triples_repair_text(spark, pages):
    """repair_text=True recovers NULLed text from html byte-identically:
    triples from a corpus whose text column was nulled out equal the
    triples from the intact corpus."""
    from psyndex2linkeddata_spark.plans.pipeline import build_triples

    subset = pages.orderBy("url").limit(20).cache()
    want = {tuple(r) for r in build_triples(subset, annif=False).collect()}
    nulled = subset.withColumn("text", F.lit(None).cast("string"))
    got = {
        tuple(r)
        for r in build_triples(nulled, annif=False, repair_text=True).collect()
    }
    assert got == want
    subset.unpersist()


def test_prepare_web_corpus(spark, pages):
    """Captures → chunks composition: snapshot dedup, NULL-text repair,
    host blocklist, per-host cap, then the doc-level prep — all in one
    plan keyed on the canonical url."""
    from psyndex2linkeddata_spark.plans.corpus import prepare_web_corpus

    base = pages.limit(40).cache()
    n_base = base.count()
    # duplicate captures: same page re-crawled later under a utm variant,
    # with NULL text (must be repaired from html, then LOSE to nothing —
    # it's the newer capture, so it WINS and its text must come from html)
    recrawl = base.select(
        F.concat(F.col("url"), F.lit("?utm_source=recrawl")).alias("url"),
        (F.col("warc_ts") + F.expr("interval 30 days")).alias("warc_ts"),
        "html",
        F.lit(None).cast("string").alias("text"),
        "lang",
    )
    # junk rows on a blocked host
    blocked = base.select(
        F.concat(
            F.lit("https://spam.blocked.test/x/"), F.md5("url")
        ).alias("url"),
        "warc_ts", "html", "text", "lang",
    )
    caps = base.unionByName(recrawl).unionByName(blocked)
    bl = spark.createDataFrame([("blocked.test",)], "host string")

    out = prepare_web_corpus(
        caps,
        host_blocklist=bl,
        max_per_host=1000,
        chunking="none",
        dedup=False,
        min_tokens=1,
    )
    rows = out.collect()
    # one row per original page (recrawl merged into the same canonical
    # url, blocked host gone), text present everywhere (repair path)
    assert len(rows) == n_base
    assert all(r.text is not None and r.text != "" for r in rows)
    # every winner is the recrawl (newer): its raw url carries the utm tag
    assert all(r.url.endswith("?utm_source=recrawl") for r in rows)
    # and the repaired text matches the original page text (modulo the
    # prep plan's PII scrub, applied to both sides here)
    from psyndex2linkeddata_spark.operators.pii import scrub_pii

    orig = {
        r.url: r.text
        for r in base.select("url", scrub_pii(F.col("text")).alias("text")).collect()
    }
    for r in rows:
        assert r.text == orig[r.url.removesuffix("?utm_source=recrawl")]
    base.unpersist()


def test_ivf_topk_exact_cos_and_recall(spark):
    """IVF scores are exact cosines; with n_probes = n_cells it degrades
    to brute force (recall 1); assignment is repartition-invariant."""
    import math as _math

    import numpy as np

    rng = np.random.RandomState(11)
    vecs = rng.randn(80, 8).astype(float)
    rows = [(i, [float(x) for x in vecs[i]]) for i in range(80)]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    queries = df.where(F.col("vec_id") < 2).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    corpus = df.where(F.col("vec_id") >= 2)
    norms = np.linalg.norm(vecs, axis=1)

    got = similarity.ivf_topk(corpus, queries, n_cells=4, n_probes=2, k=5).collect()
    assert got, "ivf_topk returned nothing"
    for r in got:
        expect = float(
            vecs[r.query_id] @ vecs[r.vec_id] / (norms[r.query_id] * norms[r.vec_id])
        )
        assert _math.isclose(r.cos, expect, rel_tol=1e-9)

    # full-probe IVF == brute force (partition of the corpus into cells)
    full = similarity.ivf_topk(corpus, queries, n_cells=4, n_probes=4, k=5).collect()
    brute = similarity.cosine_topk(corpus, queries, k=5).collect()
    assert {(r.query_id, r.vec_id, r.rank) for r in full} == {
        (r.query_id, r.vec_id, r.rank) for r in brute
    }

    # training + assignment must not depend on the input layout
    cents = similarity.ivf_centroids(corpus, n_cells=4, refine_iters=1)
    cents_rep = similarity.ivf_centroids(
        corpus.repartition(7), n_cells=4, refine_iters=1
    )
    a = {
        (r.vec_id, r.cell)
        for r in similarity.assign_cells(corpus, cents).select("vec_id", "cell").collect()
    }
    b = {
        (r.vec_id, r.cell)
        for r in similarity.assign_cells(corpus.repartition(5), cents_rep)
        .select("vec_id", "cell")
        .collect()
    }
    assert a == b


def test_duplicate_spans_and_strip(spark):
    """ExactSubstr semantics: maximal cross-doc duplicated runs at
    k-gram resolution, case-sensitive, strip removes exactly the spans."""
    rows = [
        (1, "alpha beta gamma delta epsilon zeta eta theta iota kappa unique one"),
        (2, "prefix words alpha beta gamma delta epsilon zeta eta theta iota kappa suffix"),
        (3, "totally different content with no overlap at all whatsoever here now"),
        (4, "alpha beta gamma delta epsilon zeta eta theta XX iota kappa"),
        (5, "short text"),
    ]
    d = spark.createDataFrame(rows, ["doc_id", "text"])
    spans = {
        (r.doc_id, r.start_tok, r.end_tok)
        for r in dedup.duplicate_spans(d, k=5).collect()
    }
    # docs 1/2 share the full 10-token run; doc 4 only the 8-token prefix
    # (XX breaks the chain and 'iota kappa' alone is < k); doc 5 has < k
    # tokens and can never index
    assert spans == {(1, 0, 10), (2, 2, 12), (4, 0, 8)}

    clean = {
        r.doc_id: r.clean_text
        for r in dedup.strip_duplicate_spans(d, k=5).collect()
    }
    assert clean[1] == "unique one"
    assert clean[2] == "prefix words suffix"
    assert clean[3] == rows[2][1]
    assert clean[4] == "XX iota kappa"
    assert clean[5] == "short text"

    # min_span_tokens keeps sub-threshold duplicated runs in place
    kept = {
        r.doc_id: r.clean_text
        for r in dedup.strip_duplicate_spans(d, k=5, min_span_tokens=9).collect()
    }
    assert kept[4] == rows[3][1]  # 8-token span < 9 → untouched
    assert kept[1] == "unique one"  # 10-token span ≥ 9 → stripped


def test_bm25_topk_vs_pure_python(spark):
    """bm25_topk vs an independent row-at-a-time BM25 (Lucene idf,
    k1=1.2, b=0.75) on a corpus with repeated terms, varied lengths,
    and a query term absent from the corpus."""
    import math
    import re

    rows = [
        (1, "the quick brown fox jumps over the lazy dog"),
        (2, "the quick quick fox"),
        (3, "lazy afternoons with a lazy lazy dog sleeping in the sun all day"),
        (4, "completely unrelated text about spark shuffles and partitions"),
        (5, "fox fox fox fox"),
    ]
    queries = [(100, "quick fox"), (200, "lazy dog zzzunseen")]
    d = spark.createDataFrame(rows, ["doc_id", "text"])
    q = spark.createDataFrame(queries, ["query_id", "query_text"])

    from psyndex2linkeddata_spark.operators.retrieval import bm25_topk

    got = {
        (r.query_id, r.rank): (r.doc_id, r.score)
        for r in bm25_topk(d, q, k=3, n_salts=4).collect()
    }

    def toks(s):
        return [t for t in re.split(r"[^a-z0-9]+", s.lower()) if t]

    docs = {i: toks(t) for i, t in rows}
    n = len(docs)
    avgdl = sum(len(t) for t in docs.values()) / n
    k1, b = 1.2, 0.75
    expect = {}
    for qid, qtext in queries:
        scores = {}
        for term in set(toks(qtext)):
            df = sum(1 for t in docs.values() if term in t)
            if df == 0:
                continue
            idf = math.log(1.0 + (n - df + 0.5) / (df + 0.5))
            for i, t in docs.items():
                tf = t.count(term)
                if tf:
                    tfc = tf * (k1 + 1) / (tf + k1 * (1 - b + b * len(t) / avgdl))
                    scores[i] = scores.get(i, 0.0) + idf * tfc
        top = sorted(scores.items(), key=lambda kv: (-kv[1], kv[0]))[:3]
        for r, (i, s) in enumerate(top, 1):
            expect[(qid, r)] = (i, round(s, 4))

    assert set(got) == set(expect)
    for key, (doc, score) in expect.items():
        gdoc, gscore = got[key]
        assert gdoc == doc, (key, got[key], (doc, score))
        assert abs(gscore - score) < 2e-4, (key, got[key], (doc, score))


def test_bm25_max_df_frac_stop_term_cut(spark):
    """max_df_frac drops stop-word-grade query terms after the exact df
    pass: 'the' appears in 4/5 docs (df 0.8) so a 0.5 cut removes its
    postings from scoring while the rare terms still rank; the default
    (None) keeps every term and still scores the stopword."""
    from psyndex2linkeddata_spark.operators.retrieval import bm25_scores, bm25_topk

    rows = [
        (1, "the quick brown fox"),
        (2, "the lazy dog"),
        (3, "the sun rises"),
        (4, "the moon sets"),
        (5, "completely stopword free text"),
    ]
    d = spark.createDataFrame(rows, ["doc_id", "text"])
    q = spark.createDataFrame([(9, "the fox")], ["query_id", "query_text"])

    cut = {r.doc_id for r in bm25_scores(d, q, max_df_frac=0.5).collect()}
    assert cut == {1}  # only the rare term 'fox' scores
    full = {r.doc_id for r in bm25_scores(d, q).collect()}
    assert full == {1, 2, 3, 4}  # exact mode scores 'the' postings too
    top = bm25_topk(d, q, k=1, n_salts=4, max_df_frac=0.5).collect()
    assert [(r.query_id, r.doc_id, r.rank) for r in top] == [(9, 1, 1)]


def test_lm_mean_nll_vs_pure_python(spark):
    """CCNet-style bigram-LM scoring vs an independent row-at-a-time
    replay: vocab cut + <unk>, add-alpha interpolation, backoff for
    unseen bigrams, NULL for unscorable docs, filter keeps them."""
    import math
    import re
    from collections import Counter

    model_rows = [
        (10, "the cat sat on the mat"),
        (11, "the cat ran"),
        (12, "a dog sat on a log"),
    ]
    doc_rows = [
        (1, "the cat sat"),
        (2, "zebra quantum flux"),
        (3, "on the mat the cat sat"),
        (4, "x"),
    ]
    m = spark.createDataFrame(model_rows, ["doc_id", "text"])
    d = spark.createDataFrame(doc_rows, ["doc_id", "text"])

    from psyndex2linkeddata_spark.operators.lm import (
        lm_mean_nll,
        perplexity_filter,
    )

    got = {
        r.doc_id: (r.n_bigrams, r.mean_nll)
        for r in lm_mean_nll(d, m, vocab_size=5, alpha=0.5).collect()
    }

    def toks(s):
        return [t for t in re.split(r"[^a-z0-9]+", s.lower()) if t]

    mt = [toks(t) for _, t in model_rows]
    cnt = Counter(w for t in mt for w in t)
    vocab = [w for w, c in sorted(cnt.items(), key=lambda kv: (-kv[1], kv[0]))[:5]]

    def mp(w):
        return w if w in vocab else "<unk>"

    c1 = Counter(mp(w) for t in mt for w in t)
    base = set(vocab) | {"<unk>"}
    total, v = sum(c1.values()), len(base)
    p1 = {w: (c1.get(w, 0) + 1.0) / (total + v) for w in base}
    c12 = Counter((mp(a), mp(b)) for t in mt for a, b in zip(t, t[1:]))
    a = 0.5
    for did, txt in doc_rows:
        t = [mp(w) for w in toks(txt)]
        bgs = list(zip(t, t[1:]))
        if not bgs:
            assert got[did] == (0, None)
            continue
        s = sum(
            math.log(c12.get((x, y), 0) + a * p1[y]) - math.log(c1.get(x, 0) + a)
            for x, y in bgs
        )
        nb, nll = got[did]
        assert nb == len(bgs)
        assert abs(nll - round(-s / len(bgs), 4)) < 2e-4, (did, got[did])

    # doc 2 is off-distribution (all-unk) → filtered; short doc 4 kept
    kept = sorted(
        r.doc_id for r in perplexity_filter(d, m, max_nll=2.5, vocab_size=5).collect()
    )
    assert kept == [1, 3, 4]


def test_prepare_training_corpus_lm_gate(spark):
    """CCNet ordering: the optional LM perplexity cut drops
    off-distribution docs between the per-row gates and dedup, keeps
    target-like ones, and defaults (lm_model_docs=None) leave the plan
    byte-identical to the ungated run."""
    from psyndex2linkeddata_spark.plans.corpus import prepare_training_corpus

    target_vocab = "alpha beta gamma delta epsilon zeta eta theta".split()
    mk = lambda seq: " ".join(target_vocab[i % 8] for i in seq)
    rows = [
        (1, "keep", mk(range(40))),                                # target-like
        (2, "keep", " ".join(f"z{i*17%97}q" for i in range(40))),  # off-distribution
        (3, "keep", mk(range(3, 43))),                             # target-like
    ]
    docs = spark.createDataFrame(rows, "doc_id long, source string, text string")
    model = spark.createDataFrame(
        [(100 + i, mk(range(i, i + 60))) for i in range(4)],
        "doc_id long, text string",
    )
    kw = dict(min_tokens=5, dedup=False, chunking="none")
    gated = prepare_training_corpus(
        docs, lm_model_docs=model, lm_max_nll=3.0, lm_vocab_size=16, **kw
    )
    assert {r.doc_id for r in gated.collect()} == {1, 3}
    ungated = prepare_training_corpus(docs, **kw)
    assert {r.doc_id for r in ungated.collect()} == {1, 2, 3}


def test_corpus_stats_rollup(spark):
    """Rollup levels: leaf / per-source / grand total from one pass,
    exact-dup rate counts repeated text bytes."""
    rows = [
        (1, "web", "en", "a b c"),
        (2, "web", "en", "a b c"),      # exact dup of 1
        (3, "web", "de", "x y"),
        (4, "books", "en", "p q r s"),
    ]
    d = spark.createDataFrame(rows, ["doc_id", "source", "lang", "text"])
    from psyndex2linkeddata_spark.operators.stats import corpus_stats

    out = {
        (r.source, r.lang, r.lvl): (r.n_docs, r.n_tokens, r.n_distinct_texts, r.exact_dup_frac)
        for r in corpus_stats(d).collect()
    }
    assert out[("web", "en", 0)] == (2, 6, 1, 0.5)
    assert out[("web", "de", 0)] == (1, 2, 1, 0.0)
    assert out[("books", "en", 0)] == (1, 4, 1, 0.0)
    assert out[("web", None, 1)] == (3, 8, 2, round(1 / 3, 4))
    assert out[("books", None, 1)] == (1, 4, 1, 0.0)
    assert out[(None, None, 3)] == (4, 12, 3, 0.25)
    assert len(out) == 6


def test_nb_classifier_vs_pure_python(spark):
    """nb_train/nb_scores/nb_classify vs an independent row-at-a-time
    multinomial NB (add-alpha, dense vocab x labels, OOV dropped):
    exact score parity, argmax + lexicographic tie-break, all-OOV doc
    falls back to priors, classifier_filter keeps the right docs."""
    import math
    import re
    from collections import Counter

    train_rows = [
        (1, "good", "clean prose with varied words and clean structure"),
        (2, "good", "well formed sentences carry varied vocabulary"),
        (3, "good", "prose sentences with structure and vocabulary"),
        (4, "spam", "buy buy buy cheap cheap pills pills pills"),
        (5, "spam", "cheap pills buy now now now"),
    ]
    score_rows = [
        (10, "clean varied prose sentences"),
        (11, "buy cheap pills now"),
        (12, "zzz qqq vvv"),  # all OOV -> priors only
        (13, "clean pills"),  # mixed
    ]
    t = spark.createDataFrame(train_rows, ["doc_id", "label", "text"])
    d = spark.createDataFrame(score_rows, ["doc_id", "text"])

    from psyndex2linkeddata_spark.operators.classify import (
        classifier_filter,
        nb_classify,
        nb_scores,
        nb_train,
    )

    model, priors = nb_train(t, alpha=1.0)
    got = {
        (r.doc_id, r.label): float(r.score)
        for r in nb_scores(d, model, priors).collect()
    }

    def toks(s):
        return [w for w in re.split(r"[^a-z0-9]+", s.lower()) if w]

    by_label: dict[str, Counter] = {}
    n_by_label: Counter = Counter()
    for _, lab, text in train_rows:
        by_label.setdefault(lab, Counter()).update(toks(text))
        n_by_label[lab] += 1
    vocab = set().union(*[set(c) for c in by_label.values()])
    v = len(vocab)
    expect = {}
    for doc_id, text in score_rows:
        for lab, cnt in by_label.items():
            t_lab = sum(cnt.values())
            s = math.log(n_by_label[lab] / len(train_rows))
            for w in toks(text):
                if w in vocab:
                    s += math.log((cnt.get(w, 0) + 1.0) / (t_lab + v))
            expect[(doc_id, lab)] = s

    assert set(got) == set(expect)
    for k in expect:
        assert abs(got[k] - expect[k]) < 1e-6, (k, got[k], expect[k])

    pred = {r.doc_id: r.label for r in nb_classify(d, model, priors).collect()}
    assert pred[10] == "good" and pred[11] == "spam" and pred[13] == "spam"
    # all-OOV doc 12: argmax of priors alone -> 'good' (3/5 > 2/5)
    assert pred[12] == "good"

    kept = {
        r.doc_id
        for r in classifier_filter(d, model, priors, ["good"]).collect()
    }
    assert kept == {10, 12}


def test_nb_train_min_df_prunes_vocab(spark):
    """min_df=2 drops hapax tokens from the model vocabulary (and hence
    from scoring), while tokens seen in >=2 training docs survive."""
    t = spark.createDataFrame(
        [
            (1, "a", "shared hapaxone"),
            (2, "a", "shared hapaxtwo"),
            (3, "b", "other hapaxthree"),
            (4, "b", "other shared"),
        ],
        ["doc_id", "label", "text"],
    )
    from psyndex2linkeddata_spark.operators.classify import nb_train

    model, _ = nb_train(t, min_df=2)
    vocab = {r.token for r in model.select("token").distinct().collect()}
    assert vocab == {"shared", "other"}
    # dense: every surviving token has a row for every label
    assert model.count() == len(vocab) * 2


def test_rrf_fuse_vs_hand_computed(spark):
    """rrf_fuse vs hand-computed integer RRF: exact bigint scores,
    docs present in one list only still fuse, (score desc, doc asc)
    tie-break, topk cut."""
    lex = spark.createDataFrame(
        [(1, "a", 1), (1, "b", 2), (1, "c", 3), (2, "x", 1)],
        ["query_id", "doc_id", "rank"],
    )
    den = spark.createDataFrame(
        [(1, "b", 1), (1, "a", 2), (1, "d", 3), (2, "y", 1)],
        ["query_id", "doc_id", "rank"],
    )
    from psyndex2linkeddata_spark.operators.retrieval import rrf_fuse

    got = {
        (r.query_id, r.doc_id): (r.rrf_score, r.rank)
        for r in rrf_fuse([lex, den], k_rrf=60, topk=3).collect()
    }

    def w(r):
        return 1_000_000_000 // (60 + r)

    # q1: a=w(1)+w(2), b=w(2)+w(1) -> exact tie, doc asc => a first
    assert got[(1, "a")] == (w(1) + w(2), 1)
    assert got[(1, "b")] == (w(1) + w(2), 2)
    assert got[(1, "c")] == (w(3), 3)
    assert (1, "d") not in got  # d ties c's score w(3); doc asc keeps c
    assert got[(2, "x")] == (w(1), 1)
    assert got[(2, "y")] == (w(1), 2)


def test_bpe_train_encode_vs_pure_python(spark):
    """train_bpe + bpe_encode vs an independent naive BPE (full pair
    recount per round, sequential merge replay for encoding — the
    Sennrich et al. 2016 description implemented literally, sharing no
    code with operators/bpe.py)."""
    import re
    import zlib

    rows = [
        (1, "low lower lowest low low"),
        (2, "new newer newest new new new"),
        (3, "the newest lowest widest wide wide"),
        (4, "low new wide the the the"),
        (5, "Widest WIDE wide, wide; low!"),
    ]
    d = spark.createDataFrame(rows, ["doc_id", "text"])

    from psyndex2linkeddata_spark.operators.bpe import (
        bpe_encode,
        bpe_token_counts,
        bpe_word_counts,
        train_bpe,
    )

    wc = bpe_word_counts(d)
    merges = train_bpe(wc, n_merges=30, min_pair_count=2)

    # --- independent naive reference -------------------------------
    def toks(s):
        return [t for t in re.split(r"[^a-z0-9]+", s.lower()) if t]

    counts: dict[str, int] = {}
    for _, t in rows:
        for w in toks(t):
            counts[w] = counts.get(w, 0) + 1

    def naive_train(counts, n_merges, min_pair_count):
        words = {w: (tuple(w) + ("</w>",), c) for w, c in counts.items()}
        out = []
        for _ in range(n_merges):
            pc: dict[tuple[str, str], int] = {}
            for syms, c in words.values():
                for p in zip(syms, syms[1:]):
                    pc[p] = pc.get(p, 0) + c
            if not pc:
                break
            best = min(pc.items(), key=lambda kv: (-kv[1], kv[0]))[0]
            if pc[best] < min_pair_count:
                break
            out.append(best)
            a, b = best
            nw = {}
            for w, (syms, c) in words.items():
                ns, i = [], 0
                while i < len(syms):
                    if i + 1 < len(syms) and syms[i] == a and syms[i + 1] == b:
                        ns.append(a + b)
                        i += 2
                    else:
                        ns.append(syms[i])
                        i += 1
                nw[w] = (tuple(ns), c)
            words = nw
        return out

    expect_merges = naive_train(counts, 30, 2)
    assert merges == expect_merges

    # encoding: replay merges IN TRAINING ORDER (vs the engine's
    # rank-priority loop — equivalent for a true merge list)
    def naive_encode(word, merges):
        syms = list(word) + ["</w>"]
        for a, b in merges:
            ns, i = [], 0
            while i < len(syms):
                if i + 1 < len(syms) and syms[i] == a and syms[i + 1] == b:
                    ns.append(a + b)
                    i += 2
                else:
                    ns.append(syms[i])
                    i += 1
            syms = ns
        return syms

    got = {
        r.doc_id: list(r.bpe_tokens)
        for r in bpe_encode(d, merges).select("doc_id", "bpe_tokens").collect()
    }
    for did, t in rows:
        expect = [s for w in toks(t) for s in naive_encode(w, merges)]
        assert got[did] == expect, (did, got[did], expect)
        # roundtrip: concatenation restores the tokenized text
        joined = "".join(got[did]).replace("</w>", " ").split()
        assert joined == toks(t)

    # token_counts agrees with the encode column + an independent crc
    tc = {
        r.doc_id: (r.n_bpe_tokens, r.bpe_crc)
        for r in bpe_token_counts(d, merges).collect()
    }
    for did, t in rows:
        expect = [s for w in toks(t) for s in naive_encode(w, merges)]
        crc = zlib.crc32(" ".join(expect).encode("utf-8"))
        assert tc[did] == (len(expect), crc), (did, tc[did])


def test_bpe_determinism_and_early_stop(spark):
    """Ties break lexicographically (engine-independent), hapax-only
    corpora learn nothing at min_pair_count=2, and list input works."""
    from psyndex2linkeddata_spark.operators.bpe import train_bpe

    # 'ab' x2 and 'cd' x2: all pairs tie at 2 -> lexicographic order:
    # (a,b) first, then the freshly-created (ab,</w>) outranks (c,d)
    merges = train_bpe([("ab", 2), ("cd", 2)], n_merges=3)
    assert merges == [("a", "b"), ("ab", "</w>"), ("c", "d")]
    # every pair is hapax -> nothing merged at the default threshold
    assert train_bpe([("xyz", 1), ("qrs", 1)], n_merges=10) == []
    # min_pair_count=1 merges hapax pairs too
    assert len(train_bpe([("xyz", 1)], n_merges=10, min_pair_count=1)) > 0


def test_bpe_bounded_word_counts(spark):
    """The driver collect is bounded: a heavy-tail vocabulary is cut to
    min_count then capped to the top-V rows (cnt desc, word asc), and
    train_bpe over the bounded table equals train_bpe over the
    equivalent bounded list — the hapax tail never reaches the driver."""
    from psyndex2linkeddata_spark.operators.bpe import (
        bounded_word_counts,
        train_bpe,
    )

    # 5 frequent head words + a 500-word hapax tail
    head = [("alpha", 50), ("beta", 40), ("gamma", 30), ("delta", 20), ("epsil", 10)]
    tail = [(f"hapax{i:04d}", 1) for i in range(500)]
    wc = spark.createDataFrame(head + tail, "word string, cnt long")

    cut = bounded_word_counts(wc, min_count=2, max_vocab=3)
    got = [(r["word"], r["cnt"]) for r in cut.collect()]
    assert len(got) <= 3
    assert got == [("alpha", 50), ("beta", 40), ("gamma", 30)]

    # the cap alone (no min_count) also bounds the collect
    assert bounded_word_counts(wc, max_vocab=10).count() == 10

    # train_bpe(DataFrame, bounds) == train_bpe(bounded list)
    m_df = train_bpe(wc, n_merges=5, min_count=2, max_vocab=3)
    m_list = train_bpe(head[:3], n_merges=5)
    assert m_df == m_list


def test_pagerank_vs_pure_python_fixed_point(spark):
    """pagerank vs an independent integer fixed-point replay on a graph
    with a hub, a dangling node, and a 2-cycle; exact equality (that is
    the operator's determinism contract)."""
    edges = [
        ("a", "b"), ("a", "c"), ("b", "c"), ("c", "a"),
        ("d", "c"), ("e", "c"),  # c is the hub
        ("a", "f"),              # f is dangling (no out-edges)
    ]
    from psyndex2linkeddata_spark.operators.graph import pagerank

    d = spark.createDataFrame(edges, ["src", "dst"])
    got = {r.node: r.rank_scaled for r in pagerank(d, n_iter=10).collect()}

    # independent replay
    scale, damp = 10**9, 85
    nodes = sorted({x for e in edges for x in e})
    n = len(nodes)
    out: dict[str, list[str]] = {}
    for s, t in edges:
        out.setdefault(s, []).append(t)
    base = (scale * (100 - damp)) // 100 // n
    r = {v: scale // n for v in nodes}
    for _ in range(10):
        s = {v: 0 for v in nodes}
        for v, ts in out.items():
            c = r[v] // len(ts)
            for t in ts:
                s[t] += c
        r = {v: base + (damp * s[v]) // 100 for v in nodes}

    assert got == r
    # a receives the hub c's entire rank (c's only out-edge) -> a tops;
    # dangling f only ever gets a third of a's rank
    assert max(r, key=r.get) == "a"
    assert got["f"] < got["a"]


def test_bgp_match(spark):
    """Basic-graph-pattern matcher: constant filters, shared-variable
    joins, repeated vars inside a pattern, all-constant existence
    checks, projection, distinct."""
    from psyndex2linkeddata_spark.plans.query import bgp_match

    t = spark.createDataFrame(
        [
            ("w1", "type", "Work"), ("w2", "type", "Work"),
            ("w1", "lang", "de"), ("w2", "lang", "en"),
            ("w1", "author", "p1"), ("w2", "author", "p1"),
            ("p1", "name", "Ada"), ("p1", "knows", "p1"),
            ("w3", "lang", "fr"),  # no type triple -> excluded by join
        ],
        ["subj", "pred", "obj"],
    )

    # join two patterns on ?w
    got = sorted(
        tuple(r)
        for r in bgp_match(
            t, [("?w", "type", "Work"), ("?w", "lang", "?l")]
        ).collect()
    )
    assert got == [("w1", "de"), ("w2", "en")]

    # three-pattern chain through ?p, with projection
    got = sorted(
        tuple(r)
        for r in bgp_match(
            t,
            [("?w", "author", "?p"), ("?p", "name", "?n"), ("?w", "lang", "?l")],
            select=["n", "l"],
        ).collect()
    )
    assert got == [("Ada", "de"), ("Ada", "en")]

    # repeated variable inside one pattern: only the self-loop matches
    got = [tuple(r) for r in bgp_match(t, [("?x", "knows", "?x")]).collect()]
    assert got == [("p1",)]

    # all-constant existence check gates the other pattern
    assert (
        bgp_match(t, [("p1", "name", "Ada"), ("?w", "lang", "?l")]).count() == 3
    )
    assert (
        bgp_match(t, [("p1", "name", "Grace"), ("?w", "lang", "?l")]).count() == 0
    )

    # distinct collapses duplicate bindings
    assert (
        bgp_match(t, [("?w", "author", "?p")], select=["p"], distinct=True).count()
        == 1
    )

    import pytest as _pytest

    with _pytest.raises(ValueError):
        bgp_match(t, [])
    with _pytest.raises(ValueError):
        bgp_match(t, [("?w", "lang", "?l")], select=["missing"])


def test_path_closure_and_bgp_property_path(spark):
    """pred+ transitive closure: semi-naive fixpoint vs hand-computed
    reachability, and its use as a BGP pattern joined with a plain one."""
    from psyndex2linkeddata_spark.plans.query import bgp_match, path_closure

    t = spark.createDataFrame(
        [
            ("a", "in", "b"), ("b", "in", "c"), ("c", "in", "d"),
            ("x", "in", "c"),
            ("b", "in", "b"),          # self-loop must not diverge
            ("a", "type", "Leaf"), ("x", "type", "Leaf"),
            ("a", "other", "z"),       # different predicate ignored
        ],
        ["subj", "pred", "obj"],
    )
    got = {(r.subj, r.obj) for r in path_closure(t, "in").collect()}
    expect = {
        ("a", "b"), ("a", "c"), ("a", "d"),
        ("b", "c"), ("b", "d"), ("b", "b"),
        ("c", "d"), ("x", "c"), ("x", "d"),
    }
    assert got == expect

    # pred+ inside a BGP, joined against a type gate on ?x
    got = sorted(
        tuple(r)
        for r in bgp_match(
            t, [("?x", "type", "Leaf"), ("?x", "in+", "?anc")]
        ).collect()
    )
    assert got == [
        ("a", "b"), ("a", "c"), ("a", "d"), ("x", "c"), ("x", "d")
    ]


def test_edge_closure_doubling_deep_chain(spark):
    """The doubling kernel closes a depth-300 chain within ~log2(300)+1
    rounds: max_iter=12 must CONVERGE (it raises otherwise) and the
    pair set is complete — a one-hop-per-round semi-naive loop would
    need 300 rounds. Also pins the non-convergence error for a bound
    that genuinely is too small."""
    import pytest as _pytest
    from pyspark.sql import functions as F

    from psyndex2linkeddata_spark.plans.query import edge_closure

    depth = 300
    chain = spark.range(depth).select(
        F.col("id").cast("string").alias("subj"),
        (F.col("id") + 1).cast("string").alias("obj"),
    )
    closed = edge_closure(chain, max_iter=12)
    assert closed.count() == depth * (depth + 1) // 2
    # spot-check the longest path closed
    assert closed.where(
        (F.col("subj") == "0") & (F.col("obj") == str(depth))
    ).count() == 1
    with _pytest.raises(ValueError, match="did not converge"):
        edge_closure(chain, max_iter=3).count()


def test_path_closure_raises_when_unconverged(spark):
    """SPARQL pred+ promises the full closure: a chain deeper than
    2^max_iter hops raises instead of returning the pairs the rounds
    reached."""
    import pytest as _pytest

    from psyndex2linkeddata_spark.plans.query import path_closure

    depth = 20  # > 2^3 + 1 hops
    t = spark.createDataFrame(
        [(str(i), "in", str(i + 1)) for i in range(depth)],
        "subj string, pred string, obj string",
    )
    with _pytest.raises(ValueError, match="did not converge"):
        path_closure(t, "in", max_iter=3)
    assert path_closure(t, "in", max_iter=6).count() == depth * (depth + 1) // 2


def test_bgp_optional(spark):
    """OPTIONAL group semantics: left-join on shared vars, null for
    non-matching solutions, unanchored groups rejected."""
    from psyndex2linkeddata_spark.plans.query import bgp_match

    t = spark.createDataFrame(
        [
            ("w1", "type", "Work"), ("w2", "type", "Work"),
            ("w1", "doi", "10.1/x"),
            ("w1", "issued", "2020"), ("w2", "issued", "2021"),
        ],
        ["subj", "pred", "obj"],
    )
    got = {
        r.w: (r.d, r.y)
        for r in bgp_match(
            t,
            [("?w", "type", "Work")],
            optional=[[("?w", "doi", "?d")], [("?w", "issued", "?y")]],
        ).collect()
    }
    assert got == {"w1": ("10.1/x", "2020"), "w2": (None, "2021")}

    import pytest as _pytest

    with _pytest.raises(ValueError):
        bgp_match(
            t, [("?w", "type", "Work")], optional=[[("?a", "doi", "?d")]]
        )


def test_bpe_merge_roundtrip(spark, tmp_path):
    """save_merges/load_merges: the tokenizer artifact survives parquet
    roundtrip with rank order intact."""
    from psyndex2linkeddata_spark.operators.bpe import load_merges, save_merges

    merges = [("l", "o"), ("lo", "w"), ("e", "r</w>"), ("n", "e")]
    p = str(tmp_path / "merges.parquet")
    save_merges(spark, merges, p)
    assert load_merges(spark, p) == merges


def test_bgp_values_and_filter(spark):
    """VALUES restricts a variable to a literal list (isin predicate);
    FILTER applies a SQL boolean over bindings before OPTIONAL."""
    from psyndex2linkeddata_spark.plans.query import bgp_match

    t = spark.createDataFrame(
        [
            ("w1", "lang", "de"), ("w2", "lang", "en"), ("w3", "lang", "fr"),
            ("w1", "year", "2019"), ("w2", "year", "2021"), ("w3", "year", "2022"),
            ("w2", "doi", "10.1/b"),
        ],
        ["subj", "pred", "obj"],
    )
    got = sorted(
        tuple(r)
        for r in bgp_match(
            t,
            [("?w", "lang", "?l"), ("?w", "year", "?y")],
            values={"l": ["de", "en"]},
        ).collect()
    )
    assert got == [("w1", "de", "2019"), ("w2", "en", "2021")]

    got = {
        r.w: r.d
        for r in bgp_match(
            t,
            [("?w", "lang", "?l"), ("?w", "year", "?y")],
            filter="cast(y as int) >= 2021",
            optional=[[("?w", "doi", "?d")]],
        ).collect()
    }
    assert got == {"w2": "10.1/b", "w3": None}

    import pytest as _pytest

    with _pytest.raises(ValueError):
        bgp_match(t, [("?w", "lang", "?l")], values={"nope": ["x"]})


def test_sparql_select_frontend(spark):
    """sparql_select parses the restricted SELECT grammar down to
    bgp_match: IRIs, literals, property paths, OPTIONAL, FILTER,
    VALUES, DISTINCT, and * projection."""
    from psyndex2linkeddata_spark.plans.query import sparql_select

    t = spark.createDataFrame(
        [
            ("w1", "http://x/type", "Work"), ("w2", "http://x/type", "Work"),
            ("w1", "http://x/lang", "de"), ("w2", "http://x/lang", "en"),
            ("w1", "http://x/year", "2019"), ("w2", "http://x/year", "2021"),
            ("w2", "http://x/doi", "10.1/b"),
            ("a", "in", "b"), ("b", "in", "c"),
        ],
        ["subj", "pred", "obj"],
    )

    q = """
      SELECT ?w ?l WHERE {
        ?w <http://x/type> "Work" .
        ?w <http://x/lang> ?l .
        VALUES ?l { "de" "en" }
      }
    """
    got = sorted(tuple(r) for r in sparql_select(t, q).collect())
    assert got == [("w1", "de"), ("w2", "en")]

    q = """
      SELECT DISTINCT ?w ?d WHERE {
        ?w <http://x/year> ?y .
        FILTER(cast(?y as int) >= 2020)
        OPTIONAL { ?w <http://x/doi> ?d }
      }
    """
    got = [tuple(r) for r in sparql_select(t, q).collect()]
    assert got == [("w2", "10.1/b")]

    # property path with a bare-word predicate, star projection
    got = sorted(
        tuple(r) for r in sparql_select(t, "SELECT * WHERE { ?x in+ ?y }").collect()
    )
    assert got == [("a", "b"), ("a", "c"), ("b", "c")]

    import pytest as _pytest

    for bad in [
        "ASK { ?s ?p ?o }",
        "SELECT ?x WHERE { ?x <p> ?y",
        "SELECT WHERE { ?x <p> ?y }",
    ]:
        with _pytest.raises((ValueError, IndexError)):
            sparql_select(t, bad)


def test_pagerank_dangling_redistribution(spark):
    """redistribute_dangling=True vs an independent integer replay of
    the full stochastic variant; mass is conserved up to floor loss
    (strictly more total rank than the decaying variant)."""
    edges = [("a", "b"), ("b", "c"), ("c", "d"), ("d", "a"), ("a", "e")]
    # e is dangling
    from psyndex2linkeddata_spark.operators.graph import pagerank

    d = spark.createDataFrame(edges, ["src", "dst"])
    got = {
        r.node: r.rank_scaled
        for r in pagerank(d, n_iter=8, redistribute_dangling=True).collect()
    }

    scale, damp = 10**9, 85
    nodes = sorted({x for e in edges for x in e})
    n = len(nodes)
    out: dict[str, list[str]] = {}
    for s, t in edges:
        out.setdefault(s, []).append(t)
    base = (scale * (100 - damp)) // 100 // n
    r = {v: scale // n for v in nodes}
    for _ in range(8):
        s = {v: 0 for v in nodes}
        for v, ts in out.items():
            c = r[v] // len(ts)
            for t in ts:
                s[t] += c
        dsum = sum(r[v] for v in nodes if v not in out)
        share = (damp * dsum) // 100 // n
        r = {v: base + share + (damp * s[v]) // 100 for v in nodes}

    assert got == r
    decay = {
        x.node: x.rank_scaled for x in pagerank(d, n_iter=8).collect()
    }
    assert sum(got.values()) > sum(decay.values())


def test_pack_sequences_with_bpe_tokens(spark):
    """BPE-encode → pack_sequences(tokens_col=...): every non-final
    sequence per shard is exactly seq_len subword tokens and the total
    token count is conserved (nothing padded or dropped)."""
    rows = [(i, "the lower new wide low newest " * 6) for i in range(8)]
    d = spark.createDataFrame(rows, ["doc_id", "text"])

    from psyndex2linkeddata_spark.operators.bpe import (
        bpe_encode,
        bpe_word_counts,
        train_bpe,
    )
    from psyndex2linkeddata_spark.operators.chunking import pack_sequences

    merges = train_bpe(bpe_word_counts(d), n_merges=40)
    enc = bpe_encode(d, merges)
    total = enc.select(F.sum(F.size("bpe_tokens"))).collect()[0][0]

    packed = pack_sequences(
        enc, seq_len=16, n_shards=2, tokens_col="bpe_tokens"
    ).collect()
    assert sum(r.n_tokens for r in packed) == total
    # all but each shard's final sequence carry exactly seq_len tokens
    import collections

    last = {
        s: max(r.seq_id for r in packed if r.shard == s)
        for s in {r.shard for r in packed}
    }
    for r in packed:
        if r.seq_id != last[r.shard]:
            assert r.n_tokens == 16, (r.shard, r.seq_id, r.n_tokens)
    # subword stream reassembles into words at </w> boundaries
    joined = " ".join(r.seq_text for r in sorted(packed, key=lambda r: (r.shard, r.seq_id)))
    assert "</w>" in joined


def test_graph_stats(spark):
    """pred_stats exact counts and characteristic_sets grouping on a
    hand-built graph with two entity shapes."""
    from psyndex2linkeddata_spark.operators.graph import (
        characteristic_sets,
        pred_stats,
    )

    t = spark.createDataFrame(
        [
            ("e1", "type", "Work"), ("e1", "lang", "de"),
            ("e2", "type", "Work"), ("e2", "lang", "en"),
            ("e3", "type", "Work"), ("e3", "lang", "de"), ("e3", "doi", "x"),
            ("e3", "lang", "de"),  # duplicate triple: counted, set unchanged
        ],
        ["subj", "pred", "obj"],
    )
    ps = {r.pred: (r.n_triples, r.n_subj, r.n_obj) for r in pred_stats(t).collect()}
    assert ps == {"type": (3, 3, 1), "lang": (4, 3, 2), "doi": (1, 1, 1)}

    cs = {r.pred_set: r.n_subjects for r in characteristic_sets(t).collect()}
    assert cs == {"lang,type": 2, "doi,lang,type": 1}


def test_hits_vs_pure_python_fixed_point(spark):
    """hits vs an independent integer replay (l1-normalized half-steps,
    floor division); the hub pointing at everything tops hub_scaled, the
    page everyone cites tops auth_scaled."""
    edges = [
        ("h", "p1"), ("h", "p2"), ("h", "p3"),   # h links everywhere
        ("u1", "p1"), ("u2", "p1"),              # p1 widely cited
        ("p2", "p3"),
    ]
    from psyndex2linkeddata_spark.operators.graph import hits

    d = spark.createDataFrame(edges, ["src", "dst"])
    got = {
        r.node: (r.hub_scaled, r.auth_scaled)
        for r in hits(d, n_iter=6).collect()
    }

    scale = 10**9
    nodes = sorted({x for e in edges for x in e})
    n = len(nodes)
    out: dict[str, list[str]] = {}
    inn: dict[str, list[str]] = {}
    for s, t in edges:
        out.setdefault(s, []).append(t)
        inn.setdefault(t, []).append(s)

    def norm(v):
        tot = sum(v.values())
        if not tot:
            return v
        return {k: x * scale // tot for k, x in v.items()}

    hub = {v: scale // n for v in nodes}
    auth = {v: 0 for v in nodes}
    for _ in range(6):
        auth = norm({v: sum(hub[u] for u in inn.get(v, [])) for v in nodes})
        hub = norm({v: sum(auth[t] for t in out.get(v, [])) for v in nodes})

    assert got == {v: (hub[v], auth[v]) for v in nodes}
    assert max(hub, key=hub.get) == "h"
    assert max(auth, key=auth.get) == "p1"


def test_sparql_filter_string_literal_and_parens(spark):
    """FILTER bodies survive retokenization: nested function calls,
    double-quoted string literals (Spark SQL string literals), and
    variable substitution inside parens."""
    from psyndex2linkeddata_spark.plans.query import sparql_select

    t = spark.createDataFrame(
        [("w1", "lang", "de"), ("w2", "lang", "en"), ("w3", "lang", "deu")],
        ["subj", "pred", "obj"],
    )
    q = '''SELECT ?w WHERE {
        ?w <lang> ?l .
        FILTER(substr(concat(?l, "x"), 1, 2) = "de" and length(?l) <= 2)
    }'''
    got = [r.w for r in sparql_select(t, q).collect()]
    assert got == ["w1"]


def test_link_affiliation_deterministic_and_broadcast(spark):
    """link_affiliation: (a) the semantics pinned in miniature —
    contiguous phrase beats scattered containment, longer name beats
    shorter, in-country preferred, no-match stays null; (b) the result
    is IDENTICAL across input partitionings (the ranking has a total
    order, so no partition-order dependence); (c) the authority side is
    broadcast in the physical plan (dimension-side build, no shuffle of
    the mention table for candidate generation)."""
    from pyspark.sql import functions as F

    from psyndex2linkeddata_spark.operators.linking import link_affiliation

    auth = spark.createDataFrame(
        [
            ("University of Luxembourg", "UL", None),
            ("Laboratoire National de Santé", "LNS", None),
            ("Luxembourg Institute of Health", "LIH", None),
            ("Ministry of Health", "MH_DE", "GERMANY"),
            ("Ministry of Health", "MH_LU", "LUXEMBOURG"),
        ],
        ["name", "rid", "country"],
    )
    mentions = spark.createDataFrame(
        [
            (i, pat, land)
            for i in range(300)
            for pat, land in [
                (f"University of Luxembourg; Dept {i}; Institute for Health", "LUXEMBOURG"),
                (f"Lab {i}, Laboratoire National de Santé, University of Luxembourg", None),
                (f"Unrelated Clinic {i}", "FRANCE"),
                ("Ministry of Health", "GERMANY"),
            ]
        ],
        ["i", "aff", "land"],
    )

    def run(df):
        out = link_affiliation(
            df, auth, "aff", "name", ["rid"],
            mention_country_col="land", auth_country_col="country",
        )
        return sorted((r.i, r.aff, r.rid) for r in out.collect())

    r1 = run(mentions.repartition(1))
    r16 = run(mentions.repartition(16, "land"))
    assert r1 == r16
    by_aff = {a.split(";")[0].split(",")[0]: rid for _i, a, rid in r1}
    assert by_aff["University of Luxembourg"] == "UL"      # contiguous beats LIH scatter
    assert by_aff["Lab 0"] == "LNS"                         # longer contiguous wins
    assert by_aff["Unrelated Clinic 0"] is None
    assert by_aff["Ministry of Health"] == "MH_DE"          # in-country

    plan = (
        link_affiliation(
            mentions, auth, "aff", "name", ["rid"],
            mention_country_col="land", auth_country_col="country",
        )
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "BroadcastHashJoin" in plan
