"""Set-semantics operators over the triples table.

- last_wins: the reference's `graph.set` (remove (s,p,*) then add —
  /root/reference/modules/contributions.py:392, identifiers.py:89, …)
  re-expressed as a window: keep the highest emit_order per (subj,pred).
- clean_genres: A2 genre-hierarchy dedup (publication_types.py:481-631)
  as anti-joins over the emitted genreForm edges — needs the per-work
  genre SET, so it runs post-emit.
- dedup_clean_genres: the set-semantics dedup and both A2 rules in one
  subject-partitioned stage (one exchange, a window over subj) — the
  pipeline's form of dropDuplicates + clean_genres, on every
  build_triples route.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

from psyndex2linkeddata_spark import namespaces as NS
from psyndex2linkeddata_spark.schema import TRIPLE_COLS

GENRE_PRED = NS.BF + "genreForm"
_THESIS_GENRES = [
    NS.GENRES + g
    for g in (
        "ThesisDoctoral",
        "CompilationThesisDoctoral",
        "ThesisHabilitation",
        "CompilationThesisHabilitation",
    )
]
_SCHOLARLY = [NS.GENRES + "ScholarlyPaper", NS.GENRES + "ScholarlyWork"]


def last_wins(triples: DataFrame, order_col: str = "emit_order") -> DataFrame:
    """(subj, pred) upsert: latest emit wins (graph.set semantics)."""
    w = Window.partitionBy("subj", "pred").orderBy(F.col(order_col).desc())
    return (
        triples.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .drop("_rn")
    )


def clean_genres(triples: DataFrame, genre_ancestors: DataFrame | None = None) -> DataFrame:
    """A2: (1) a work with a thesis genre loses ScholarlyPaper/
    ScholarlyWork; (2) a work never keeps both a genre and its ancestor
    (broadcast closure table genre_ancestors(genre_uri, ancestor_uri))."""
    genres = triples.where(F.col("pred") == GENRE_PRED)
    thesis_works = genres.where(F.col("obj").isin(_THESIS_GENRES)).select("subj").distinct()
    drop1 = (
        genres.where(F.col("obj").isin(_SCHOLARLY))
        .join(F.broadcast(thesis_works), "subj")
        .select("subj", "pred", "obj")
    )
    drops = drop1
    if genre_ancestors is not None:
        anc = F.broadcast(
            genre_ancestors.select(
                F.col("genre_uri").alias("_g"), F.col("ancestor_uri").alias("_a")
            )
        )
        g2 = genres.select(F.col("subj").alias("_s2"), F.col("obj").alias("_o2"))
        drop2 = (
            genres.join(anc, genres["obj"] == F.col("_a"))
            .join(
                g2,
                (F.col("subj") == F.col("_s2"))
                & (F.col("_g") == F.col("_o2"))
                & (F.col("obj") != F.col("_o2")),
            )
            .select("subj", "pred", "obj")
        )
        drops = drops.unionByName(drop2)
    return triples.join(drops.distinct(), ["subj", "pred", "obj"], "left_anti")


def genre_ancestor_map(concept_rows) -> dict[str, set[str]]:
    """auth_concepts rows (vocab, uri, ancestors) -> {genre uri: its
    ancestors}: the dict form of plans/enrich.genre_ancestor_closure.
    Rows that share a uri union their ancestors; NULL uris and NULL
    ancestor elements are left out, as they never match in its join."""
    out: dict[str, set[str]] = {}
    for r in concept_rows:
        if r["vocab"] == "genres" and r["uri"] is not None:
            anc = out.setdefault(r["uri"], set())
            anc.update(a for a in r["ancestors"] or () if a is not None)
    return out


def dedup_clean_genres(
    triples: DataFrame, genre_ancestors: dict[str, set[str]] | None = None
) -> DataFrame:
    """Set-semantics dedup plus A2 in one stage — the same set as
    clean_genres(clean_genres(triples.dropDuplicates()), closure), with
    closure = genre_ancestor_closure of the same vocab rows. Every
    plans/pipeline.build_triples route ends in it, with or without
    authorities; the emit kernel applies no A2 rule of its own.

    Both A2 rules read one subject's genre set only, so the stage
    exchanges once on subj: a window over subj collects each work's
    genreForm objects (a duplicate row adds nothing to the set), and
    dropDuplicates(TRIPLE_COLS) runs after the drop inside that
    partitioning (hash(subj) clusters every superset of subj, so no
    second exchange is planned). The exchange is the window's own, so an
    input already clustered on subj (a single partition, say) is not
    shuffled at all. A genreForm edge (s, o) is dropped when
    - rule 1: the set holds a thesis genre and o is ScholarlyPaper/
      ScholarlyWork;
    - rule 2 (only with `genre_ancestors`): another genre g of the set
      left by rule 1 has o among its ancestors (a literal uri ->
      ancestors map in the plan; the genres vocab is small).
    As with clean_genres' anti-join, the drop is keyed on (subj, pred,
    obj).

    Trade-off: the exchange runs ahead of any aggregate, so no map-side
    partial dedup runs and every raw row crosses it. At 2,000 generated
    pages distinct/raw is 0.945, and the hottest subject
    (genres/ResearchPaper) holds 1.3% of the raw rows."""
    is_genre = F.col("pred") == GENRE_PRED
    genres = F.col("_genres")
    thesis = F.exists(genres, lambda g: g.isin(_THESIS_GENRES))
    drop = thesis & F.col("obj").isin(_SCHOLARLY)
    anc_pairs = [
        (F.lit(uri), F.array(*[F.lit(a) for a in sorted(anc)]))
        for uri, anc in sorted((genre_ancestors or {}).items())
        if anc
    ]
    if anc_pairs:
        ancestors = F.create_map(*[c for pair in anc_pairs for c in pair])
        kept = F.when(
            thesis, F.array_except(genres, F.array(*[F.lit(g) for g in _SCHOLARLY]))
        ).otherwise(genres)
        drop = drop | F.exists(
            kept,
            lambda g: (g != F.col("obj"))
            & F.coalesce(
                F.array_contains(ancestors[g], F.col("obj")), F.lit(False)
            ),
        )
    return (
        triples.withColumn(
            "_genres",
            F.collect_set(F.when(is_genre, F.col("obj"))).over(
                Window.partitionBy("subj")
            ),
        )
        .where(~(is_genre & drop))
        .drop("_genres")
        .dropDuplicates(list(TRIPLE_COLS))
    )
