"""SPARQL-style basic-graph-pattern matching over a triples DataFrame —
the query surface for the KG the pipeline materializes (reference
consumers query the emitted Turtle with SPARQL; here the same BGP shape
compiles to declarative self-joins Catalyst can optimize).

A pattern is a (s, p, o) tuple of terms; a term starting with ``?`` is a
variable, anything else is a constant matched verbatim against the
subj/pred/obj columns. Each pattern compiles to one filtered projection
of the triples table; shared variables between patterns become inner
equi-joins. Catalyst then does the real query planning: constant-pred
filters push into the scan, join order is cost-reordered, and small
filtered patterns broadcast under AQE — exactly the classic
"SPARQL-on-SQL" translation (cf. Spark SQL's own join reordering), with
no interpreter in the data path.

Scale: one self-join per additional pattern, each an equi-join on
variable columns. A pred-bound pattern over a pred-partitioned triple
table prunes to one partition; hub subjects (a work with thousands of
triples) are plain join skew, handled by AQE skew splitting.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

__all__ = ["bgp_match", "edge_closure", "path_closure", "sparql_select"]

_POS = ("subj", "pred", "obj")


def _is_var(term: str) -> bool:
    return isinstance(term, str) and term.startswith("?")


def path_closure(
    triples: DataFrame,
    pred: str,
    max_iter: int = 20,
) -> DataFrame:
    """Transitive closure of one predicate — the SPARQL ``pred+``
    property path — as (subj, obj) distinct pairs reachable in ≥ 1 hop.

    Semi-naive doubling iteration: each round extends only the previous
    round's NEW pairs, joined against the full closure-so-far (both
    directions), and anti-joins out pairs already known — work per
    round stays proportional to the frontier, and the reachable path
    length at least doubles per round, so rounds are O(log diameter)
    (the classic "smart"/logarithmic transitive-closure evaluation)
    instead of O(diameter). Lineage is truncated per round with lazy
    localCheckpoint exactly like operators/components.py. Hierarchies
    this is used for (genre broader-trees, org containment, geo
    containment) have single-digit depth, where the win is mostly
    fewer scheduled Spark jobs; on deep graphs it is asymptotic. A graph
    that `max_iter` rounds do not close raises ValueError
    (:func:`edge_closure`).
    """
    e = (
        triples.where(F.col("pred") == F.lit(pred))
        .select("subj", "obj")
        .where(F.col("subj").isNotNull() & F.col("obj").isNotNull())
    )
    # no .distinct() here — edge_closure dedups the edge set itself, and
    # two adjacent distincts would plan two back-to-back shuffles
    return edge_closure(e, max_iter=max_iter)


def edge_closure(edges: DataFrame, max_iter: int = 20) -> DataFrame:
    """Transitive closure of an arbitrary ``(subj, obj)`` edge DataFrame —
    the semi-naive kernel behind :func:`path_closure`, exposed for callers
    whose edge set is not a single predicate (e.g. plans/skos.py, where
    the hierarchy is ``skos:broader`` unioned with inverted
    ``skos:narrower``).

    Doubling rounds: round r covers (at least) all pairs within 2^r
    hops. A graph deeper than ~2^max_iter hops raises ValueError rather
    than return a truncated closure: SPARQL ``pred+`` and the Skosify
    related-vs-hierarchy repair both promise the full closure, so an
    under-closed result must not pass for one. Convergence (an empty
    frontier) implies the exact full closure: if (a,b),(b,c) were known
    but (a,c) missing, the round in which the later of the two halves
    was new would have derived (a,c) from a frontier×closure or
    closure×frontier join.
    """
    e = edges.select("subj", "obj").distinct().localCheckpoint()
    closure = e
    frontier = e
    converged = False
    for rnd in range(max_iter):
        # explicit renames (not DataFrame aliases): lazy localCheckpoint
        # rewrites plan constraints, and self-join alias attributes can
        # fall out of the rewritten output (key-not-found in
        # rewriteStatsAndConstraints on Spark 4.1)
        f = frontier.select(
            F.col("subj").alias("_ps"), F.col("obj").alias("_pm")
        ).join(
            closure.select(F.col("subj").alias("_pm"), F.col("obj").alias("_po")),
            "_pm",
        )
        if rnd == 0:
            # frontier == closure == e: the two doubling terms coincide
            ext = f
        else:
            b = closure.select(
                F.col("subj").alias("_ps"), F.col("obj").alias("_pm")
            ).join(
                frontier.select(
                    F.col("subj").alias("_pm"), F.col("obj").alias("_po")
                ),
                "_pm",
            )
            ext = f.union(b)
        ext = ext.select(
            F.col("_ps").alias("subj"), F.col("_po").alias("obj")
        ).distinct()
        new = ext.join(closure, ["subj", "obj"], "left_anti").localCheckpoint(
            eager=False
        )
        if new.limit(1).count() == 0:
            converged = True
            break
        closure = closure.union(new).localCheckpoint(eager=False)
        frontier = new
    if not converged:
        raise ValueError(
            f"edge_closure did not converge within max_iter={max_iter} "
            "doubling rounds; raise max_iter (graph deeper than the bound)"
        )
    return closure


def bgp_match(
    triples: DataFrame,
    patterns: list[tuple[str, str, str]],
    select: list[str] | None = None,
    distinct: bool = False,
    optional: list[list[tuple[str, str, str]]] | None = None,
    values: dict[str, list[str]] | None = None,
    filter: str | None = None,
    anti: list[list[tuple[str, str, str]]] | None = None,
    semi: list[list[tuple[str, str, str]]] | None = None,
    capture_meta: bool = False,
) -> DataFrame:
    """Match a conjunction of triple patterns; returns one column per
    variable (name without the ``?``), optionally projected to `select`
    (order respected) and de-duplicated with `distinct`.

    `optional` is a list of pattern GROUPS, each matched like SPARQL
    OPTIONAL {...}: the group joins left-outer on the variables it
    shares with the required patterns, so non-matching solutions keep
    their bindings with the group's exclusive variables null. Each group
    must share at least one variable with the required part (an
    unanchored OPTIONAL is a cross product — rejected).

    `values` is SPARQL VALUES: {var: [allowed, ...]} restricts a bound
    variable to an explicit list — compiled to an `isin` filter (a
    broadcast-friendly literal predicate, never a join).

    `filter` is SPARQL FILTER as a Spark SQL boolean expression over
    the variable columns (e.g. ``"lang = 'de' or nc > 100"``), applied
    AFTER the OPTIONAL left joins — SPARQL group-level filters evaluate
    over the whole group, so a filter may reference OPTIONAL-bound
    variables (which are null for non-matching solutions, e.g. the
    ``!bound`` idiom spelled as ``x IS NULL``); Catalyst pushes filters
    that touch only required-side columns below the left joins anyway,
    so the placement costs nothing.

    `anti` / `semi` are FILTER NOT EXISTS / FILTER EXISTS pattern
    groups: each compiles to a left_anti / left_semi join on the
    variables the group shares with the solution so far (the standard
    SPARQL-to-SQL translation; an uncorrelated group is rejected).
    Like `filter`, they apply after the OPTIONAL joins (group-level
    placement) — an anti/semi join never multiplies rows, so solution
    multiplicity is preserved exactly as SPARQL requires.

    `capture_meta` additionally emits, for every variable at its FIRST
    binding site, three metadata columns ``<var>__is_iri``,
    ``<var>__lang``, ``<var>__dtype`` — taken from the triple row when
    the variable binds in object position, constants (True, null, null)
    for subject/predicate positions and property-path endpoints (always
    resources). CONSTRUCT needs these to re-emit well-formed triples;
    plain SELECT callers leave it off and pay nothing."""
    if not patterns:
        raise ValueError("empty basic graph pattern")

    result: DataFrame | None = None
    bound: list[str] = []  # vars bound so far, in first-appearance order
    for pi, pat in enumerate(patterns):
        if len(pat) != 3:
            raise ValueError(f"pattern must be (s, p, o): {pat!r}")
        s_term, p_term, o_term = pat
        if not _is_var(p_term) and p_term.endswith("+") and len(p_term) > 1:
            # property path pred+ : the pattern's relation is the
            # transitive closure of that predicate
            df = path_closure(triples, p_term[:-1])
            positions = [("subj", s_term), ("obj", o_term)]
            is_closure = True
        else:
            df = triples
            positions = list(zip(_POS, pat))
            is_closure = False
        seen: dict[str, str] = {}  # var -> first position column
        cols = []
        for pos, term in positions:
            if _is_var(term):
                name = term[1:]
                if not name:
                    raise ValueError(f"bare '?' in pattern {pat!r}")
                if name in seen:  # repeated var inside one pattern
                    df = df.where(F.col(pos) == F.col(seen[name]))
                else:
                    seen[name] = pos
                    cols.append(F.col(pos).alias(name))
                    if capture_meta and name not in bound:
                        if pos == "obj" and not is_closure:
                            cols.append(F.col("obj_is_iri").alias(f"{name}__is_iri"))
                            cols.append(F.col("lang").alias(f"{name}__lang"))
                            cols.append(F.col("dtype").alias(f"{name}__dtype"))
                        else:  # subj/pred/path endpoints are resources
                            cols.append(F.lit(True).alias(f"{name}__is_iri"))
                            cols.append(F.lit(None).cast("string").alias(f"{name}__lang"))
                            cols.append(F.lit(None).cast("string").alias(f"{name}__dtype"))
            else:
                df = df.where(F.col(pos) == F.lit(term))
        # an all-constant pattern is an existence check: one marker row
        # if it matches, zero rows (annihilating the joins) otherwise
        df = df.select(*cols) if cols else df.select(F.lit(1).alias(f"_m{pi}")).limit(1)

        if result is None:
            result, bound = df, list(seen)
        else:
            on = [v for v in seen if v in bound]
            if on:
                result = result.join(df, on=on, how="inner")
            else:  # disconnected pattern group: cross product (rare, valid)
                result = result.crossJoin(df)
            bound += [v for v in seen if v not in bound]
    assert result is not None

    for var, allowed in (values or {}).items():
        if var not in bound:
            raise ValueError(f"VALUES variable not bound by the patterns: ?{var}")
        result = result.where(F.col(var).isin(list(allowed)))

    _meta_suf = ("__is_iri", "__lang", "__dtype")

    def _is_meta(c: str) -> bool:
        return capture_meta and c.endswith(_meta_suf)

    for group in optional or []:
        odf = bgp_match(triples, group, capture_meta=capture_meta)
        on = [v for v in odf.columns if v in bound and not _is_meta(v)]
        if not on:
            raise ValueError(
                f"OPTIONAL group shares no variable with the required patterns: {group!r}"
            )
        if capture_meta:  # shared vars already carry first-binding meta
            dup = [
                f"{v}__{suf}"
                for v in on
                for suf in ("is_iri", "lang", "dtype")
                if f"{v}__{suf}" in odf.columns
            ]
            odf = odf.drop(*dup)
        result = result.join(odf, on=on, how="left")
        bound += [v for v in odf.columns if v not in bound and not _is_meta(v)]

    if filter is not None:
        result = result.where(F.expr(filter))

    for how, groups in (("left_anti", anti), ("left_semi", semi)):
        for group in groups or []:
            # a group is a pattern list, or a dict {patterns, filter} when
            # the (NOT) EXISTS body carries its own FILTER — possibly
            # CORRELATED (referencing outer variables), the idiom SPARQL
            # uses for "another node with the same value"
            # (e.g. FILTER(?hub != ?hub2) inside FILTER EXISTS)
            if isinstance(group, dict):
                gpats, gfilt = group["patterns"], group.get("filter")
            else:
                gpats, gfilt = group, None
            gdf = bgp_match(triples, gpats)
            on = [v for v in gdf.columns if v in bound]
            if not on:
                raise ValueError(
                    f"(NOT) EXISTS group shares no variable with the query: {group!r}"
                )
            if gfilt is None:
                result = result.join(gdf.select(*on), on=on, how=how)
            else:
                import re as _re

                inner_only = set(gdf.columns) - set(bound)

                def _qual(m, _inner=inner_only):
                    name = m.group(1)
                    side = "_R" if name in _inner else "_L"
                    return f"{side}.`{name}`"

                cond_sql = " and ".join(
                    [f"_L.`{v}` = _R.`{v}`" for v in on]
                    + ["(" + _re.sub(r"`(\w+)`", _qual, gfilt) + ")"]
                )
                result = result.alias("_L").join(
                    gdf.alias("_R"), F.expr(cond_sql), how
                )

    markers = [c for c in result.columns if c.startswith("_m")]
    if markers:
        result = result.drop(*markers)
    if select is not None:
        unknown = [v for v in select if v not in bound]
        if unknown:
            raise ValueError(f"unbound select variables: {unknown}")
        result = result.select(*select)
    return result.distinct() if distinct else result



def sparql_select(triples: DataFrame, query: str) -> DataFrame:
    """SPARQL SELECT text → DataFrame. Delegates to plans.sparql, which
    speaks the reference's own query dialect (PREFIX/qnames, ``a``,
    ``;``/``,`` lists, sequence property paths, FILTER (NOT) EXISTS,
    aggregates — see that module's docstring); the restricted grammar
    this function originally accepted is a subset, so existing callers
    are unchanged."""
    from psyndex2linkeddata_spark.plans.sparql import (
        sparql_select as _impl,
    )

    return _impl(triples, query)
