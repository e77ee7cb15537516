"""Compile the parsed SPARQL dialect to portable ANSI SQL over a
``triples(subj, pred, obj, obj_is_iri, lang, dtype)`` table.

This is the ORACLE side of the SPARQL surface: the same ParsedQuery the
Spark front-end (plans.sparql) executes is rendered as plain SQL —
self-joins for patterns, LEFT JOIN subqueries for OPTIONAL, correlated
NOT EXISTS / EXISTS for the FILTER groups, recursive CTEs for ``pred+``
property paths — and DuckDB executes it against the identical triple
rows. Agreement between the two engines gates the whole compilation
pipeline (tests/test_sparql_reference.py runs every .rq the reference
ships through both), the same cross-engine pattern the driver's
CORRECTNESS gate uses for every other operator.

The FILTER strings plans.sparql produces are engine-portable Spark SQL;
the only dialect seams are backtick quoting (→ double quotes) and
``regexp_like`` (→ DuckDB ``regexp_matches`` — both are partial-match).
Only the DuckDB reference checks use it, so it lives with the tests.
"""

from __future__ import annotations

import re

from psyndex2linkeddata_spark.plans.sparql import (
    ParsedQuery,
    _Group,
    _flatten,
    parse_sparql,
)


def _portable_filter(f: str) -> str:
    f = f.replace("`", '"')
    f = re.sub(r"\bregexp_like\b", "regexp_matches", f)
    return f


class _SqlGen:
    def __init__(self, table: str = "triples"):
        self.table = table
        self.ctes: dict[str, str] = {}  # closure CTEs, keyed by cte name
        self.n_cte = 0

    def closure_cte(self, pred: str) -> str:
        """Recursive CTE for the transitive closure of one predicate
        (reused when the same predicate is closed twice)."""
        for name, (p,) in self.ctes.items():
            if p == pred:
                return name
        self.n_cte += 1
        name = f"closure_{self.n_cte}"
        self.ctes[name] = (pred,)
        return name

    def render_ctes(self) -> str:
        if not self.ctes:
            return ""
        parts = []
        for name, (pred,) in self.ctes.items():
            p = pred.replace("'", "''")
            parts.append(
                f"{name}(subj, obj) as (\n"
                f"  select subj, obj from {self.table} where pred = '{p}'\n"
                f"  union\n"
                f"  select c.subj, t.obj from {name} c\n"
                f"  join {self.table} t on t.subj = c.obj and t.pred = '{p}'\n"
                f")"
            )
        return "with recursive " + ",\n".join(parts) + "\n"

    def bgp_sql(
        self,
        patterns: list[tuple[str, str, str]],
        alias_prefix: str,
        outer_binds: dict[str, str] | None = None,
    ) -> tuple[str, str, dict[str, str]]:
        """Render a conjunction of (s, p, o) patterns.

        Returns (from_clause, where_clause, binds) where binds maps each
        variable to its first-binding SQL column. `outer_binds` holds
        correlated outer columns for EXISTS subqueries — a shared
        variable becomes an equality against the outer column instead of
        a fresh binding."""
        froms: list[str] = []
        wheres: list[str] = []
        binds: dict[str, str] = {}
        for i, (s, p, o) in enumerate(patterns):
            t = f"{alias_prefix}{i}"
            closure = (not p.startswith("?")) and p.endswith("+") and len(p) > 1
            if closure:
                cte = self.closure_cte(p[:-1])
                froms.append(f"{cte} {t}")
                positions = [("subj", s), ("obj", o)]
            else:
                froms.append(f"{self.table} {t}")
                positions = list(zip(("subj", "pred", "obj"), (s, p, o)))
            for pos, term in positions:
                col = f"{t}.{pos}"
                if term.startswith("?"):
                    v = term[1:]
                    if v in binds:
                        wheres.append(f"{col} = {binds[v]}")
                    elif outer_binds and v in outer_binds:
                        wheres.append(f"{col} = {outer_binds[v]}")
                    else:
                        binds[v] = col
                        if pos == "obj" and not closure:
                            # lang(?v) in FILTERs reads the literal's tag
                            binds[f"{v}__lang"] = f"{t}.lang"
                else:
                    lit = term.replace("'", "''")
                    wheres.append(f"{col} = '{lit}'")
        # explicit CROSS JOIN (not a comma list): a later LEFT JOIN's ON
        # clause must be able to reference ANY pattern table, and comma
        # joins bind tighter than JOIN in the grammar (DuckDB rejects the
        # comma form as "non-inner join on correlated columns")
        return " cross join ".join(froms), " and ".join(wheres) or "true", binds


def to_sql(query: str | ParsedQuery, table: str = "triples") -> str:
    """SPARQL text (or ParsedQuery) → one ANSI-SQL SELECT statement
    DuckDB can run over `table`. Supports the same dialect subset as
    plans.sparql: patterns, sequence paths (pre-desugared by the shared
    parser), pred+ closures, OPTIONAL, FILTER (expr | NOT EXISTS |
    EXISTS), VALUES, DISTINCT, COUNT aggregates, GROUP/ORDER/LIMIT.
    CONSTRUCT is rendered as the solution SELECT of its WHERE group
    (template instantiation is driver-side trivial and tested on the
    Spark side against the pattern solutions)."""
    q = parse_sparql(query) if isinstance(query, str) else query
    gen = _SqlGen(table)
    counter = [0]
    g: _Group = q.where
    pats = _flatten(g.patterns, counter)
    if q.form == "CONSTRUCT" and not pats:
        pats = _flatten(q.template, counter)
    from_c, where_c, binds = gen.bgp_sql(pats, "t")

    join_sql = ""
    for oi, og in enumerate(g.optionals):
        opats = _flatten(og.patterns, counter)
        ofrom, owhere, obinds = gen.bgp_sql(opats, f"o{oi}_")
        shared = [v for v in obinds if v in binds]
        if not shared:
            raise ValueError("OPTIONAL group shares no variable")
        sel = ", ".join(f"{c} as {v}" for v, c in obinds.items())
        on = " and ".join(f"opt{oi}.{v} = {binds[v]}" for v in shared)
        join_sql += (
            f"\nleft join (select {sel} from {ofrom} where {owhere}) opt{oi}"
            f" on {on}"
        )
        for v in obinds:
            if v not in binds:
                binds[v] = f"opt{oi}.{v}"

    conds = [where_c] if where_c != "true" else []
    for var, allowed in g.values.items():
        vals = ", ".join("'" + a.replace("'", "''") + "'" for a in allowed)
        conds.append(f"{binds[var]} in ({vals})")
    for f in g.filters:
        conds.append("(" + _substitute_vars(_portable_filter(f), binds) + ")")
    for kind, groups in (("not exists", g.anti), ("exists", g.semi)):
        for gi, gg in enumerate(groups):
            gpats = _flatten(gg.patterns, counter)
            gfrom, gwhere, gbinds = gen.bgp_sql(
                gpats, f"x{kind[0]}{gi}_", outer_binds=binds
            )
            if gg.filters:
                # inner FILTER, possibly correlated: inner-bound vars
                # resolve to the subquery's columns, outer vars to the
                # enclosing query's (standard correlated EXISTS)
                inner_f = " and ".join(
                    "("
                    + _substitute_vars(_portable_filter(f), {**binds, **gbinds})
                    + ")"
                    for f in gg.filters
                )
                gwhere = f"{gwhere} and {inner_f}"
            conds.append(f"{kind} (select 1 from {gfrom} where {gwhere})")

    where_sql = " and ".join(conds) or "true"

    # projection
    proj_aliases: set[str] = set()
    if q.form == "CONSTRUCT":
        proj_vars = sorted(
            v for v in binds if not v.startswith(("_path", "_seq")) and "__" not in v
        )
        sel_sql = ", ".join(f"{binds[v]} as {v}" for v in proj_vars)
        head = f"select {sel_sql}"
        proj_aliases = set(proj_vars)
        tail = ""
    else:
        aggs = [s for s in q.select if s != "*" and s[0] == "agg"]
        if aggs:
            plain = [s[1] for s in q.select if s != "*" and s[0] == "var"]
            # unbound group keys (e.g. an aggregate alias — GROUP BY runs
            # before SELECT in SPARQL) are constant and change no groups
            keys = [k for k in (q.group_by or plain) if k in binds]
            parts = [f"{binds[k]} as {k}" for k in keys]
            for _, fn, is_distinct, arg, alias in aggs:
                if arg is None:
                    e = "count(*)"
                elif is_distinct:
                    e = f"count(distinct {binds[arg]})"
                else:
                    e = f"count({binds[arg]})"
                parts.append(f"{e} as {alias}")
            head = (
                f"select {'distinct ' if q.distinct else ''}" + ", ".join(parts)
            )
            proj_aliases = set(keys) | {a[4] for a in aggs}
            tail = (
                " group by " + ", ".join(binds[k] for k in keys) if keys else ""
            )
        else:
            if "*" in q.select:
                proj = sorted(
                    v
                    for v in binds
                    if not v.startswith(("_path", "_seq")) and "__" not in v
                )
            else:
                proj = [s[1] for s in q.select]
            # never-bound SELECT vars project as NULL (SPARQL unbound)
            sel_sql = ", ".join(
                f"{binds[v]} as {v}" if v in binds else f"cast(NULL as varchar) as {v}"
                for v in proj
            )
            head = f"select {'distinct ' if q.distinct else ''}{sel_sql}"
            proj_aliases = set(proj)
            tail = ""
    if q.order_by:
        tail += " order by " + ", ".join(
            # aggregate aliases (ORDER BY ?count) exist only in the output
            f"{v if v in proj_aliases else binds[v]} {'asc' if asc else 'desc'}"
            for v, asc in q.order_by
        )
    if q.limit is not None:
        tail += f" limit {q.limit}"
    if q.offset:
        tail += f" offset {q.offset}"

    return (
        gen.render_ctes()
        + f"{head}\nfrom {from_c}{join_sql}\nwhere {where_sql}{tail}"
    )


def _substitute_vars(f: str, binds: dict[str, str]) -> str:
    """FILTER strings quote variables as "name" (after backtick
    translation); rewrite each to its binding column."""
    def repl(m):
        v = m.group(1)
        return binds.get(v, f'"{v}"')
    return re.sub(r'"([A-Za-z_]\w*)"', repl, f)
