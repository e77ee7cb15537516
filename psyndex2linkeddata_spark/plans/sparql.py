"""SPARQL front-end speaking the reference's own query dialect.

The reference validates its KG with arq over the checked-in golden
(/root/reference/ttl-data/bibframe_records.ttl) using the queries in
/root/reference/testing/*.rq — PREFIX prologues + qnames, the ``a``
keyword, ``;`` predicate-object and ``,`` object lists, sequence
property paths (``pxp:hasInstanceBundle/bf:identifiedBy``,
chapters_without_book.rq:31), FILTER expressions with ``regex``/
``str``/``bound``, FILTER NOT EXISTS groups (works_without_genres.rq:
27-29) and one CONSTRUCT (get_full_work.rq). This module parses that
dialect and compiles it to plans.query.bgp_match — every construct
lands on declarative DataFrame joins Catalyst plans (self-joins for
patterns, left joins for OPTIONAL, left_anti/left_semi for (NOT)
EXISTS, native SQL expressions for FILTER), so there is no interpreter
in the data path and the same query scales with the triple table.

Dialect (beyond plans.query's restricted form):
  - ``PREFIX pfx: <iri>`` prologue; qname expansion everywhere a term
    or FILTER operand is allowed; ``a`` → rdf:type.
  - triple blocks with ``;`` (same subject) and ``,`` (same subject +
    predicate) lists.
  - sequence property paths ``p1/p2/…`` — desugared to chained
    patterns through fresh ``?_pathN`` variables (excluded from
    ``SELECT *``); a trailing ``+`` on a single step is the transitive
    closure (plans.query.path_closure).
  - ``FILTER (expr)`` with ``=, !=, <, <=, >, >=, &&, ||, !``,
    ``regex(str(?x), "pat"[, "i"])`` → Spark ``regexp_like``,
    ``str(?x)`` → the binding itself (terms are already strings),
    ``bound(?x)`` → ``x IS NOT NULL``.
  - ``FILTER NOT EXISTS { … }`` / ``FILTER EXISTS { … }`` →
    anti/semi pattern groups (left_anti / left_semi joins).
  - ``OPTIONAL { … }`` groups (may contain sequence paths).
  - ``VALUES ?var { … }``.
  - SELECT projections: ``?var``, ``*``, and ``(COUNT(DISTINCT? ?var|*)
    AS ?alias)``; GROUP BY ?var…; ORDER BY [ASC|DESC](?var)…; LIMIT /
    OFFSET.
  - ``CONSTRUCT { template } WHERE { … }``: template instantiated per
    solution into a triples-schema DataFrame (set semantics). Literal
    metadata (obj_is_iri / lang / dtype) is carried through bgp_match's
    capture_meta so re-emitted triples are well-formed. An EMPTY WHERE
    group (get_full_work.rq's DESCRIBE idiom — "gets all the triples
    associated with a specific work") reuses the template itself as the
    WHERE pattern; arq would return an empty graph for the literal
    query text, but the reference's stated intent is the description.

Result formatting for parity tests: `solutions_tsv` renders bindings
exactly like ``arq --results=TSV`` (IRIs ``<…>``, literals ``"…"`` with
``@lang`` / ``^^<dtype>``, blank nodes ``_:…``, unbound empty), so the
reference's checked-in .tsv files gate this front-end verbatim
(tests/test_sparql_reference.py).
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, functions as F

from psyndex2linkeddata_spark.plans.query import bgp_match
from psyndex2linkeddata_spark.schema import triples_schema

__all__ = [
    "parse_sparql",
    "sparql_select",
    "sparql_construct",
    "solutions_tsv",
]

RDF_TYPE = "http://www.w3.org/1999/02/22-rdf-syntax-ns#type"

_TOK = re.compile(
    r"""
      (?P<ws>\s+)
    | (?P<comment>\#[^\n]*)
    | (?P<iri><[^<>\s]*>)
    | (?P<var>\?[A-Za-z_]\w*)
    | (?P<str>"(?:[^"\\]|\\.)*")
    | (?P<num>[+-]?\d+(?:\.\d+)?)
    | (?P<word>[A-Za-z_][\w-]*:[\w.-]*|[A-Za-z_][\w.-]*)
    | (?P<punct>\^\^|&&|\|\||!=|<=|>=|[{}();,./+*=!<>])
    """,
    re.X,
)

def _lex(q: str) -> list[tuple[str, str]]:
    """SPARQL text → [(kind, value)]; comments stripped (a ``#`` inside
    an IRI or string is part of that token, never a comment)."""
    out: list[tuple[str, str]] = []
    i = 0
    while i < len(q):
        m = _TOK.match(q, i)
        if not m:
            raise ValueError(f"SPARQL lex error at: {q[i:i+40]!r}")
        i = m.end()
        kind = m.lastgroup
        if kind in ("ws", "comment"):
            continue
        val = m.group()
        if kind == "word":
            # a pname local part may contain dots but not END with one —
            # `pxc:MainWork.` is a term plus the statement terminator
            while val.endswith("."):
                val = val[:-1]
            out.append(("word", val))
            for _ in range(m.group().count(".") - val.count(".")):
                out.append(("punct", "."))
            continue
        out.append((kind, val))
    return out


# parsed term: (kind, value) with kind in var | iri | lit | word
Term = tuple[str, str]


@dataclass
class _Group:
    patterns: list[tuple[Term, list[list[Term]], Term]] = field(default_factory=list)
    optionals: list["_Group"] = field(default_factory=list)
    filters: list[str] = field(default_factory=list)
    anti: list["_Group"] = field(default_factory=list)
    semi: list["_Group"] = field(default_factory=list)
    values: dict[str, list[str]] = field(default_factory=dict)


@dataclass
class ParsedQuery:
    form: str  # SELECT | CONSTRUCT
    distinct: bool
    select: list  # ('var', name) | ('agg', fn, is_distinct, arg|None, alias) | '*'
    where: _Group
    template: list[tuple[Term, list[list[Term]], Term]] | None = None
    group_by: list[str] = field(default_factory=list)
    order_by: list[tuple[str, bool]] = field(default_factory=list)  # (var, asc)
    limit: int | None = None
    offset: int | None = None


class _Parser:
    def __init__(self, text: str, prefixes: dict[str, str] | None = None):
        self.toks = _lex(text)
        self.i = 0
        # seed prefixes mirror rdflib's graph-level namespace bindings
        # (prefixes bound while parsing the DATA document are available
        # to queries — the reference's sparql_queries.ipynb relies on
        # this); explicit PREFIX declarations in the prologue override.
        self.prefixes: dict[str, str] = dict(prefixes or {})
        self.n_fresh = 0

    # -- token helpers ----------------------------------------------------
    def peek(self, ahead: int = 0) -> tuple[str, str]:
        j = self.i + ahead
        return self.toks[j] if j < len(self.toks) else ("eof", "")

    def next(self) -> tuple[str, str]:
        t = self.peek()
        self.i += 1
        return t

    def expect(self, kind: str, value: str | None = None) -> str:
        k, v = self.next()
        if k != kind or (value is not None and v.upper() != value.upper()):
            raise ValueError(f"expected {value or kind}, got {v!r} (#{self.i-1})")
        return v

    def at_kw(self, kw: str) -> bool:
        k, v = self.peek()
        return k == "word" and v.upper() == kw

    # -- terms ------------------------------------------------------------
    def expand(self, pname: str) -> str:
        pfx, _, local = pname.partition(":")
        if pfx not in self.prefixes:
            raise ValueError(f"undeclared prefix {pfx!r} in {pname!r}")
        return self.prefixes[pfx] + local

    def term(self) -> Term:
        k, v = self.next()
        if k == "var":
            return ("var", v[1:])
        if k == "iri":
            return ("iri", v[1:-1])
        if k == "str":
            lit = re.sub(r"\\(.)", lambda m: {"n": "\n", "t": "\t", "r": "\r"}
                         .get(m.group(1), m.group(1)), v[1:-1])
            # optional @lang / ^^dtype — matched on the bare lexical form
            # (the triples table stores obj as the plain string)
            if self.peek() == ("punct", "^^"):
                self.next(); self.term()
            elif self.peek()[0] == "word" and self.peek()[1].startswith("@"):
                self.next()
            return ("lit", lit)
        if k == "num":
            return ("lit", v)
        if k == "word":
            if v == "a":
                return ("iri", RDF_TYPE)
            if ":" in v:
                return ("iri", self.expand(v))
            return ("word", v)  # bare constant (legacy restricted syntax)
        raise ValueError(f"expected a term, got {v!r}")

    def fresh(self) -> Term:
        self.n_fresh += 1
        return ("var", f"_path{self.n_fresh}")

    # -- prologue + query forms --------------------------------------------
    def parse(self) -> ParsedQuery:
        while self.at_kw("PREFIX"):
            self.next()
            k, v = self.next()
            if k != "word" or not v.endswith(":") and ":" not in v:
                raise ValueError(f"bad PREFIX name {v!r}")
            pfx = v[:-1] if v.endswith(":") else v.split(":")[0]
            self.prefixes[pfx] = self.expect("iri")[1:-1]
        if self.at_kw("SELECT"):
            return self.parse_select()
        if self.at_kw("CONSTRUCT"):
            return self.parse_construct()
        raise ValueError("query must be SELECT or CONSTRUCT")

    def parse_select(self) -> ParsedQuery:
        self.expect("word", "SELECT")
        distinct = False
        if self.at_kw("DISTINCT"):
            self.next(); distinct = True
        sel: list = []
        while True:
            k, v = self.peek()
            if k == "var":
                self.next(); sel.append(("var", v[1:]))
            elif (k, v) == ("punct", "*"):
                self.next(); sel.append("*")
            elif (k, v) == ("punct", "("):
                self.next()
                fn = self.expect("word").upper()
                if fn != "COUNT":
                    raise ValueError(f"unsupported aggregate {fn}")
                self.expect("punct", "(")
                agg_distinct = False
                if self.at_kw("DISTINCT"):
                    self.next(); agg_distinct = True
                k2, v2 = self.next()
                if (k2, v2) == ("punct", "*"):
                    arg = None
                elif k2 == "var":
                    arg = v2[1:]
                else:
                    raise ValueError(f"COUNT argument must be ?var or *, got {v2!r}")
                self.expect("punct", ")")
                self.expect("word", "AS")
                alias = self.expect("var")[1:]
                self.expect("punct", ")")
                sel.append(("agg", "count", agg_distinct, arg, alias))
            else:
                break
        if not sel:
            raise ValueError("SELECT needs variables, aggregates, or *")
        self.expect("word", "WHERE")
        self.expect("punct", "{")
        where = self.parse_group()
        q = ParsedQuery("SELECT", distinct, sel, where)
        self.parse_modifiers(q)
        if self.peek()[0] != "eof":
            raise ValueError(f"trailing tokens: {self.toks[self.i:self.i+5]}")
        return q

    def parse_construct(self) -> ParsedQuery:
        self.expect("word", "CONSTRUCT")
        self.expect("punct", "{")
        template = self.parse_triples_block()
        self.expect("punct", "}")
        self.expect("word", "WHERE")
        self.expect("punct", "{")
        where = self.parse_group()
        q = ParsedQuery("CONSTRUCT", False, [], where, template=template)
        self.parse_modifiers(q)
        if self.peek()[0] != "eof":
            raise ValueError(f"trailing tokens: {self.toks[self.i:self.i+5]}")
        return q

    def parse_modifiers(self, q: ParsedQuery) -> None:
        if self.at_kw("GROUP"):
            self.next(); self.expect("word", "BY")
            while self.peek()[0] == "var":
                q.group_by.append(self.next()[1][1:])
        if self.at_kw("ORDER"):
            self.next(); self.expect("word", "BY")
            while True:
                if self.at_kw("ASC") or self.at_kw("DESC"):
                    asc = self.next()[1].upper() == "ASC"
                    self.expect("punct", "(")
                    q.order_by.append((self.expect("var")[1:], asc))
                    self.expect("punct", ")")
                elif self.peek()[0] == "var":
                    q.order_by.append((self.next()[1][1:], True))
                else:
                    break
        if self.at_kw("LIMIT"):
            self.next(); q.limit = int(self.expect("num"))
        if self.at_kw("OFFSET"):
            self.next(); q.offset = int(self.expect("num"))

    # -- group graph pattern ------------------------------------------------
    def parse_group(self) -> _Group:
        """Parse a { … } body starting AFTER the opening brace; consumes
        the closing brace."""
        g = _Group()
        while True:
            k, v = self.peek()
            if (k, v) == ("punct", "}"):
                self.next()
                return g
            if k == "eof":
                raise ValueError("unterminated group: missing }")
            if self.at_kw("OPTIONAL"):
                self.next(); self.expect("punct", "{")
                g.optionals.append(self.parse_group())
                continue
            if self.at_kw("FILTER"):
                self.next()
                if self.at_kw("NOT"):
                    self.next(); self.expect("word", "EXISTS")
                    self.expect("punct", "{")
                    g.anti.append(self.parse_group())
                elif self.at_kw("EXISTS"):
                    self.next(); self.expect("punct", "{")
                    g.semi.append(self.parse_group())
                else:
                    g.filters.append(self.parse_filter_constraint())
                continue
            if self.at_kw("VALUES"):
                self.next()
                var = self.expect("var")[1:]
                self.expect("punct", "{")
                allowed: list[str] = []
                while self.peek() != ("punct", "}"):
                    allowed.append(self.term()[1])
                self.next()
                g.values[var] = allowed
                continue
            # a triples block entry
            self.parse_triples_into(g.patterns)
        # unreachable

    def parse_triples_block(self) -> list:
        pats: list = []
        while self.peek() != ("punct", "}") and self.peek()[0] != "eof":
            self.parse_triples_into(pats)
        return pats

    def parse_triples_into(self, out: list) -> None:
        """subject (path object (, object)* (; path object…)*)* .?
        Appends (subject, path, object) entries; path = [[step,…]] where
        each step is an ('iri'|'word', value[, '+']) term (a '+' suffix
        marks a closure step) or a single ('var', name)."""
        subj = self.term()
        while True:
            path = self.parse_path()
            while True:
                obj = self.term()
                out.append((subj, path, obj))
                if self.peek() == ("punct", ","):
                    self.next()
                    continue
                break
            if self.peek() == ("punct", ";"):
                self.next()
                # tolerate a dangling ';' before '}' or '.'
                if self.peek() in (("punct", "}"), ("punct", ".")):
                    continue
                continue
            break
        if self.peek() == ("punct", "."):
            self.next()

    def parse_path(self) -> list[Term]:
        """predicate: ?var | step ('/' step)*; step = iri/pname/word with
        optional '+' closure suffix (encoded by appending '+' to the
        value — plans.query treats a trailing '+' constant predicate as
        path_closure)."""
        k, v = self.peek()
        if k == "var":
            self.next()
            return [("var", v[1:])]
        steps = []
        while True:
            t = self.term()
            if t[0] == "var":
                raise ValueError("variables not allowed mid-path")
            if self.peek() == ("punct", "+"):
                self.next()
                t = (t[0], t[1] + "+")
            steps.append(t)
            if self.peek() == ("punct", "/"):
                self.next()
                continue
            return steps

    # -- FILTER expression → Spark SQL ---------------------------------------
    def parse_filter_constraint(self) -> str:
        """FILTER (expr) or the bare built-in-call form FILTER regex(…) /
        FILTER bound(…) SPARQL also allows (works_with_conflicting_methods
        .rq:43 uses the bare form)."""
        if self.peek() == ("punct", "("):
            return self.parse_filter_expr()
        k, v = self.peek()
        if k == "word":
            u = v.upper()
            if u == "REGEX":
                self.next()
                return self.regex_call()
            if u == "BOUND":
                self.next()
                self.expect("punct", "(")
                inner = self.expr_tokens(depth=1)
                return f"({inner} is not null)"
            if u == "NOT":  # handled by the caller (NOT EXISTS)
                pass
        raise ValueError(f"unsupported FILTER constraint at {v!r}")

    def parse_filter_expr(self) -> str:
        self.expect("punct", "(")
        sql = self.expr_tokens(depth=1)
        return sql

    def expr_tokens(self, depth: int) -> str:
        parts: list[str] = []
        while depth:
            k, v = self.next()
            if k == "eof":
                raise ValueError("unterminated FILTER expression")
            if (k, v) == ("punct", "("):
                depth += 1
                parts.append("(")
            elif (k, v) == ("punct", ")"):
                depth -= 1
                if depth:
                    parts.append(")")
            elif k == "var":
                parts.append(f"`{v[1:]}`")
            elif k == "iri":
                parts.append(_sql_str(v[1:-1]))
            elif k == "str":
                parts.append(_sql_str(v[1:-1]))
            elif k == "num":
                parts.append(v)
            elif k == "word":
                u = v.upper()
                if u == "REGEX" and self.peek() == ("punct", "("):
                    parts.append(self.regex_call())
                elif u == "STR" and self.peek() == ("punct", "("):
                    # str(?x) → the binding itself: terms are strings
                    self.next()
                    parts.append(self.expr_tokens(depth=1))
                elif u == "BOUND" and self.peek() == ("punct", "("):
                    self.next()
                    inner = self.expr_tokens(depth=1)
                    parts.append(f"({inner} is not null)")
                elif u == "LANG" and self.peek() == ("punct", "("):
                    # SPARQL lang(?x): the literal's language tag, "" when
                    # absent — reads the __lang metadata column bgp_match
                    # emits under capture_meta (enabled when any filter
                    # uses lang())
                    self.next()
                    k2, v2 = self.next()
                    if k2 != "var":
                        raise ValueError("lang() takes a variable")
                    self.expect("punct", ")")
                    parts.append(f"coalesce(`{v2[1:]}__lang`, '')")
                elif ":" in v:
                    parts.append(_sql_str(self.expand(v)))
                elif u in ("TRUE", "FALSE"):
                    parts.append(u.lower())
                else:
                    # any other bare word passes through verbatim — FILTER
                    # bodies are Spark SQL, so `cast(?y as int)` etc. keep
                    # working (legacy restricted-dialect behavior)
                    parts.append(v)
            elif (k, v) == ("punct", "&&"):
                parts.append("and")
            elif (k, v) == ("punct", "||"):
                parts.append("or")
            elif (k, v) == ("punct", "!"):
                parts.append("not")
            elif k == "punct" and v in ("=", "!=", "<", "<=", ">", ">=", ",", "+", "*", "/"):
                parts.append(v)
            else:
                raise ValueError(f"unsupported FILTER token {v!r}")
        return " ".join(parts)

    def regex_call(self) -> str:
        """regex(expr, pattern[, flags]) → regexp_like; the 'i' flag
        becomes an inline (?i). SPARQL regex is a partial match, exactly
        regexp_like's contract."""
        self.expect("punct", "(")
        args: list[str] = []
        buf: list[str] = []
        depth = 1
        while True:
            save = self.i
            k, v = self.peek()
            if (k, v) == ("punct", ",") and depth == 1:
                self.next()
                args.append(" ".join(buf)); buf = []
                continue
            if (k, v) == ("punct", ")") and depth == 1:
                self.next()
                args.append(" ".join(buf))
                break
            if (k, v) == ("punct", "("):
                depth += 1
            elif (k, v) == ("punct", ")"):
                depth -= 1
            # reuse the main translator one token at a time
            self.i = save
            tok_sql = self._one_expr_token()
            buf.append(tok_sql)
        if len(args) == 3 and args[2].strip("'\" ").lower() == "i":
            args = [args[0], f"concat('(?i)', {args[1]})"]
        if len(args) != 2:
            raise ValueError("regex() takes (expr, pattern[, 'i'])")
        return f"regexp_like({args[0]}, {args[1]})"

    def _one_expr_token(self) -> str:
        k, v = self.next()
        if k == "var":
            return f"`{v[1:]}`"
        if k in ("iri",):
            return _sql_str(v[1:-1])
        if k == "str":
            return _sql_str(v[1:-1])
        if k == "num":
            return v
        if k == "word":
            if v.upper() == "STR" and self.peek() == ("punct", "("):
                self.next()
                return self.expr_tokens(depth=1)
            if ":" in v:
                return _sql_str(self.expand(v))
            raise ValueError(f"unsupported token in regex(): {v!r}")
        if k == "punct":
            return v
        raise ValueError(f"unsupported token in regex(): {v!r}")


def _sql_str(s: str) -> str:
    return "'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'"


# ---------------------------------------------------------------------------
# compilation to bgp_match
# ---------------------------------------------------------------------------


def _bgp_term(t: Term) -> str:
    return "?" + t[1] if t[0] == "var" else t[1]


def _flatten(entries: list, counter: list[int]) -> list[tuple[str, str, str]]:
    """(subject, path, object) entries → plain (s, p, o) bgp patterns,
    desugaring multi-step sequence paths through fresh ?_seq variables
    (one fresh var per step boundary per entry — object lists over a
    path must NOT share intermediates)."""
    pats: list[tuple[str, str, str]] = []
    for subj, path, obj in entries:
        cur = subj
        for si, step in enumerate(path):
            last = si == len(path) - 1
            if last:
                nxt = obj
            else:
                counter[0] += 1
                nxt = ("var", f"_seq{counter[0]}")
            pats.append((_bgp_term(cur), _bgp_term(step), _bgp_term(nxt)))
            cur = nxt
    return pats


def _compile_group(g: _Group, counter: list[int]) -> dict:
    pats = _flatten(g.patterns, counter)
    optional = []
    for og in g.optionals:
        if og.optionals or og.anti or og.semi or og.filters or og.values:
            raise ValueError("nested OPTIONAL/FILTER groups not supported")
        optional.append(_flatten(og.patterns, counter))
    def _exists_group(gg: _Group):
        if gg.optionals or gg.anti or gg.semi or gg.values:
            raise ValueError("nested groups inside (NOT) EXISTS not supported")
        pats = _flatten(gg.patterns, counter)
        if gg.filters:  # correlated/inner FILTER inside the group
            return {
                "patterns": pats,
                "filter": " and ".join(f"({f})" for f in gg.filters),
            }
        return pats

    anti = [_exists_group(ag) for ag in g.anti]
    semi = [_exists_group(sg) for sg in g.semi]
    return {
        "patterns": pats,
        "optional": optional or None,
        "anti": anti or None,
        "semi": semi or None,
        "values": g.values or None,
        "filter": " and ".join(f"({f})" for f in g.filters) if g.filters else None,
    }


def parse_sparql(
    query: str, prefixes: dict[str, str] | None = None
) -> ParsedQuery:
    return _Parser(query, prefixes=prefixes).parse()


def _is_synthetic(name: str) -> bool:
    return name.startswith(("_path", "_seq"))


def _solutions(
    triples: DataFrame, q: ParsedQuery, capture_meta: bool
) -> tuple[DataFrame, list[str]]:
    counter = [0]
    kw = _compile_group(q.where, counter)
    if q.form == "CONSTRUCT" and not kw["patterns"]:
        # get_full_work.rq's DESCRIBE idiom: empty WHERE, template doubles
        # as the pattern
        kw["patterns"] = _flatten(q.template, counter)
    if kw["filter"] and "__lang" in kw["filter"]:
        capture_meta = True  # lang(?x) reads the metadata columns
    sol = bgp_match(triples, select=None, distinct=False,
                    capture_meta=capture_meta, **kw)
    vars_ = [
        c for c in sol.columns
        if not _is_synthetic(c) and not c.endswith(("__is_iri", "__lang", "__dtype"))
    ]
    return sol, vars_


def sparql_select(
    triples: DataFrame,
    query: str,
    prefixes: dict[str, str] | None = None,
) -> DataFrame:
    """SPARQL SELECT → DataFrame with one column per projected variable
    (without the ``?``). See the module docstring for the dialect.
    ``prefixes`` seeds qname expansion like rdflib's graph-bound
    namespaces (PREFIX declarations in the query override)."""
    q = parse_sparql(query, prefixes=prefixes)
    if q.form != "SELECT":
        raise ValueError("use sparql_construct for CONSTRUCT queries")
    sol, all_vars = _solutions(triples, q, capture_meta=False)

    aggs = [s for s in q.select if s != "*" and s[0] == "agg"]
    if aggs:
        plain = [s[1] for s in q.select if s != "*" and s[0] == "var"]
        keys = q.group_by or plain
        if set(plain) - set(keys):
            raise ValueError("non-aggregate SELECT vars must be in GROUP BY")
        # SPARQL evaluates GROUP BY before SELECT, so a group key naming
        # an aggregate alias (unique_publishers_name_only.rq's
        # `GROUP BY ?count ?publisher_name`) is an UNBOUND variable — a
        # constant key that changes no groups. Drop such keys.
        keys = [k for k in keys if k in sol.columns]
        exprs = []
        for _, fn, is_distinct, arg, alias in aggs:
            if arg is None:
                e = F.count(F.lit(1))
            elif is_distinct:
                e = F.count_distinct(F.col(arg))
            else:
                e = F.count(F.col(arg))
            exprs.append(e.alias(alias))
        out = sol.groupBy(*keys).agg(*exprs) if keys else sol.agg(*exprs)
        cols = keys + [a[4] for a in aggs]
        out = out.select(*cols)
        if q.distinct:  # post-aggregation DISTINCT (SELECT distinct … COUNT)
            out = out.distinct()
    else:
        if "*" in q.select:
            cols = all_vars
            out = sol.select(*cols)
        else:
            cols = [s[1] for s in q.select]
            # SPARQL projects never-bound variables as unbound (null)
            # columns — versions_without_issn.rq SELECTs a ?issn whose
            # binding pattern is commented out, and arq returns it empty
            out = sol.select(
                *[
                    F.col(c) if c in sol.columns else F.lit(None).cast("string").alias(c)
                    for c in cols
                ]
            )
        if q.distinct:
            out = out.distinct()
    if q.order_by:
        out = out.orderBy(
            *[F.col(v).asc() if asc else F.col(v).desc() for v, asc in q.order_by]
        )
    if q.offset:
        out = out.offset(q.offset)
    if q.limit is not None:
        out = out.limit(q.limit)
    return out


def sparql_construct(
    triples: DataFrame,
    query: str,
    prefixes: dict[str, str] | None = None,
) -> DataFrame:
    """SPARQL CONSTRUCT → triples-schema DataFrame (set semantics, like
    an RDF graph). Template variables keep their matched literal
    metadata via bgp_match(capture_meta=True); constant template terms
    carry their parsed kind (IRI vs literal). Solutions leaving any
    template variable unbound skip that template triple (SPARQL
    semantics for OPTIONAL-bound template vars)."""
    q = parse_sparql(query, prefixes=prefixes)
    if q.form != "CONSTRUCT":
        raise ValueError("use sparql_select for SELECT queries")
    sol, _ = _solutions(triples, q, capture_meta=True)

    counter = [0]
    flat_template = _flatten(q.template, counter)

    outs: list[DataFrame] = []
    for s_t, p_t, o_t in flat_template:
        def res(term: str, pos: str):
            if term.startswith("?"):
                name = term[1:]
                if name not in sol.columns:
                    raise ValueError(f"template variable ?{name} not bound by WHERE")
                col = F.col(name)
                if pos == "obj" and f"{name}__is_iri" in sol.columns:
                    meta = (
                        F.col(f"{name}__is_iri"),
                        F.col(f"{name}__lang"),
                        F.col(f"{name}__dtype"),
                    )
                else:
                    meta = (F.lit(True), F.lit(None).cast("string"),
                            F.lit(None).cast("string"))
                return col, meta
            # constants: _flatten stripped kinds to strings — recover the
            # literal/IRI split from the parsed template terms below
            return F.lit(term), (F.lit(True), F.lit(None).cast("string"),
                                 F.lit(None).cast("string"))

        s_col, _ = res(s_t, "subj")
        p_col, _ = res(p_t, "pred")
        o_col, (o_iri, o_lang, o_dt) = res(o_t, "obj")
        row = sol.where(
            s_col.isNotNull() & p_col.isNotNull() & o_col.isNotNull()
        ).select(
            s_col.alias("subj"),
            p_col.alias("pred"),
            o_col.alias("obj"),
            o_iri.alias("obj_is_iri"),
            o_lang.alias("lang"),
            o_dt.alias("dtype"),
        )
        outs.append(row)
    if not outs:
        return triples.sparkSession.createDataFrame([], triples_schema())
    out = outs[0]
    for o in outs[1:]:
        out = out.unionByName(o)
    return out.distinct()


# ---------------------------------------------------------------------------
# arq-compatible TSV rendering (for parity with the reference's .tsv goldens)
# ---------------------------------------------------------------------------


def solutions_tsv(triples: DataFrame, query: str) -> list[str]:
    """Run a SELECT and render rows the way ``arq --results=TSV`` does:
    a ``?var<TAB>…`` header, IRIs as ``<…>``, blank nodes as ``_:…``,
    literals as ``"…"`` (+ ``@lang`` / ``^^<dtype>`` when present),
    unbound as the empty cell. Row ORDER is not part of the contract
    (SPARQL solutions are unordered without ORDER BY) — compare as
    multisets."""
    q = parse_sparql(query)
    if q.form != "SELECT":
        raise ValueError("solutions_tsv renders SELECT results")
    sol, all_vars = _solutions(triples, q, capture_meta=True)
    if "*" in q.select or any(s != "*" and s[0] == "agg" for s in q.select):
        raise ValueError("solutions_tsv supports explicit ?var projections")
    cols = [s[1] for s in q.select]
    proj: list = []
    for c in cols:
        if c not in sol.columns:  # never-bound projection → empty cells
            proj += [
                F.lit(None).cast("string"),
                F.lit(False),
                F.lit(None).cast("string"),
                F.lit(None).cast("string"),
            ]
            continue
        proj.append(F.col(c))
        if f"{c}__is_iri" in sol.columns:
            proj += [F.col(f"{c}__is_iri"), F.col(f"{c}__lang"), F.col(f"{c}__dtype")]
        else:
            proj += [F.lit(True), F.lit(None).cast("string"),
                     F.lit(None).cast("string")]
    rows = sol.select(*proj).collect()
    lines = ["\t".join("?" + c for c in cols)]
    for r in rows:
        cells = []
        for ci in range(len(cols)):
            v, is_iri, lang, dt = r[4 * ci], r[4 * ci + 1], r[4 * ci + 2], r[4 * ci + 3]
            if v is None:
                cells.append("")
            elif v.startswith("_:"):
                cells.append(v)
            elif is_iri:
                cells.append(f"<{v}>")
            else:
                s = '"' + v.replace("\\", "\\\\").replace('"', '\\"') + '"'
                if lang:
                    s += f"@{lang}"
                elif dt:
                    s += f"^^<{dt}>"
                cells.append(s)
        lines.append("\t".join(cells))
    return lines
