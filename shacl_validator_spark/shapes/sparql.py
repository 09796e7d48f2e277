r"""sh:sparql SELECT constraints compiled to DataFrame plans (BGP subset).

The reference evaluates SPARQL-based constraints via ``shacl-engine/sparql``
(reference src/services/SHACLValidationService.ts:4,10-13,405).  This module
compiles the subset published DCAT-AP-family profiles actually use in their
sh:sparql constraints — the bundled profile rules (shapes/suites.py
``PROFILE_RULES``) are written in it too:

- basic graph patterns — triple patterns with ``a``, ``;`` predicate lists
  and ``,`` object lists; terms are IRIs, prefixed names, literals
  (plain / @lang / ^^typed / numeric) and ``?var`` / ``$this`` variables;
- ``FILTER`` expressions — comparisons (``= != < > <= >=`` with SPARQL
  '<' domain dispatch), ``&& || !``, and the builtins ``regex`` / ``str``
  / ``lang`` / ``datatype`` / ``bound`` / ``isIRI`` / ``isBlank`` /
  ``isLiteral``, and the ``xsd:date(…)`` cast (a failed cast is unbound,
  so a comparison on it is false);
- ``FILTER NOT EXISTS { … }`` — the absent-pattern idiom (compiled to a
  left-anti join on the shared variables);
- ``OPTIONAL { … }`` — a left outer join on the variables shared with the
  surrounding pattern (r4: the published-profile idiom for "flag when the
  property is missing or malformed");
- ``{ … } UNION { … }`` — alternatives evaluated independently and
  unioned by name; each alternative must bind every variable shared with
  the surrounding pattern (unbound-compatible join semantics stay outside
  the subset and raise);
- ``BIND(expr AS ?v)`` — a projected column;
- ``VALUES`` (r5) — single- and multi-variable data blocks compiled to an
  inline binding relation inner-joined on the shared variables (Catalyst
  broadcasts it); ``UNDEF`` stays outside the subset (it would need
  unbound-compatible join semantics);
- ``MINUS { … }`` (r5) — a left-anti join on the shared variables; a
  MINUS sharing no variable with the outer pattern is a spec-correct
  no-op (disjoint-domain solutions are never removed).  A shared variable
  bound only inside OPTIONAL on either side raises: an unbound value is
  compatible with anything in SPARQL, but never equal in the join;
- ``$this`` pre-binding (SHACL §5.3.1): the result is intersected with the
  shape's target set per constraint.

Anything outside the subset (subqueries, property paths, aggregates,
GRAPH, VALUES UNDEF, outer-scope FILTER variables inside
OPTIONAL/UNION/MINUS groups, MINUS on an optionally-bound variable)
raises ``SparqlUnsupported`` at compile time — an unsupported published
constraint is SURFACED, never silently dropped (the round-2 ADVICE lesson
on vanishing sh:or branches).

Spark-first shape: every triple pattern is one predicate-pushed scan of
the triples relation, the BGP is a chain of equi-joins on shared variable
bindings (Catalyst orders/broadcasts them; at corpus scale each scan is an
index-lookup-like pushed read), FILTERs are column predicates evaluated
post-join, and NOT EXISTS is a left-anti join — no driver-side iteration,
no Python on executors.
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..local_df import local_df

XSD = "http://www.w3.org/2001/XMLSchema#"
RDF_TYPE = "http://www.w3.org/1999/02/22-rdf-syntax-ns#type"


class SparqlUnsupported(ValueError):
    """Raised when a query uses syntax outside the compiled subset."""


# --- AST -------------------------------------------------------------------

# term: ("var", name) | ("iri", iri) | ("lit", value, datatype|None, lang|None)
Term = tuple


@dataclass
class TriplePattern:
    s: Term
    p: Term
    o: Term


@dataclass
class Group:
    """One group graph pattern: BGP + filters + the supported operators."""

    patterns: list[TriplePattern] = field(default_factory=list)
    filters: list = field(default_factory=list)  # expr ASTs
    not_exists: list[list[TriplePattern]] = field(default_factory=list)
    optionals: list["Group"] = field(default_factory=list)
    unions: list[list["Group"]] = field(default_factory=list)
    binds: list[tuple[str, tuple]] = field(default_factory=list)
    # (var names, rows of constant Terms) per VALUES block
    values_blocks: list[tuple[list[str], list[list[Term]]]] = field(default_factory=list)
    minuses: list["Group"] = field(default_factory=list)


@dataclass
class SelectQuery:
    project: list[str]
    patterns: list[TriplePattern] = field(default_factory=list)
    filters: list = field(default_factory=list)  # expr ASTs
    not_exists: list[list[TriplePattern]] = field(default_factory=list)
    optionals: list[Group] = field(default_factory=list)
    unions: list[list[Group]] = field(default_factory=list)
    binds: list[tuple[str, tuple]] = field(default_factory=list)
    values_blocks: list[tuple[list[str], list[list[Term]]]] = field(default_factory=list)
    minuses: list[Group] = field(default_factory=list)


# --- tokenizer -------------------------------------------------------------

# PN_LOCAL may contain but not END with '.' (SPARQL grammar) — the
# trailing-dot lookahead keeps `ex:Cust.` tokenizing as `ex:Cust` + `.`
# (the ubiquitous no-space-before-terminator style in published shapes).
_TOK_RE = re.compile(
    r"""
      (?P<ws>\s+|\#[^\n]*)
    | (?P<iri><[^<>\s]*>)
    | (?P<string>"(?:[^"\\]|\\.)*"|'(?:[^'\\]|\\.)*')
    | (?P<langtag>@[A-Za-z]+(?:-[A-Za-z0-9]+)*)
    | (?P<var>[?$][A-Za-z_][A-Za-z0-9_]*)
    | (?P<num>[+-]?\d+(?:\.\d+)?(?:[eE][+-]?\d+)?)
    | (?P<pname>[A-Za-z_][\w.-]*)?:(?P<plocal>[A-Za-z0-9_](?:[\w.-]*[\w-])?)?
    | (?P<kw>[A-Za-z_][A-Za-z0-9_]*)
    | (?P<op>&&|\|\||!=|<=|>=|\^\^|[{}().;,!=<>@*])
    """,
    re.VERBOSE,
)

_KEYWORDS = {
    "select", "where", "filter", "not", "exists", "prefix", "a", "regex",
    "str", "lang", "datatype", "bound", "isiri", "isuri", "isblank",
    "isliteral", "true", "false", "optional", "union", "bind", "values",
    "minus", "graph", "distinct", "as",
}


def _tokenize(text: str) -> list[tuple[str, str]]:
    toks: list[tuple[str, str]] = []
    pos = 0
    while pos < len(text):
        m = _TOK_RE.match(text, pos)
        if m is None:
            raise SparqlUnsupported(f"sparql: cannot tokenize at {text[pos:pos+20]!r}")
        pos = m.end()
        if m.lastgroup == "ws":
            continue
        kind = m.lastgroup
        val = m.group(0)
        if kind == "kw" and val.lower() not in _KEYWORDS:
            kind = "name"  # bare word (only valid as part of a pname — error later)
        if kind in ("pname", "plocal") or (kind is None and ":" in val):
            kind = "pn"
        toks.append((kind or "pn", val))
    return toks


# --- parser ----------------------------------------------------------------


class _P:
    def __init__(self, toks: list[tuple[str, str]], prefixes: dict[str, str]):
        self.toks = toks
        self.i = 0
        self.prefixes = prefixes

    def peek(self) -> tuple[str, str] | None:
        return self.toks[self.i] if self.i < len(self.toks) else None

    def next(self) -> tuple[str, str]:
        t = self.peek()
        if t is None:
            raise SparqlUnsupported("sparql: unexpected end of query")
        self.i += 1
        return t

    def expect(self, val: str) -> None:
        k, v = self.next()
        if v.lower() != val.lower():
            raise SparqlUnsupported(f"sparql: expected {val!r}, got {v!r}")

    def at(self, val: str) -> bool:
        t = self.peek()
        return t is not None and t[1].lower() == val.lower()

    # -- terms --
    def term(self) -> Term:
        kind, val = self.next()
        if kind == "var":
            return ("var", val[1:])
        if kind == "iri":
            return ("iri", val[1:-1])
        if kind == "pn":
            pfx, _, local = val.partition(":")
            if pfx not in self.prefixes:
                raise SparqlUnsupported(f"sparql: undeclared prefix {pfx!r}:")
            return ("iri", self.prefixes[pfx] + local)
        if kind == "kw" and val.lower() == "a":
            return ("iri", RDF_TYPE)
        if kind == "string":
            s = _unescape_sparql(val[1:-1])
            t = self.peek()
            if t is not None and t[0] == "langtag":
                self.next()
                return ("lit", s, None, t[1][1:].lower())
            if t is not None and t[1] == "^^":
                self.next()
                dt = self.term()
                if dt[0] != "iri":
                    raise SparqlUnsupported("sparql: datatype must be an IRI")
                return ("lit", s, dt[1], None)
            return ("lit", s, XSD + "string", None)
        if kind == "num":
            dt = XSD + ("decimal" if "." in val or "e" in val.lower() else "integer")
            return ("lit", val, dt, None)
        if kind == "kw" and val.lower() in ("true", "false"):
            return ("lit", val.lower(), XSD + "boolean", None)
        raise SparqlUnsupported(f"sparql: unexpected term {val!r}")

    # -- group graph pattern --
    def group(self) -> Group:
        self.expect("{")
        g = Group()
        while not self.at("}"):
            t = self.peek()
            if t is None:
                raise SparqlUnsupported("sparql: unterminated group")
            low = t[1].lower()
            if low in ("graph", "select"):
                raise SparqlUnsupported(f"sparql: {t[1]} is outside the subset")
            if low == "minus":
                self.next()
                g.minuses.append(self.group())
                if self.at("."):
                    self.next()
                continue
            if low == "values":
                self.next()
                g.values_blocks.append(self._values_block())
                if self.at("."):
                    self.next()
                continue
            if t[1] == "{":
                # nested group: only meaningful as a UNION alternative chain
                alts = [self.group()]
                while self.at("union"):
                    self.next()
                    alts.append(self.group())
                if len(alts) == 1:
                    raise SparqlUnsupported(
                        "sparql: bare nested group (no UNION) is outside the subset"
                    )
                g.unions.append(alts)
                if self.at("."):
                    self.next()
                continue
            if low == "optional":
                self.next()
                g.optionals.append(self.group())
                if self.at("."):
                    self.next()
                continue
            if low == "bind":
                self.next()
                self.expect("(")
                e = self.expr()
                self.expect("as")
                k, v = self.next()
                if k != "var":
                    raise SparqlUnsupported("sparql: BIND expects a variable after AS")
                self.expect(")")
                g.binds.append((v[1:], e))
                if self.at("."):
                    self.next()
                continue
            if low == "filter":
                self.next()
                if self.at("not"):
                    self.next()
                    self.expect("exists")
                    sub = self.group()
                    if (
                        sub.filters or sub.not_exists or sub.optionals
                        or sub.unions or sub.binds
                    ):
                        raise SparqlUnsupported(
                            "sparql: only plain patterns inside NOT EXISTS are in the subset"
                        )
                    g.not_exists.append(sub.patterns)
                else:
                    g.filters.append(self.expr())
                if self.at("."):
                    self.next()
                continue
            # triple pattern with ; and , continuations
            s = self.term()
            while True:
                p = self.term()
                while True:
                    o = self.term()
                    g.patterns.append(TriplePattern(s, p, o))
                    if self.at(","):
                        self.next()
                        continue
                    break
                if self.at(";"):
                    self.next()
                    if self.at(".") or self.at("}"):  # dangling ;
                        break
                    continue
                break
            if self.at("."):
                self.next()
        self.expect("}")
        return g

    # -- VALUES data block: `?x { t… }` or `( ?x ?y ) { ( t t )… }` --
    def _values_block(self) -> tuple[list[str], list[list[Term]]]:
        vars_: list[str] = []
        multi = self.at("(")
        if multi:
            self.next()
            while not self.at(")"):
                k, v = self.next()
                if k != "var":
                    raise SparqlUnsupported("sparql: VALUES expects variables")
                vars_.append(v[1:])
            self.next()
        else:
            k, v = self.next()
            if k != "var":
                raise SparqlUnsupported("sparql: VALUES expects a variable")
            vars_.append(v[1:])
        if not vars_:
            raise SparqlUnsupported("sparql: VALUES with no variables")
        if len(set(vars_)) != len(vars_):
            raise SparqlUnsupported("sparql: duplicate variable in VALUES")
        self.expect("{")
        rows: list[list[Term]] = []
        while not self.at("}"):
            if multi:
                self.expect("(")
                row: list[Term] = []
                while not self.at(")"):
                    row.append(self._values_term())
                self.next()
            else:
                row = [self._values_term()]
            if len(row) != len(vars_):
                raise SparqlUnsupported(
                    f"sparql: VALUES row arity {len(row)} != {len(vars_)} variables"
                )
            rows.append(row)
        self.expect("}")
        return vars_, rows

    def _values_term(self) -> Term:
        t = self.peek()
        if t is not None and t[1].lower() == "undef":
            # UNDEF would need unbound-compatible join semantics
            raise SparqlUnsupported("sparql: UNDEF in VALUES is outside the subset")
        term = self.term()
        if term[0] not in ("iri", "lit"):
            raise SparqlUnsupported(
                "sparql: VALUES data must be IRIs or literals"
            )
        return term

    # -- expressions (precedence: || < && < cmp < unary) --
    def expr(self):
        left = self.and_expr()
        while self.at("||"):
            self.next()
            left = ("or", left, self.and_expr())
        return left

    def and_expr(self):
        left = self.cmp_expr()
        while self.at("&&"):
            self.next()
            left = ("and", left, self.cmp_expr())
        return left

    def cmp_expr(self):
        left = self.unary()
        t = self.peek()
        if t is not None and t[1] in ("=", "!=", "<", ">", "<=", ">="):
            op = self.next()[1]
            return ("cmp", op, left, self.unary())
        return left

    def unary(self):
        if self.at("!"):
            self.next()
            return ("not", self.unary())
        if self.at("("):
            self.next()
            e = self.expr()
            self.expect(")")
            return e
        t = self.peek()
        if t is not None and t[0] == "kw" and t[1].lower() in (
            "regex", "str", "lang", "datatype", "bound", "isiri", "isuri",
            "isblank", "isliteral",
        ):
            name = self.next()[1].lower()
            self.expect("(")
            args = [self.expr()]
            while self.at(","):
                self.next()
                args.append(self.expr())
            self.expect(")")
            return ("call", name, args)
        term = self.term()
        if term[0] == "iri" and self.at("("):
            # function call by IRI: only the xsd:date constructor cast
            if term[1] != XSD + "date":
                raise SparqlUnsupported(f"sparql: function <{term[1]}> is outside the subset")
            self.next()
            arg = self.expr()
            self.expect(")")
            return ("call", "xsd:date", [arg])
        return ("term", term)


def _unescape_sparql(s: str) -> str:
    # SPARQL string escapes = Turtle's (ECHAR + \uXXXX/\UXXXXXXXX UCHAR);
    # reuse the Turtle parser's decoder so constants like "café"
    # compare against real data values instead of silently never matching
    from .compiler import _unescape as _turtle_unescape

    return _turtle_unescape(s)


def parse_select(text: str, prefixes: dict[str, str] | None = None) -> SelectQuery:
    """Parse a SHACL SELECT constraint query.

    ``prefixes`` supplies sh:prefixes-declared namespaces (plus, leniently,
    the shapes document's own @prefix table — what authors expect even
    though SHACL formally requires sh:declare); inline ``PREFIX`` clauses
    in the query win over both."""
    pfx = dict(prefixes or {})
    toks = _tokenize(text)
    p = _P(toks, pfx)
    while p.at("prefix"):
        p.next()
        _, pname = p.next()
        _, iri = p.next()
        if not iri.startswith("<"):
            raise SparqlUnsupported("sparql: PREFIX expects an IRI")
        pfx[pname.rstrip(":")] = iri[1:-1]
    p.expect("select")
    if p.at("distinct"):
        p.next()
    project: list[str] = []
    while True:
        t = p.peek()
        if t is None:
            raise SparqlUnsupported("sparql: missing WHERE")
        if t[0] == "var":
            project.append(p.next()[1][1:])
            continue
        if t[1] == "*":
            raise SparqlUnsupported("sparql: SELECT * is outside the subset")
        break
    p.expect("where")
    g = p.group()
    if p.peek() is not None:
        raise SparqlUnsupported(f"sparql: trailing tokens at {p.peek()[1]!r}")
    if "this" not in project:
        raise SparqlUnsupported("sparql: SHACL SELECT constraints must project $this")
    if not g.patterns and not g.unions:
        raise SparqlUnsupported("sparql: empty graph pattern")
    return SelectQuery(
        project, g.patterns, g.filters, g.not_exists, g.optionals, g.unions,
        g.binds, g.values_blocks, g.minuses,
    )


# --- evaluation ------------------------------------------------------------

_AUX = ("__type", "__dt", "__lang")


def _pattern_df(triples: DataFrame, tp: TriplePattern) -> DataFrame:
    """One triple pattern → scan with constant positions pushed as filters
    and variable positions projected as ``v_<name>`` binding columns
    (object bindings carry the term aux columns)."""
    df = triples
    if tp.s[0] == "iri":
        df = df.filter(F.col("subject") == tp.s[1])
    elif tp.s[0] != "var":
        raise SparqlUnsupported("sparql: literal in subject position")
    if tp.p[0] == "iri":
        df = df.filter(F.col("predicate") == tp.p[1])
    elif tp.p[0] != "var":
        raise SparqlUnsupported("sparql: literal in predicate position")
    if tp.o[0] == "iri":
        df = df.filter(
            (F.col("object_value") == tp.o[1]) & (F.col("object_type") != "literal")
        )
    elif tp.o[0] == "lit":
        _, val, dt, lang = tp.o
        cond = (F.col("object_value") == val) & (F.col("object_type") == "literal")
        if lang is not None:
            cond = cond & (F.lower(F.col("object_lang")) == lang)
        else:
            # plain/typed literal: match the effective datatype (plain ≡
            # xsd:string), lang-tagged literals never match a plain term
            cond = (
                cond
                & F.col("object_lang").isNull()
                & (F.coalesce(F.col("object_datatype"), F.lit(XSD + "string")) == dt)
            )
        df = df.filter(cond)

    cols: list[Column] = []
    seen: dict[str, str] = {}  # var name -> source position col (dup detection)
    if tp.s[0] == "var":
        seen[tp.s[1]] = "subject"
        cols.append(F.col("subject").alias(f"v_{tp.s[1]}"))
    if tp.p[0] == "var":
        if tp.p[1] in seen:
            df = df.filter(F.col("predicate") == F.col(seen[tp.p[1]]))
        else:
            seen[tp.p[1]] = "predicate"
            cols.append(F.col("predicate").alias(f"v_{tp.p[1]}"))
    if tp.o[0] == "var":
        if tp.o[1] in seen:
            # repeated variable (?x <p> ?x): subjects/predicates are IRIs or
            # bnodes, so a literal object lexically equal to them must not
            # bind (RDF term identity, not lexical identity)
            df = df.filter(
                (F.col("object_value") == F.col(seen[tp.o[1]]))
                & (F.col("object_type") != "literal")
            )
        else:
            seen[tp.o[1]] = "object_value"
            cols.append(F.col("object_value").alias(f"v_{tp.o[1]}"))
            cols.append(F.col("object_type").alias(f"v_{tp.o[1]}__type"))
            cols.append(F.col("object_datatype").alias(f"v_{tp.o[1]}__dt"))
            cols.append(F.col("object_lang").alias(f"v_{tp.o[1]}__lang"))
    if not cols:
        # fully-constant pattern: contributes an existence test; keep a
        # constant marker column so the cross-style join stays well-formed
        cols.append(F.lit(1).alias("v___const"))
    return df.select(*cols)


def _tp_vars(tp: TriplePattern) -> set[str]:
    return {t[1] for t in (tp.s, tp.p, tp.o) if t[0] == "var"}


def _join_on_vars(
    acc: DataFrame, pat: DataFrame, shared: list[str], how: str = "inner"
) -> DataFrame:
    """Join two binding relations on shared variables with full RDF TERM
    identity, not lexical value alone: "5"^^xsd:integer, "5" (plain) and
    an IRI <5> are three different terms and must not unify (SPARQL BGP
    solution semantics).  Aux (type/datatype/lang) columns exist exactly
    when a variable was bound in object position; when only one side
    carries them, the other side bound the variable as a subject or
    predicate — an IRI or blank node by construction — so the aux side
    must be non-literal."""
    l, r = acc.alias("_l"), pat.alias("_r")
    cond = None
    consumed_right: set[str] = set()
    for v in shared:
        col = f"v_{v}"
        c = F.col(f"_l.{col}") == F.col(f"_r.{col}")
        l_aux = f"{col}__type" in acc.columns
        r_aux = f"{col}__type" in pat.columns
        if l_aux and r_aux:
            for a in _AUX:
                if a == "__dt":
                    # RDF 1.1: a plain literal IS an xsd:string literal, but
                    # sources store the datatype either as NULL or as the
                    # explicit IRI — coalesce both sides so the two storage
                    # forms of the SAME term unify (inert for IRIs/bnodes:
                    # NULL dt on both sides coalesces identically)
                    c = c & (
                        F.coalesce(F.col(f"_l.{col}{a}"), F.lit(XSD + "string"))
                        == F.coalesce(F.col(f"_r.{col}{a}"), F.lit(XSD + "string"))
                    )
                else:
                    c = c & F.col(f"_l.{col}{a}").eqNullSafe(F.col(f"_r.{col}{a}"))
            consumed_right.update(f"{col}{a}" for a in _AUX)
        elif l_aux:
            c = c & (F.col(f"_l.{col}__type") != "literal")
        elif r_aux:
            c = c & (F.col(f"_r.{col}__type") != "literal")
            # right aux survives: acc lacked term info for this var
        cond = c if cond is None else cond & c
        consumed_right.add(col)
    joined = l.join(r, cond, how)
    if how == "left_anti":
        return joined
    keep_l = [F.col(f"_l.{c}").alias(c) for c in acc.columns]
    keep_r = [
        F.col(f"_r.{c}").alias(c)
        for c in pat.columns
        if c not in consumed_right and c not in acc.columns
    ]
    return joined.select(*keep_l, *keep_r)


def _eval_bgp(triples: DataFrame, patterns: list[TriplePattern]) -> DataFrame:
    """Join the patterns greedily along shared variables (a pattern joins
    as soon as it shares a variable with the bound set, so transitively
    connected groups order themselves); fully-constant patterns become
    existence gates (crossJoin with a LIMIT-1 probe).  A genuinely
    disconnected variable group is a cartesian product and raises."""
    var_pats = [tp for tp in patterns if _tp_vars(tp)]
    const_pats = [tp for tp in patterns if not _tp_vars(tp)]

    # static connectivity check BEFORE building any plan: disconnected
    # variable groups are a cartesian product — fail fast at compile time
    if var_pats:
        connected = set(_tp_vars(var_pats[0]))
        grew = True
        while grew:
            grew = False
            for tp in var_pats:
                vs = _tp_vars(tp)
                if (vs & connected) and not vs <= connected:
                    connected |= vs
                    grew = True
        if any(not (_tp_vars(tp) & connected) for tp in var_pats):
            raise SparqlUnsupported(
                "sparql: cartesian pattern groups (no shared variable) are outside the subset"
            )

    acc: DataFrame | None = None
    bound: set[str] = set()
    remaining = list(var_pats)
    while remaining:
        idx = next(
            (i for i, tp in enumerate(remaining) if acc is None or (_tp_vars(tp) & bound)),
            None,
        )
        if idx is None:  # pragma: no cover - excluded by the static check
            raise SparqlUnsupported(
                "sparql: cartesian pattern groups (no shared variable) are outside the subset"
            )
        tp = remaining.pop(idx)
        pat = _pattern_df(triples, tp)
        if acc is None:
            acc = pat
        else:
            acc = _join_on_vars(acc, pat, sorted(_tp_vars(tp) & bound))
        bound |= _tp_vars(tp)
    for tp in const_pats:
        probe = _pattern_df(triples, tp).limit(1)
        acc = probe if acc is None else acc.crossJoin(probe)
        acc = acc.drop("v___const")
    assert acc is not None
    return acc


def _cmp_dynamic(op: str, a: Column, b: Column) -> Column:
    """SPARQL comparison with runtime domain dispatch: numeric when both
    sides cast, timestamp when both parse, else string ordering (the same
    dispatch shape as the validator's sh:lessThan)."""
    an, bn = a.try_cast("double"), b.try_cast("double")
    at, bt = F.try_to_timestamp(a), F.try_to_timestamp(b)
    ops = {
        "=": lambda x, y: x == y,
        "!=": lambda x, y: x != y,
        "<": lambda x, y: x < y,
        ">": lambda x, y: x > y,
        "<=": lambda x, y: x <= y,
        ">=": lambda x, y: x >= y,
    }
    f = ops[op]
    return (
        F.when(an.isNotNull() & bn.isNotNull(), f(an, bn))
        .when(at.isNotNull() & bt.isNotNull(), f(at, bt))
        .otherwise(f(a, b))
    )


RDF_LANGSTRING = "http://www.w3.org/1999/02/22-rdf-syntax-ns#langString"

_NUM_DTS = [
    XSD + t
    for t in (
        "integer", "decimal", "double", "float", "long", "int", "short",
        "byte", "nonNegativeInteger", "nonPositiveInteger", "negativeInteger",
        "positiveInteger", "unsignedLong", "unsignedInt", "unsignedShort",
        "unsignedByte",
    )
]
_TS_DTS = [XSD + "dateTime", XSD + "date"]


def _term_meta(e, cols: set[str] | None):
    """(value, term_type, effective_datatype, lang) Columns for a PLAIN term
    expression, else None (calls and boolean compositions keep the plain
    lexical comparison).  ``cols`` is the binding relation's column set —
    a variable without aux columns was bound in subject/predicate position,
    an IRI or blank node by construction."""
    if e[0] != "term":
        return None
    t = e[1]
    null_s = F.lit(None).cast("string")
    if t[0] == "var":
        v = f"v_{t[1]}"
        if cols is not None and f"{v}__type" in cols:
            return (
                F.col(v),
                F.col(f"{v}__type"),
                F.when(
                    F.col(f"{v}__lang").isNotNull(), F.lit(RDF_LANGSTRING)
                ).otherwise(F.coalesce(F.col(f"{v}__dt"), F.lit(XSD + "string"))),
                F.lower(F.col(f"{v}__lang")),
            )
        # no aux columns: bound in subject/predicate position OR produced by
        # BIND — term kind unknown here, keep the plain lexical comparison
        return None
    if t[0] == "iri":
        return (F.lit(t[1]), F.lit("iri"), null_s, null_s)
    _, val, dt, lang = t
    if lang is not None:
        return (F.lit(val), F.lit("literal"), F.lit(RDF_LANGSTRING), F.lit(lang.lower()))
    return (F.lit(val), F.lit("literal"), F.lit(dt or XSD + "string"), null_s)


def _rdf_eq(op: str, am, bm) -> Column:
    """SPARQL RDFterm-equal for = / != (r3 ADVICE #1): two literals that are
    neither value-comparable (shared numeric/temporal domain) nor
    same-kind (equal effective datatype + language tag) raise a TYPE ERROR
    — the solution is ELIMINATED (NULL, which a FILTER drops) rather than
    compared lexically, for = and != alike.  A literal never equals an
    IRI/bnode (false, not an error)."""
    av, aty, adt, alang = am
    bv, bty, bdt, blang = bm
    both_lit = (aty == "literal") & (bty == "literal")
    comparable = (
        (adt.isin(_NUM_DTS) & bdt.isin(_NUM_DTS))
        | (adt.isin(_TS_DTS) & bdt.isin(_TS_DTS))
        | (adt.eqNullSafe(bdt) & alang.eqNullSafe(blang))
    )
    eq = (
        F.when(both_lit & ~comparable, F.lit(None).cast("boolean"))
        .when(aty != bty, F.lit(False))
        .otherwise(_cmp_dynamic("=", av, bv))
    )
    return eq if op == "=" else ~eq  # ~NULL stays NULL (still eliminated)


def _expr_col(e, cols: set[str] | None = None) -> Column:
    kind = e[0]
    if kind == "term":
        t = e[1]
        if t[0] == "var":
            return F.col(f"v_{t[1]}")
        if t[0] == "iri":
            return F.lit(t[1])
        return F.lit(t[1])  # literal → its lexical form
    if kind == "and":
        return _expr_col(e[1], cols) & _expr_col(e[2], cols)
    if kind == "or":
        return _expr_col(e[1], cols) | _expr_col(e[2], cols)
    if kind == "not":
        return ~_expr_col(e[1], cols)
    if kind == "cmp":
        if e[1] in ("=", "!="):
            am, bm = _term_meta(e[2], cols), _term_meta(e[3], cols)
            if am is not None and bm is not None:
                return _rdf_eq(e[1], am, bm)
        return _cmp_dynamic(e[1], _expr_col(e[2], cols), _expr_col(e[3], cols))
    if kind == "call":
        name, args = e[1], e[2]
        if name == "regex":
            if not (2 <= len(args) <= 3):
                raise SparqlUnsupported("sparql: regex() arity")
            pat = _const_str(args[1])
            if len(args) == 3 and "i" in _const_str(args[2]):
                pat = "(?i)" + pat
            return _expr_col(args[0], cols).rlike(pat)
        if name == "str":
            return _expr_col(args[0], cols)
        if name == "xsd:date":
            # a value that does not parse is a cast error: NULL, so any
            # FILTER comparing it drops the solution
            return F.try_to_timestamp(_expr_col(args[0], cols), F.lit("yyyy-MM-dd"))
        if name in ("lang", "datatype", "bound", "isiri", "isuri", "isblank", "isliteral"):
            t = args[0]
            if t[0] != "term" or t[1][0] != "var":
                raise SparqlUnsupported(f"sparql: {name}() expects a variable")
            v = t[1][1]
            if name == "lang":
                return F.coalesce(F.col(f"v_{v}__lang"), F.lit(""))
            if name == "datatype":
                return F.coalesce(F.col(f"v_{v}__dt"), F.lit(XSD + "string"))
            if name == "bound":
                return F.col(f"v_{v}").isNotNull()
            ty = F.col(f"v_{v}__type")
            if name in ("isiri", "isuri"):
                return ty == "iri"
            if name == "isblank":
                return ty == "bnode"
            return ty == "literal"
    raise SparqlUnsupported(f"sparql: unsupported expression {e!r}")


def _const_str(e) -> str:
    if e[0] == "term" and e[1][0] == "lit":
        return e[1][1]
    raise SparqlUnsupported("sparql: expected a string constant")


def _shared_vars(acc: DataFrame, other: DataFrame) -> list[str]:
    return sorted(
        c[2:]
        for c in other.columns
        if c in acc.columns
        and c.startswith("v_")
        and not any(c.endswith(a) for a in _AUX)
    )


def _with_aux(df: DataFrame, want_aux: set[str]) -> DataFrame:
    """Normalize UNION alternatives: when another alternative carries aux
    columns for a variable this one bound in subject/predicate position,
    synthesize them (IRI/bnode by construction) so unionByName does not
    leave NULL term-type slots that break downstream term-identity joins."""
    cols = set(df.columns)
    out = df
    for base in want_aux:
        if base in cols and f"{base}__type" not in cols:
            out = (
                out.withColumn(
                    f"{base}__type",
                    F.when(F.col(base).startswith("_:"), F.lit("bnode")).otherwise(
                        F.lit("iri")
                    ),
                )
                .withColumn(f"{base}__dt", F.lit(None).cast("string"))
                .withColumn(f"{base}__lang", F.lit(None).cast("string"))
            )
    return out


def _expr_vars(e) -> set[str]:
    """Variables referenced by a FILTER/BIND expression AST."""
    if e[0] == "term":
        return {e[1][1]} if e[1][0] == "var" else set()
    if e[0] in ("or", "and"):
        return _expr_vars(e[1]) | _expr_vars(e[2])
    if e[0] == "not":
        return _expr_vars(e[1])
    if e[0] == "cmp":
        return _expr_vars(e[2]) | _expr_vars(e[3])
    if e[0] == "call":
        out: set[str] = set()
        for a in e[2]:
            out |= _expr_vars(a)
        return out
    return set()


def _group_bound_vars(g: Group) -> set[str]:
    """Variables a group can bind (recursively: BGP, UNION alternatives,
    OPTIONAL sub-groups, BINDs, VALUES blocks)."""
    vs: set[str] = set()
    for tp in g.patterns:
        vs |= _tp_vars(tp)
    for alts in g.unions:
        for a in alts:
            vs |= _group_bound_vars(a)
    for og in g.optionals:
        vs |= _group_bound_vars(og)
    vs |= {name for name, _ in g.binds}
    for vars_, _rows in g.values_blocks:
        vs |= set(vars_)
    return vs


def _optional_only_vars(g: Group) -> set[str]:
    """Variables a group binds only inside OPTIONAL — possibly unbound."""
    certain = _group_bound_vars(
        Group(g.patterns, unions=g.unions, binds=g.binds, values_blocks=g.values_blocks)
    )
    return set().union(*(_group_bound_vars(og) for og in g.optionals)) - certain


def _check_standalone_filters(g: Group, where: str) -> None:
    """Nested groups (UNION alternatives, OPTIONAL, MINUS) are evaluated
    standalone before joining, so their top-level FILTER/BIND expressions
    may only reference variables bound INSIDE the group.  An outer-scope
    reference (legal SPARQL — the spec's LeftJoin(A,B,F) evaluates F over
    the joined solution) is outside the subset: surface it as
    SparqlUnsupported at compile time instead of a raw Spark
    unresolved-column error at evaluation time (ADVICE r4).  Deeper
    nesting is checked when evaluation recurses into it."""
    bound = _group_bound_vars(g)
    free: set[str] = set()
    for fe in g.filters:
        free |= _expr_vars(fe)
    for _, e in g.binds:
        free |= _expr_vars(e)
    missing = sorted(free - bound)
    if missing:
        raise SparqlUnsupported(
            f"sparql: FILTER/BIND in {where} references outer variable(s) "
            f"{missing} not bound inside the group (outer-scope filter "
            "evaluation is outside the subset)"
        )


def _values_df(spark, vars_: list[str], rows: list[list[Term]]) -> DataFrame:
    """A VALUES block as an inline binding relation: ``v_<var>`` plus the
    term aux columns (type/datatype/lang), one row per data tuple.  KB-
    sized by construction (published shapes enumerate format lists etc.),
    so Catalyst broadcasts it into the join."""
    from pyspark.sql import types as T

    data = []
    for row in rows:
        rec: list = []
        for t in row:
            if t[0] == "iri":
                rec += [t[1], "iri", None, None]
            else:  # ("lit", value, dt, lang) — dt pre-normalized by term()
                _, val, dt, lang = t
                rec += [val, "literal", dt, (lang.lower() if lang else None)]
        data.append(tuple(rec))
    fields = []
    for v in vars_:
        for suffix in ("", *_AUX):
            fields.append(T.StructField(f"v_{v}{suffix}", T.StringType(), True))
    # VALUES is a bag; dedup on the driver (no shuffle in the plan)
    return local_df(spark, list(dict.fromkeys(data)), T.StructType(fields))


def _group_df(triples: DataFrame, g: Group) -> DataFrame:
    """Evaluate one group graph pattern to a binding relation.

    Order: BGP → UNION blocks → VALUES joins → OPTIONAL left joins →
    BIND columns → FILTER predicates → NOT EXISTS / MINUS anti-joins.
    For queries inside the pre-r4 subset the plan is identical to the old
    eval path."""
    # static VALUES connectivity check BEFORE building any plan (fail at
    # compile time, like the cartesian-BGP check)
    static_bound: set[str] = set()
    for tp in g.patterns:
        static_bound |= _tp_vars(tp)
    for alts_ in g.unions:
        for a in alts_:
            static_bound |= _group_bound_vars(a)
    for vars_, _rows in g.values_blocks:
        if (g.patterns or g.unions) and not (set(vars_) & static_bound):
            raise SparqlUnsupported(
                "sparql: VALUES must share a variable with the surrounding "
                "pattern (a free-standing cartesian VALUES is outside the subset)"
            )
        static_bound |= set(vars_)

    acc = _eval_bgp(triples, g.patterns) if g.patterns else None
    for alts in g.unions:
        for a in alts:
            _check_standalone_filters(a, "a UNION alternative")
        alt_dfs = [_group_df(triples, a) for a in alts]
        aux_bases = {
            c[: -len("__type")]
            for d in alt_dfs
            for c in d.columns
            if c.endswith("__type")
        }
        alt_dfs = [_with_aux(d, aux_bases) for d in alt_dfs]
        u = alt_dfs[0]
        for d in alt_dfs[1:]:
            u = u.unionByName(d, allowMissingColumns=True)
        if acc is None:
            acc = u
            continue
        shared = _shared_vars(acc, u)
        if not shared:
            raise SparqlUnsupported(
                "sparql: UNION block must share a variable with the surrounding pattern"
            )
        for d in alt_dfs:
            missing = [v for v in shared if f"v_{v}" not in d.columns]
            if missing:
                raise SparqlUnsupported(
                    "sparql: UNION alternative does not bind shared variable(s) "
                    f"{missing} (unbound-compatible joins are outside the subset)"
                )
        acc = _join_on_vars(acc, u, shared)
    for vars_, rows in g.values_blocks:
        vdf = _values_df(triples.sparkSession, vars_, rows)
        if acc is None:
            acc = vdf
            continue
        shared = [v for v in vars_ if f"v_{v}" in acc.columns]
        if not shared:
            raise SparqlUnsupported(
                "sparql: VALUES must share a variable with the surrounding "
                "pattern (a free-standing cartesian VALUES is outside the subset)"
            )
        # inner join on the shared vars (RDF term identity via the aux
        # columns — _join_on_vars coalesces the two plain/xsd:string
        # storage forms); unshared VALUES vars become new bindings
        acc = _join_on_vars(acc, vdf, shared)
    for og in g.optionals:
        if acc is None:
            raise SparqlUnsupported(
                "sparql: OPTIONAL with no preceding pattern is outside the subset"
            )
        _check_standalone_filters(og, "OPTIONAL")
        od = _group_df(triples, og)
        shared = _shared_vars(acc, od)
        if not shared:
            raise SparqlUnsupported(
                "sparql: OPTIONAL must share a variable with the outer pattern"
            )
        acc = _join_on_vars(acc, od, shared, how="left")
    for name, e in g.binds:
        if acc is None:
            raise SparqlUnsupported(
                "sparql: BIND with no preceding pattern is outside the subset"
            )
        if f"v_{name}" in acc.columns:
            raise SparqlUnsupported(f"sparql: BIND reassigns ?{name}")
        acc = acc.withColumn(f"v_{name}", _expr_col(e, set(acc.columns)))
    if acc is None:
        raise SparqlUnsupported("sparql: empty graph pattern")
    for fe in g.filters:
        acc = acc.filter(_expr_col(fe, set(acc.columns)))
    for sub in g.not_exists:
        sub_df = _eval_bgp(triples, sub)
        shared = _shared_vars(acc, sub_df)
        if not shared:
            raise SparqlUnsupported(
                "sparql: NOT EXISTS must share a variable with the outer pattern"
            )
        acc = _join_on_vars(acc, sub_df, shared, how="left_anti")
    for mg in g.minuses:
        _check_standalone_filters(mg, "MINUS")
        md = _group_df(triples, mg)
        shared = _shared_vars(acc, md)
        if not shared:
            # SPARQL Minus(A, B): solutions with disjoint domains are NOT
            # removed — a MINUS sharing no variable is a spec-correct no-op
            continue
        # an unbound shared variable is compatible in Minus(A, B) but never
        # equal in the anti-join, which would keep solutions the spec removes
        risky = sorted(set(shared) & (_optional_only_vars(g) | _optional_only_vars(mg)))
        if risky:
            raise SparqlUnsupported(
                f"sparql: MINUS shares variable(s) {risky} bound only inside "
                "OPTIONAL (unbound-compatible MINUS is outside the subset)"
            )
        acc = _join_on_vars(acc, md, shared, how="left_anti")
    return acc


def eval_select(triples: DataFrame, q: SelectQuery) -> DataFrame:
    """Evaluate the query over the triples relation; returns one column per
    projected variable (named after the variable, ``$this`` → ``this``)."""
    root = Group(
        q.patterns, q.filters, q.not_exists, q.optionals, q.unions, q.binds,
        q.values_blocks, q.minuses,
    )
    acc = _group_df(triples, root)
    missing = [v for v in q.project if f"v_{v}" not in acc.columns]
    if missing:
        raise SparqlUnsupported(f"sparql: projected variables never bound: {missing}")
    return acc.select(*[F.col(f"v_{v}").alias(v) for v in q.project]).dropDuplicates()
