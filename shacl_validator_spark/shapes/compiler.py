"""SHACL shape compiler: Turtle shapes graph → broadcastable constraint table.

The reference fetches profile shape files, parses them with N3, unions the
quads, and hands the dataset to ``shacl-engine``
(reference src/services/SHACLValidationService.ts:101-158, 398-408).  Here the
same shapes graph is compiled **once, driver-side** into one row per
property-shape constraint (FIXTURES.md §3); the executor-side validator
(operators/validate.py) is pure DataFrame joins/aggs against that broadcast
table — no RDF library and no per-row Python on executors.

Includes:
- a minimal Turtle-subset parser (shapes are KBs; prefixes, prefixed names,
  IRIs, literals with lang/datatype, blank-node property lists, RDF
  collections, ``a``, ``;``/``,`` continuation) — replaces the reference's
  N3 parser for the driver-side-only shape files
  (reference src/services/RDFService.ts:42-58),
- the sh:pattern regex dialect translation (reference rewrites PCRE dotall
  for JS at SHACLValidationService.ts:76-99; Spark ``rlike`` is Java regex,
  which supports inline ``(?s)`` natively, so the translation embeds
  sh:flags as an inline group instead),
- SHACL path rendering — sequence parts joined ``/``, alternatives
  ``(a | b)`` (reference SHACLValidationService.ts:207-247).
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

from ..local_df import local_df
from ..model import CONSTRAINT_SCHEMA, RDF_TYPE, SH

RDF_FIRST = "http://www.w3.org/1999/02/22-rdf-syntax-ns#first"
RDF_REST = "http://www.w3.org/1999/02/22-rdf-syntax-ns#rest"
RDF_NIL = "http://www.w3.org/1999/02/22-rdf-syntax-ns#nil"

# --------------------------------------------------------------------------
# Turtle-subset parser (driver-side only; shapes graphs are KBs)
# --------------------------------------------------------------------------


@dataclass
class Term:
    kind: str  # 'iri' | 'bnode' | 'literal'
    value: str
    datatype: str | None = None
    lang: str | None = None


@dataclass
class ParsedGraph:
    """Tiny in-memory triple index with the lookups the compiler needs."""

    triples: list[tuple[str, str, Term]] = field(default_factory=list)
    # the document's @prefix table — kept for sh:sparql query resolution
    # (leniently unioned under any sh:prefixes/sh:declare entries)
    prefixes: dict[str, str] = field(default_factory=dict)

    def objects(self, subject: str, predicate: str) -> list[Term]:
        return [o for s, p, o in self.triples if s == subject and p == predicate]

    def first(self, subject: str, predicate: str) -> Term | None:
        objs = self.objects(subject, predicate)
        return objs[0] if objs else None

    def subjects_with(self, predicate: str) -> list[str]:
        seen: dict[str, None] = {}
        for s, p, _ in self.triples:
            if p == predicate:
                seen.setdefault(s)
        return list(seen)

    def rdf_list(self, head: str) -> list[Term]:
        """Expand an rdf:first/rdf:rest collection starting at ``head``."""
        out: list[Term] = []
        node = head
        for _ in range(10_000):  # cycle guard
            if node == RDF_NIL:
                return out
            first = self.first(node, RDF_FIRST)
            rest = self.first(node, RDF_REST)
            if first is None:
                return out
            out.append(first)
            node = rest.value if rest is not None else RDF_NIL
        return out


_TOKEN_RE = re.compile(
    r"""
      (?P<comment>\#[^\n]*)
    | (?P<iri><[^>]*>)
    | (?P<string>\"\"\"(?:[^"\\]|\\.|\"(?!\"\"))*\"\"\"|"(?:[^"\\\n]|\\.)*")
    | (?P<kw>@prefix|@base|\btrue\b|\bfalse\b)
    | (?P<langtag>@[a-zA-Z][a-zA-Z0-9-]*)
    | (?P<dtype>\^\^)
    | (?P<pname>(?:[A-Za-z_][\w-]*)?:(?:[\w%-]|\.(?=[\w%-])|\\.)*)
    | (?P<number>[+-]?\d+(?:\.\d+)?(?:[eE][+-]?\d+)?)
    | (?P<a>\ba\b)
    | (?P<punct>[\[\]();,.])
    | (?P<ws>\s+)
    """,
    re.VERBOSE,
)

_ESCAPES = {
    "t": "\t",
    "n": "\n",
    "r": "\r",
    "b": "\b",
    "f": "\f",
    '"': '"',
    "'": "'",
    "\\": "\\",
}


def _unescape(s: str) -> str:
    out: list[str] = []
    i = 0
    while i < len(s):
        c = s[i]
        if c == "\\" and i + 1 < len(s):
            n = s[i + 1]
            if n == "u" and i + 5 < len(s):
                out.append(chr(int(s[i + 2 : i + 6], 16)))
                i += 6
                continue
            if n == "U" and i + 9 < len(s):
                out.append(chr(int(s[i + 2 : i + 10], 16)))
                i += 10
                continue
            out.append(_ESCAPES.get(n, n))
            i += 2
            continue
        out.append(c)
        i += 1
    return "".join(out)


class _Tokens:
    def __init__(self, text: str):
        self.toks: list[tuple[str, str]] = []
        pos = 0
        for m in _TOKEN_RE.finditer(text):
            if m.start() != pos:
                raise ValueError(f"turtle: unexpected char at {pos}: {text[pos:pos+20]!r}")
            pos = m.end()
            kind = m.lastgroup
            if kind in ("ws", "comment"):
                continue
            self.toks.append((kind or "pname", m.group(0)))
        if pos != len(text):
            raise ValueError(f"turtle: unexpected char at {pos}: {text[pos:pos+20]!r}")
        self.i = 0

    def peek(self) -> tuple[str, str] | None:
        return self.toks[self.i] if self.i < len(self.toks) else None

    def next(self) -> tuple[str, str]:
        t = self.toks[self.i]
        self.i += 1
        return t


class _TurtleParser:
    def __init__(self, text: str, bnode_prefix: str = "_:b"):
        self.tk = _Tokens(text)
        self.prefixes: dict[str, str] = {}
        self.base = ""
        self.bnode_prefix = bnode_prefix
        self.bnode_n = 0
        self.out: list[tuple[str, str, Term]] = []

    def fresh_bnode(self) -> str:
        self.bnode_n += 1
        return f"{self.bnode_prefix}{self.bnode_n}"

    def parse(self) -> ParsedGraph:
        while self.tk.peek() is not None:
            kind, val = self.tk.peek()  # type: ignore[misc]
            if val == "@prefix":
                self.tk.next()
                _, pname = self.tk.next()  # 'pfx:'
                _, iri = self.tk.next()
                self.prefixes[pname[:-1] if pname.endswith(":") else pname.split(":")[0]] = iri[1:-1]
                self._expect(".")
            elif val == "@base":
                self.tk.next()
                _, iri = self.tk.next()
                self.base = iri[1:-1]
                self._expect(".")
            else:
                self._triples_block()
        return ParsedGraph(self.out, dict(self.prefixes))

    def _expect(self, punct: str) -> None:
        kind, val = self.tk.next()
        if val != punct:
            raise ValueError(f"turtle: expected {punct!r}, got {val!r}")

    def _triples_block(self) -> None:
        subj = self._subject()
        self._predicate_object_list(subj)
        self._expect(".")

    def _subject(self) -> str:
        kind, val = self.tk.peek()  # type: ignore[misc]
        if val == "[":
            return self._bnode_property_list()
        if val == "(":
            return self._collection().value
        term = self._term()
        return term.value

    def _predicate_object_list(self, subj: str) -> None:
        while True:
            pred = self._predicate()
            while True:
                obj = self._object()
                self.out.append((subj, pred, obj))
                nxt = self.tk.peek()
                if nxt is not None and nxt[1] == ",":
                    self.tk.next()
                    continue
                break
            nxt = self.tk.peek()
            if nxt is not None and nxt[1] == ";":
                self.tk.next()
                nxt2 = self.tk.peek()
                # trailing ';' before '.' or ']'
                if nxt2 is not None and nxt2[1] in (".", "]", ";"):
                    while nxt2 is not None and nxt2[1] == ";":
                        self.tk.next()
                        nxt2 = self.tk.peek()
                    if nxt2 is not None and nxt2[1] in (".", "]"):
                        return
                continue
            return

    def _predicate(self) -> str:
        kind, val = self.tk.peek()  # type: ignore[misc]
        if val == "a":
            self.tk.next()
            return RDF_TYPE
        return self._term().value

    def _object(self) -> Term:
        kind, val = self.tk.peek()  # type: ignore[misc]
        if val == "[":
            return Term("bnode", self._bnode_property_list())
        if val == "(":
            return self._collection()
        return self._term()

    def _bnode_property_list(self) -> str:
        self._expect("[")
        node = self.fresh_bnode()
        nxt = self.tk.peek()
        if nxt is not None and nxt[1] == "]":
            self.tk.next()
            return node
        self._predicate_object_list(node)
        self._expect("]")
        return node

    def _collection(self) -> Term:
        self._expect("(")
        items: list[Term] = []
        while True:
            nxt = self.tk.peek()
            if nxt is None:
                raise ValueError("turtle: unterminated collection")
            if nxt[1] == ")":
                self.tk.next()
                break
            items.append(self._object())
        if not items:
            return Term("iri", RDF_NIL)
        head = self.fresh_bnode()
        node = head
        for i, item in enumerate(items):
            self.out.append((node, RDF_FIRST, item))
            if i == len(items) - 1:
                self.out.append((node, RDF_REST, Term("iri", RDF_NIL)))
            else:
                nxt_node = self.fresh_bnode()
                self.out.append((node, RDF_REST, Term("bnode", nxt_node)))
                node = nxt_node
        return Term("bnode", head)

    def _term(self) -> Term:
        kind, val = self.tk.next()
        if kind == "iri":
            iri = _unescape(val[1:-1])
            if self.base and not re.match(r"^[a-zA-Z][a-zA-Z0-9+.-]*:", iri):
                iri = self.base + iri
            return Term("iri", iri)
        if kind == "string":
            raw = val[3:-3] if val.startswith('"""') else val[1:-1]
            text = _unescape(raw)
            nxt = self.tk.peek()
            if nxt is not None and nxt[0] == "langtag":
                self.tk.next()
                return Term("literal", text, lang=nxt[1][1:])
            if nxt is not None and nxt[0] == "dtype":
                self.tk.next()
                dt = self._term()
                return Term("literal", text, datatype=dt.value)
            return Term("literal", text, datatype="http://www.w3.org/2001/XMLSchema#string")
        if kind == "number":
            dt = (
                "http://www.w3.org/2001/XMLSchema#integer"
                if re.fullmatch(r"[+-]?\d+", val)
                else "http://www.w3.org/2001/XMLSchema#decimal"
            )
            return Term("literal", val, datatype=dt)
        if val in ("true", "false"):
            return Term("literal", val, datatype="http://www.w3.org/2001/XMLSchema#boolean")
        if val == "a":
            return Term("iri", RDF_TYPE)
        if ":" in val:  # prefixed name, possibly '_:bnode'
            pfx, _, local = val.partition(":")
            if pfx == "_":
                return Term("bnode", val)
            if pfx not in self.prefixes:
                raise ValueError(f"turtle: unknown prefix {pfx!r}")
            return Term("iri", self.prefixes[pfx] + _unescape(local))
        raise ValueError(f"turtle: unexpected token {val!r}")


def parse_turtle(text: str, bnode_prefix: str = "_:b") -> ParsedGraph:
    """Parse a Turtle subset into an in-memory graph (driver-side only)."""
    return _TurtleParser(text, bnode_prefix).parse()


# --------------------------------------------------------------------------
# Pattern + path compilation
# --------------------------------------------------------------------------


def compile_pattern(pattern: str, flags: str | None = None) -> str:
    """Translate a sh:pattern (PCRE-ish) for Spark ``rlike`` (Java regex).

    The reference rewrites inline-dotall PCRE for the JS engine
    (SHACLValidationService.ts:76-99: ``(?s)^a.*b$`` → ``^a[\\s\\S]*b$``).
    Java regex supports ``(?s)`` natively, so no body rewrite is needed;
    sh:flags are embedded as an inline group since ``rlike`` takes none.
    """
    if flags:
        valid = "".join(f for f in flags if f in "imsxuU")
        if valid:
            return f"(?{valid}){pattern}"
    return pattern


def _render_alt(alt: str) -> str:
    """Render one encoded step alternative for reports.

    Encoding (see ``_path_steps``): a leading ``^`` marks sh:inversePath,
    ``*`` sh:zeroOrMorePath, ``+`` sh:oneOrMorePath, ``?``
    sh:zeroOrOnePath; renderings follow the SPARQL property-path surface
    syntax (``^p``, ``p*``, ``p+``, ``p?``)."""
    mods = ""
    while alt and alt[0] in "^*+?":
        mods += alt[0]
        alt = alt[1:]
    out = alt
    if "^" in mods:
        out = "^" + out
    if "*" in mods:
        out = out + "*"
    if "+" in mods:
        out = out + "+"
    if "?" in mods:
        out = out + "?"
    return out


def render_path(steps: list[list[str]]) -> str:
    """Render path steps for reports: sequences ``a/b``, alternatives
    ``(a | b)`` — reference SHACLValidationService.ts:207-247; inverse and
    closure modifiers use the SPARQL surface forms ``^p`` / ``p*`` / ``p+``."""
    parts = []
    for alts in steps:
        rendered = [_render_alt(a) for a in alts]
        if len(rendered) == 1:
            parts.append(rendered[0])
        else:
            parts.append("(" + " | ".join(rendered) + ")")
    return "/".join(parts)


# --------------------------------------------------------------------------
# Shapes graph → constraint rows
# --------------------------------------------------------------------------


def _severity_of(term: Term | None) -> str:
    """sh:severity IRI → enum by substring — reference
    SHACLValidationService.ts:294-299 (warning/info/else Violation)."""
    if term is None:
        return "Violation"
    v = term.value.lower()
    if "warning" in v:
        return "Warning"
    if "info" in v:
        return "Info"
    return "Violation"


# Bounded unroll of sh:zeroOrMorePath / sh:oneOrMorePath: the validator
# follows closure chains at most this many hops deep (operators/validate.py
# ``_closure``), so compile_shapes warns about every property shape whose
# path has a closure step
PATH_DEPTH = 4


def _path_alt(g: ParsedGraph, term: Term, warnings: list[str]) -> str:
    """Resolve one non-sequence path node into an encoded alternative.

    Encoding: plain IRI → itself; sh:inversePath → ``^`` prefix;
    sh:zeroOrMorePath → ``*`` prefix; sh:oneOrMorePath → ``+`` prefix;
    sh:zeroOrOnePath → ``?`` prefix.
    Modifiers compose (``*^p`` = zero-or-more of inverse p); modifiers over
    non-atomic paths (a sequence under a closure) are out of scope and warn.
    """
    if term.kind == "iri":
        return term.value
    node = term.value
    for pred, mod in (
        ("inversePath", "^"),
        ("zeroOrMorePath", "*"),
        ("oneOrMorePath", "+"),
        ("zeroOrOnePath", "?"),
    ):
        inner = g.first(node, SH + pred)
        if inner is not None:
            if inner.kind == "iri":
                return mod + inner.value
            sub = _path_alt(g, inner, warnings)
            if sub.lstrip("^*+?") != sub or g.rdf_list(inner.value):
                if g.rdf_list(inner.value):
                    warnings.append(
                        f"sh:{pred} over a sequence path is unsupported; "
                        f"treating inner head only"
                    )
            return mod + sub
    return node


def _path_steps(
    g: ParsedGraph, path_term: Term, warnings: list[str] | None = None
) -> list[list[str]]:
    """Resolve sh:path into evaluable steps.

    Direct IRI → one step; rdf:list → sequence; node with
    sh:alternativePath list → one multi-alternative step; inverse /
    zero-or-more / one-or-more nodes → modifier-prefixed alternatives
    (see ``_path_alt``).
    """
    warnings = warnings if warnings is not None else []
    if path_term.kind == "iri":
        return [[path_term.value]]
    node = path_term.value
    alt = g.first(node, SH + "alternativePath")
    if alt is not None:
        alts = g.rdf_list(alt.value)
        return [[_path_alt(g, t, warnings) for t in alts]]
    if any(
        g.first(node, SH + p) is not None
        for p in ("inversePath", "zeroOrMorePath", "oneOrMorePath", "zeroOrOnePath")
    ):
        return [[_path_alt(g, path_term, warnings)]]
    seq = g.rdf_list(node)
    if seq:
        steps: list[list[str]] = []
        for t in seq:
            steps.extend(_path_steps(g, t, warnings))
        return steps
    return [[node]]


def _int_of(term: Term | None) -> int | None:
    if term is None:
        return None
    try:
        return int(term.value)
    except ValueError:
        return None


def _float_of(term: Term | None) -> float | None:
    if term is None:
        return None
    try:
        return float(term.value)
    except ValueError:
        return None


# ISO xsd:date / xsd:dateTime lexical forms (the SPARQL-comparable temporal
# domain the range facets support beyond numerics)
_TS_LEX_RE = re.compile(
    r"^\d{4}-\d{2}-\d{2}(T\d{2}:\d{2}:\d{2}(\.\d+)?(Z|[+-]\d{2}:\d{2})?)?$"
)


def _ts_parses(lex: str) -> bool:
    """Field-range check on top of the digit-shape regex: '2020-13-45'
    must WARN, not compile into an inert facet whose to_timestamp yields
    NULL (or throws under ANSI) at evaluation."""
    import datetime as _dt

    try:
        if "T" in lex:
            _dt.datetime.fromisoformat(lex.replace("Z", "+00:00"))
        else:
            _dt.date.fromisoformat(lex)
        return True
    except ValueError:
        return False


def _range_facet(
    g: ParsedGraph, prop: str, name: str, ctx: _Ctx
) -> tuple[float | None, str | None]:
    """(numeric, temporal) form of sh:{name} — at most one is set.  A
    facet literal that is neither numeric nor an ISO xsd:date/dateTime
    WARNS instead of silently vanishing (the module contract: a compile
    with zero warnings ran with nothing skipped)."""
    t = g.first(prop, SH + name)
    if t is None:
        return None, None
    num = _float_of(t)
    if num is not None:
        return num, None
    if _TS_LEX_RE.match(t.value) and _ts_parses(t.value):
        return None, t.value
    ctx.warnings.append(
        f"property {prop}: sh:{name} literal {t.value!r} is neither numeric "
        "nor xsd:date/dateTime — facet skipped"
    )
    return None, None


# Facet keys every constraint row carries (None when unset) — keep in sync
# with model.CONSTRAINT_SCHEMA.
_ROW_DEFAULTS = {
    "target_class": None,
    "target_subjects_of": None,
    "target_objects_of": None,
    "target_node": None,
    "path": None,
    "path_steps": None,
    "min_count": None,
    "max_count": None,
    "datatype": None,
    "datatype_in": None,
    "node_kind": None,
    "pattern": None,
    "flags": None,
    "in_list": None,
    "class_iri": None,
    "min_inclusive": None,
    "max_inclusive": None,
    "min_exclusive": None,
    "max_exclusive": None,
    "min_inclusive_ts": None,
    "max_inclusive_ts": None,
    "min_exclusive_ts": None,
    "max_exclusive_ts": None,
    "less_than": None,
    "less_than_or_equals": None,
    "equals": None,
    "disjoint": None,
    "closed": None,
    "closed_allowed": None,
    "unique_lang": None,
    "language_in": None,
    "has_value": None,
    "min_length": None,
    "max_length": None,
    "node_branch": None,
    "or_branches": None,
    "and_branches": None,
    "xone_branches": None,
    "not_branch": None,
    "qvs_branch": None,
    "q_min_count": None,
    "q_max_count": None,
    "qvs_disjoint": None,
    "qvs_sibling_branches": None,
    "nested_under": None,
    "sparql_select": None,
    "sparql_prefixes": None,
}

# constraint predicates a branch shape may carry as pure per-value facets
_BRANCH_SUPPORTED = {
    SH + p
    for p in ("datatype", "nodeKind", "class", "pattern", "flags", "minLength", "maxLength", "property", "node", "name", "description", "message", "path")
}


class _Ctx:
    """Per-compile accumulator: nested-shape definition rows + warnings."""

    def __init__(self, warnings: list[str]):
        self.defs: list[dict] = []
        self.seen: set[str] = set()
        self.warnings = warnings


def _branch_of(g: ParsedGraph, term: Term, ctx: _Ctx) -> dict:
    """Compile a branch shape (operand of or/and/xone/not, sh:node target,
    or qualifiedValueShape) into a BRANCH dict.

    Simple facets compile inline; sh:property children compile to nested
    definition rows referenced by ``node_ref``; anything else warns so a
    dropped constraint is visible (a silently vanishing branch would make
    non-conforming data report as conforming)."""
    node = term.value
    pattern_t = g.first(node, SH + "pattern")
    flags_t = g.first(node, SH + "flags")
    nk_t = g.first(node, SH + "nodeKind")
    cls_t = g.first(node, SH + "class")
    dt_t = g.first(node, SH + "datatype")
    inner_node = g.first(node, SH + "node")
    br = {
        "datatype": dt_t.value if dt_t is not None else None,
        "node_kind": nk_t.value.rsplit("#", 1)[-1] if nk_t is not None else None,
        "class_iri": cls_t.value if cls_t is not None else None,
        "pattern": (
            compile_pattern(pattern_t.value, flags_t.value if flags_t else None)
            if pattern_t is not None
            else None
        ),
        "min_length": _int_of(g.first(node, SH + "minLength")),
        "max_length": _int_of(g.first(node, SH + "maxLength")),
        "node_ref": None,
    }
    if g.objects(node, SH + "property"):
        _compile_nested(g, node, ctx)
        br["node_ref"] = node
    if inner_node is not None:
        # branch is itself a property-less wrapper around sh:node
        sub = _branch_of(g, inner_node, ctx)
        for k, v in sub.items():
            if br.get(k) is None:
                br[k] = v
    for s, p, _ in g.triples:
        if s == node and p.startswith(SH) and p not in _BRANCH_SUPPORTED:
            ctx.warnings.append(
                f"branch shape {node}: unsupported constraint {p} ignored"
            )
    return br


def _compile_nested(g: ParsedGraph, shape: str, ctx: _Ctx) -> None:
    """Compile a nested node shape's property shapes into definition rows
    (``nested_under`` = the shape id, no targets).  The validator resolves
    them with dynamic targets = the referencing constraint's value nodes."""
    if shape in ctx.seen:
        return
    ctx.seen.add(shape)
    facet_lists = [
        _prop_constraints(g, prop_t.value, shape, ctx)
        for prop_t in g.objects(shape, SH + "property")
    ]
    _wire_qvs_siblings(facet_lists)
    for facets_list in facet_lists:
        for facets in facets_list:
            facets["nested_under"] = shape
            ctx.defs.append(facets)


def _prop_constraints(
    g: ParsedGraph, prop: str, shape: str, ctx: _Ctx, require_path: bool = True
) -> list[dict]:
    """Compile one property shape into one-or-more facet dicts (no targets).

    The first dict carries every simple facet plus the first of each
    logical/nested constraint kind; additional sh:or / sh:node objects on
    the same property shape (a conjunction of constraints) emit extra
    dicts so each stays one row.

    With ``require_path=False`` (node-shape-level constraints) a missing
    sh:path compiles to the EMPTY step sequence — the value node is the
    focus node itself (SHACL §2.1.3: constraints declared directly on a
    node shape apply to the focus node), and violation rows carry a null
    resultPath."""
    path_t = g.first(prop, SH + "path")
    if path_t is None and require_path:
        return []
    # sh:deactivated true — the property shape is skipped entirely
    # (SHACL core §2.1.3.3); no constraint rows, no warnings
    deact = g.first(prop, SH + "deactivated")
    if deact is not None and deact.value == "true":
        return []
    steps = _path_steps(g, path_t, ctx.warnings) if path_t is not None else []
    # an encoded alternative's leading modifiers (see _path_alt)
    if any(
        {"*", "+"} & set(alt[: len(alt) - len(alt.lstrip("^*+?"))])
        for alts in steps
        for alt in alts
    ):
        ctx.warnings.append(
            f"property {prop}: sh:path {render_path(steps)} follows a "
            f"sh:zeroOrMorePath/sh:oneOrMorePath closure at most {PATH_DEPTH} "
            f"hops deep; chains longer than {PATH_DEPTH} hops are cut"
        )
    severity = _severity_of(g.first(prop, SH + "severity"))
    messages = [
        {"text": m.value, "lang": (m.lang.lower().split("-")[0] if m.lang else None)}
        for m in g.objects(prop, SH + "message")
    ]
    pp_t = g.first(prop, "http://xmlns.com/foaf/0.1/page")
    base = dict(_ROW_DEFAULTS)
    base.update(
        {
            "shape_iri": shape if prop.startswith("_:") else prop,
            "path": render_path(steps) if steps else None,
            "path_steps": steps,
            "severity": severity,
            "messages": messages or None,
            "foaf_page": pp_t.value if pp_t is not None else None,
        }
    )
    out = [dict(base)]

    pattern_t = g.first(prop, SH + "pattern")
    flags_t = g.first(prop, SH + "flags")
    in_t = g.first(prop, SH + "in")
    dt_t = g.first(prop, SH + "datatype")
    nk_t = g.first(prop, SH + "nodeKind")
    cls_t = g.first(prop, SH + "class")
    ul_t = g.first(prop, SH + "uniqueLang")
    li_t = g.first(prop, SH + "languageIn")
    hv_t = g.first(prop, SH + "hasValue")
    out[0].update(
        {
            "min_count": _int_of(g.first(prop, SH + "minCount")),
            "max_count": _int_of(g.first(prop, SH + "maxCount")),
            "datatype": dt_t.value if dt_t is not None else None,
            "node_kind": nk_t.value.rsplit("#", 1)[-1] if nk_t is not None else None,
            "pattern": (
                compile_pattern(pattern_t.value, flags_t.value if flags_t else None)
                if pattern_t is not None
                else None
            ),
            "flags": flags_t.value if flags_t is not None else None,
            "in_list": (
                [t.value for t in g.rdf_list(in_t.value)] if in_t is not None else None
            ),
            "class_iri": cls_t.value if cls_t is not None else None,
            **{
                k: v
                for name, nk, tk in (
                    ("minInclusive", "min_inclusive", "min_inclusive_ts"),
                    ("maxInclusive", "max_inclusive", "max_inclusive_ts"),
                    ("minExclusive", "min_exclusive", "min_exclusive_ts"),
                    ("maxExclusive", "max_exclusive", "max_exclusive_ts"),
                )
                for k, v in zip((nk, tk), _range_facet(g, prop, name, ctx))
            },
            "unique_lang": (
                True if ul_t is not None and ul_t.value == "true" else None
            ),
            # language tags compare case-insensitively (BCP47)
            "language_in": (
                [t.value.lower() for t in g.rdf_list(li_t.value)]
                if li_t is not None
                else None
            ),
            "has_value": hv_t.value if hv_t is not None else None,
            "min_length": _int_of(g.first(prop, SH + "minLength")),
            "max_length": _int_of(g.first(prop, SH + "maxLength")),
        }
    )

    def _slot(key: str, value) -> None:
        """Place a logical/nested constraint on the first dict whose slot is
        free, else append an extra row (conjunction semantics)."""
        for d in out:
            if d.get(key) is None:
                d[key] = value
                return
        extra = dict(base)
        extra[key] = value
        out.append(extra)

    # Pair components (sh:lessThan / lessThanOrEquals / equals / disjoint)
    # go through _slot: each facet names ONE sibling predicate per row, so a
    # property shape carrying several pair constraints emits extra rows
    # instead of conflating sibling value sets in one aggregation.
    for pred, slot_key in (
        ("lessThan", "less_than"),
        ("lessThanOrEquals", "less_than_or_equals"),
        ("equals", "equals"),
        ("disjoint", "disjoint"),
    ):
        for t in g.objects(prop, SH + pred):
            _slot(slot_key, t.value)
    # general sh:or — ALL sh:or objects are compiled (round-2 examined only
    # the first and silently dropped non-datatype lists, ADVICE r2 #4);
    # pure-datatype lists keep the cheaper datatype_in column path
    for or_t in g.objects(prop, SH + "or"):
        branch_terms = g.rdf_list(or_t.value)
        if not branch_terms:
            ctx.warnings.append(f"property {prop}: empty sh:or list ignored")
            continue
        branch_dts = [g.first(b.value, SH + "datatype") for b in branch_terms]
        pure_datatype = all(d is not None for d in branch_dts) and all(
            not g.objects(b.value, SH + "property")
            and all(
                p in (SH + "datatype",) or not p.startswith(SH)
                for s, p, _ in g.triples
                if s == b.value
            )
            for b in branch_terms
        )
        if pure_datatype and out[0].get("datatype_in") is None:
            out[0]["datatype_in"] = [d.value for d in branch_dts]
        else:
            _slot("or_branches", [_branch_of(g, b, ctx) for b in branch_terms])
    for and_t in g.objects(prop, SH + "and"):
        _slot("and_branches", [_branch_of(g, b, ctx) for b in g.rdf_list(and_t.value)])
    for xone_t in g.objects(prop, SH + "xone"):
        _slot("xone_branches", [_branch_of(g, b, ctx) for b in g.rdf_list(xone_t.value)])
    for not_t in g.objects(prop, SH + "not"):
        _slot("not_branch", _branch_of(g, not_t, ctx))
    for node_t in g.objects(prop, SH + "node"):
        _slot("node_branch", _branch_of(g, node_t, ctx))
    qvs_t = g.first(prop, SH + "qualifiedValueShape")
    if qvs_t is not None:
        out[0]["qvs_branch"] = _branch_of(g, qvs_t, ctx)
        out[0]["q_min_count"] = _int_of(g.first(prop, SH + "qualifiedMinCount"))
        out[0]["q_max_count"] = _int_of(g.first(prop, SH + "qualifiedMaxCount"))
        qd_t = g.first(prop, SH + "qualifiedValueShapesDisjoint")
        if qd_t is not None and qd_t.value == "true":
            # sibling branches (the OTHER property shapes' qualified value
            # shapes, SHACL §4.5.3) are wired by compile_shapes once every
            # property shape of the parent node shape is compiled
            out[0]["qvs_disjoint"] = True
    return out


def _wire_qvs_siblings(facet_lists: list[list[dict]]) -> None:
    """Attach sibling qualified-value-shape branches to every row flagged
    ``qvs_disjoint`` — siblings are the qvs branches contributed by the
    parent node shape's OTHER property shapes (``facet_lists`` holds one
    list per property shape)."""
    qvs_rows = [
        (i, f)
        for i, fl in enumerate(facet_lists)
        for f in fl
        if f.get("qvs_branch") is not None
    ]
    for i, f in qvs_rows:
        if f.get("qvs_disjoint"):
            sibs = [f2["qvs_branch"] for j, f2 in qvs_rows if j != i]
            f["qvs_sibling_branches"] = sibs or None


# sh:node recursion depth: the validator evaluates nested shapes this many
# levels below the top-level constraints; a reference still unresolved at
# the cap counts as conforming, so compile_shapes warns about every shapes
# graph whose references reach it (a longer chain, or any cycle)
MAX_NESTING_DEPTH = 5


def _branches(r: dict) -> list[dict]:
    """Every branch of a constraint row's logical and qualified components
    (sh:node, sh:not, sh:qualifiedValueShape, sh:or/and/xone members,
    qualified siblings)."""
    out = [r[k] for k in ("node_branch", "not_branch", "qvs_branch") if r.get(k)]
    for key in ("or_branches", "and_branches", "xone_branches", "qvs_sibling_branches"):
        out.extend(r.get(key) or [])
    return out


def _branch_refs(r: dict) -> list[str]:
    """Nested-shape ids referenced by a constraint row's branches."""
    return [b["node_ref"] for b in _branches(r) if b.get("node_ref")]


def _nesting_warning(rows: list[dict]) -> str | None:
    """The note for a shapes graph whose nested-shape references go deeper
    than MAX_NESTING_DEPTH or form a cycle, else None.  Walks the
    references the way the validator resolves them: the shapes the
    top-level rows reference are level 1, the shapes their definition rows
    reference level 2, and so on."""
    defs_of: dict[str, list[dict]] = {}
    for r in rows:
        if r.get("nested_under"):
            defs_of.setdefault(r["nested_under"], []).append(r)

    def walk(chain: list[str], level_rows: list[dict]) -> str | None:
        for ref in sorted({x for r in level_rows for x in _branch_refs(r)}):
            if ref not in defs_of:
                continue
            if ref in chain:
                cycle = " -> ".join(chain[chain.index(ref):] + [ref])
                return (
                    f"sh:node references form a cycle ({cycle}): nested shapes "
                    f"are evaluated {MAX_NESTING_DEPTH} levels deep and a "
                    "reference left at that depth counts as conforming"
                )
            if len(chain) == MAX_NESTING_DEPTH:
                return (
                    f"sh:node chain deeper than {MAX_NESTING_DEPTH} levels "
                    f"({' -> '.join(chain + [ref])}): shapes below level "
                    f"{MAX_NESTING_DEPTH} are not evaluated and count as conforming"
                )
            note = walk(chain + [ref], defs_of[ref])
            if note:
                return note
        return None

    return walk([], [r for r in rows if not r.get("nested_under")])


def compile_shapes(ttl: str, warnings: list[str] | None = None) -> list[dict]:
    """Compile a Turtle shapes graph into constraint-table rows.

    One output row per (node-shape target, property-shape constraint
    facet) — the long form lets each SHACL component be one DataFrame
    rule (SURVEY.md §2.8).  foaf:page doc links on shapes are carried
    onto rows (reference SHACLValidationService.ts:36,249-269).

    Nested node shapes referenced by sh:node / logical branches compile to
    target-less definition rows (``nested_under``); the validator evaluates
    them recursively over the referencing constraint's value nodes.  Pass
    ``warnings`` to receive notes on constructs that were dropped —
    a compile with ``len(warnings) == 0`` ran with nothing skipped.
    """
    warnings = warnings if warnings is not None else []
    g = parse_turtle(ttl)
    ctx = _Ctx(warnings)
    rows: list[dict] = []
    cid = 0
    # a shape may use any of the four targeting modes (class-based is the
    # dominant DCAT-AP form) — one constraint row per (target, facet set)
    shapes_seen: dict[str, None] = {}
    for pred in ("targetClass", "targetSubjectsOf", "targetObjectsOf", "targetNode"):
        for shape in g.subjects_with(SH + pred):
            shapes_seen.setdefault(shape)
    # implicit class targets (SHACL §2.1.3.1): a node shape that is ALSO an
    # rdfs:Class targets its own instances — the shape IRI doubles as the
    # target class
    RDFS_CLASS = "http://www.w3.org/2000/01/rdf-schema#Class"
    implicit_class: set[str] = set()
    for s, p, o in g.triples:
        if (
            p == "http://www.w3.org/1999/02/22-rdf-syntax-ns#type"
            and o.value == RDFS_CLASS
        ):
            types_of_s = {t.value for t in g.objects(s, p)}
            if SH + "NodeShape" in types_of_s:
                shapes_seen.setdefault(s)
                implicit_class.add(s)
    for shape in shapes_seen:
        deact = g.first(shape, SH + "deactivated")
        if deact is not None and deact.value == "true":
            continue
        shape_targets = (
            ([("target_class", shape)] if shape in implicit_class else [])
            + [("target_class", t.value) for t in g.objects(shape, SH + "targetClass")]
            + [
                ("target_subjects_of", t.value)
                for t in g.objects(shape, SH + "targetSubjectsOf")
            ]
            + [
                ("target_objects_of", t.value)
                for t in g.objects(shape, SH + "targetObjectsOf")
            ]
            + [("target_node", t.value) for t in g.objects(shape, SH + "targetNode")]
        )
        foaf_page_t = g.first(shape, "http://xmlns.com/foaf/0.1/page")
        foaf_page = foaf_page_t.value if foaf_page_t is not None else None
        facet_lists = [
            _prop_constraints(g, prop_t.value, shape, ctx)
            for prop_t in g.objects(shape, SH + "property")
        ]
        _wire_qvs_siblings(facet_lists)
        for facets_list in facet_lists:
            for facets in facets_list:
                if facets["foaf_page"] is None:
                    facets["foaf_page"] = foaf_page
                for tkind, tval in shape_targets:
                    cid += 1
                    row = dict(facets)
                    row["constraint_id"] = cid
                    row[tkind] = tval
                    rows.append(row)
        # node-shape-level constraints (facets directly on the node shape,
        # e.g. ``sh:targetClass ex:T ; sh:nodeKind sh:IRI``): compiled with
        # the EMPTY path — the validator evaluates them with the focus node
        # as its own value node and a null resultPath.  Only rows that
        # actually carry a facet are emitted (every shape would otherwise
        # pay a no-op row).
        for facets in _prop_constraints(g, shape, shape, ctx, require_path=False):
            if not any(
                facets.get(k) is not None
                for k in _ROW_DEFAULTS
                if k
                not in (
                    "target_class",
                    "target_subjects_of",
                    "target_objects_of",
                    "target_node",
                    "path",
                    "path_steps",
                    "nested_under",
                    "closed",
                    "closed_allowed",
                )
            ):
                continue
            if facets["foaf_page"] is None:
                facets["foaf_page"] = foaf_page
            for tkind, tval in shape_targets:
                cid += 1
                row = dict(facets)
                row["constraint_id"] = cid
                row[tkind] = tval
                rows.append(row)
        # sh:closed true → one path-less node-shape row whose allowed set is
        # the union of the shape's single-predicate property paths and
        # sh:ignoredProperties (rdf:type is NOT implicitly allowed — SHACL
        # core §4.8.1: it must be listed in ignoredProperties)
        closed_t = g.first(shape, SH + "closed")
        if closed_t is not None and closed_t.value == "true":
            allowed: set[str] = set()
            for prop_t in g.objects(shape, SH + "property"):
                path_t = g.first(prop_t.value, SH + "path")
                if path_t is None:
                    continue
                steps = _path_steps(g, path_t, ctx.warnings)
                if len(steps) == 1:
                    for alt in steps[0]:
                        if not alt or alt[0] in "^*+?":
                            continue
                        allowed.add(alt)
            ign_t = g.first(shape, SH + "ignoredProperties")
            if ign_t is not None:
                allowed.update(t.value for t in g.rdf_list(ign_t.value))
            row = dict(_ROW_DEFAULTS)
            row.update(
                {
                    "shape_iri": shape,
                    "severity": _severity_of(g.first(shape, SH + "severity")),
                    "messages": None,
                    "foaf_page": foaf_page,
                    "closed": True,
                    "closed_allowed": sorted(allowed),
                }
            )
            for tkind, tval in shape_targets:
                cid += 1
                r = dict(row)
                r["constraint_id"] = cid
                r[tkind] = tval
                rows.append(r)
        # sh:sparql SELECT constraints (SPARQL-based constraints, SHACL §5;
        # reference enables them via shacl-engine/sparql,
        # SHACLValidationService.ts:4,10-13,405).  The query is parsed at
        # COMPILE time, so an out-of-subset construct is surfaced as a
        # warning — never a silently-passing constraint.  Prefixes resolve
        # from sh:prefixes → sh:declare entries in this document, leniently
        # unioned over the document's own @prefix table (what shape authors
        # expect, though SHACL formally requires sh:declare); inline PREFIX
        # clauses in the query win over both.
        for sp_t in g.objects(shape, SH + "sparql"):
            sp = sp_t.value
            sp_deact = g.first(sp, SH + "deactivated")
            if sp_deact is not None and sp_deact.value == "true":
                continue
            sel_t = g.first(sp, SH + "select")
            if sel_t is None:
                ctx.warnings.append(f"sh:sparql on {shape}: missing sh:select")
                continue
            prefixes = dict(g.prefixes)
            for pdecl_t in g.objects(sp, SH + "prefixes"):
                for decl_t in g.objects(pdecl_t.value, SH + "declare"):
                    p_t = g.first(decl_t.value, SH + "prefix")
                    ns_t = g.first(decl_t.value, SH + "namespace")
                    if p_t is not None and ns_t is not None:
                        prefixes[p_t.value] = ns_t.value
            try:
                from .sparql import parse_select

                parse_select(sel_t.value, prefixes)
            except ValueError as e:
                ctx.warnings.append(f"sh:sparql on {shape}: {e}")
                continue
            sp_msgs = [
                {"text": m.value, "lang": (m.lang.lower() if m.lang else None)}
                for m in g.objects(sp, SH + "message")
            ] or None
            row = dict(_ROW_DEFAULTS)
            row.update(
                {
                    "shape_iri": shape,
                    "severity": _severity_of(g.first(shape, SH + "severity")),
                    "messages": sp_msgs,
                    "foaf_page": foaf_page,
                    "sparql_select": sel_t.value,
                    "sparql_prefixes": prefixes,
                }
            )
            for tkind, tval in shape_targets:
                cid += 1
                r = dict(row)
                r["constraint_id"] = cid
                r[tkind] = tval
                rows.append(r)
    for d in ctx.defs:
        cid += 1
        row = dict(d)
        row["constraint_id"] = cid
        rows.append(row)
    note = _nesting_warning(rows)
    if note:
        warnings.append(note)
    return rows


_BNODE_REF_KEYS = {"shape_iri", "nested_under", "node_ref"}


def _qualify_bnodes(obj, tag: str):
    """Recursively rewrite blank-node SHAPE ids (``_:x`` → ``_:{tag}:x``)
    in the reference-carrying fields of a constraint row.  Each file's
    parse restarts its bnode counter at ``_:b1``, so without per-file
    qualification two files' anonymous shapes alias each other and
    ``nested_under``/``node_ref`` lookups cross file boundaries.  Only
    shape-reference keys are rewritten — facet VALUES (in_list,
    has_value) stay untouched."""
    if isinstance(obj, dict):
        out = {}
        for k, v in obj.items():
            if k in _BNODE_REF_KEYS and isinstance(v, str) and v.startswith("_:"):
                # '.' separator: stays a legal Turtle bnode label, so a
                # qualified id can serialize as sh:sourceShape _:f0.b1
                out[k] = f"_:{tag}." + v[2:]
            else:
                out[k] = _qualify_bnodes(v, tag)
        return out
    if isinstance(obj, list):
        return [_qualify_bnodes(x, tag) for x in obj]
    return obj


def compile_shape_files(ttls: list[str], warnings: list[str] | None = None) -> list[dict]:
    """Union of several shape files into one constraint table (U1) — the
    reference unions parsed quad sets per profile
    (SHACLValidationService.ts:124-134); here the union is row concatenation
    with re-numbered constraint ids.  IRI shape references are global;
    blank-node shape ids are FILE-SCOPED (each parse restarts its bnode
    counter), so they are qualified with the file index before the union —
    without that, ``_:b1`` from two files would alias and a ``sh:node``
    reference in one file would pick up the other's definition rows."""
    rows: list[dict] = []
    for i, ttl in enumerate(ttls):
        for r in compile_shapes(ttl, warnings):
            r = _qualify_bnodes(dict(r), f"f{i}")
            r["constraint_id"] = len(rows) + 1
            rows.append(r)
    return rows


def constraints_df(spark: SparkSession, ttl_or_rows: str | list[dict]) -> DataFrame:
    """Constraint rows → small DataFrame ready for ``F.broadcast``.

    Shapes are KBs while data is TBs (SURVEY.md §1.3) — every validator
    join against this table must be a broadcast join.
    """
    rows = compile_shapes(ttl_or_rows) if isinstance(ttl_or_rows, str) else ttl_or_rows
    # no-silent-drop invariant (r3 ADVICE #2): a compiler field that is not
    # in CONSTRAINT_SCHEMA would vanish from the exported relation — fail
    # loudly so the keep-in-sync contract with _ROW_DEFAULTS is enforced
    extra = {k for r in rows for k in r} - set(CONSTRAINT_SCHEMA.fieldNames())
    if extra:
        raise ValueError(
            "constraint rows carry fields outside CONSTRAINT_SCHEMA "
            f"{sorted(extra)} — extend model.CONSTRAINT_SCHEMA (keep-in-sync "
            "contract, see _ROW_DEFAULTS)"
        )
    return local_df(spark, rows, CONSTRAINT_SCHEMA)
