"""Property-based differential test for the LOGICAL / NESTED components.

Round 3 added sh:or / sh:and / sh:xone / sh:not / sh:node /
sh:qualifiedValueShape to the engine (operators/validate.py
``_branch_conf`` + the per-focus qualified counting); the golden fixtures
in tests/test_logical_shapes.py pin each component individually, and this
file adds what fixtures cannot: hypothesis-generated BRANCH COMBINATIONS
(multi-facet branches, several logical constraints on one path, branch
lists mixing conforming and non-conforming shapes) checked against an
independent pure-Python evaluator — the same differential stance as
tests/test_property_validate.py, aimed at the round-3 surface.

Branches carry inline facets (datatype / nodeKind / class / pattern /
min/maxLength) and optionally ``node_ref`` to one nested shape ``N``: one
or two generated ``nested_under: "N"`` definition rows (single-step path,
the same inline facets, optional min/maxCount and sh:uniqueLang).  The
reference resolves ``node_ref`` recursively: a value node conforms to N
iff N's rows give it no result.
"""

from __future__ import annotations

import os
import re

from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st

from shacl_validator_spark.model import RDF_TYPE
from shacl_validator_spark.operators.validate import validate

XSD = "http://www.w3.org/2001/XMLSchema#"
LANGSTR = "http://www.w3.org/1999/02/22-rdf-syntax-ns#langString"

SUBJECTS = ["s0", "s1"]
PREDS = ["p0", "p1"]
CLASSES = ["T", "C1"]
VALUES = [
    ("5", "literal", XSD + "integer", None),
    ("17", "literal", XSD + "integer", None),
    ("x", "literal", XSD + "integer", None),
    ("hello", "literal", None, "en"),
    ("hi", "literal", None, "EN"),
    ("plain", "literal", None, None),
    ("n0", "iri", None, None),
    ("n1", "iri", None, None),
    ("_:b9", "bnode", None, None),
]

NODE_KIND_SETS = {
    "IRI": {"iri"},
    "Literal": {"literal"},
    "BlankNode": {"bnode"},
    "BlankNodeOrIRI": {"bnode", "iri"},
    "BlankNodeOrLiteral": {"bnode", "literal"},
    "IRIOrLiteral": {"iri", "literal"},
}

_BRANCH_KEYS = (
    "datatype",
    "node_kind",
    "class_iri",
    "pattern",
    "min_length",
    "max_length",
    "node_ref",
)


def _eff_dt(dt: str | None, lang: str | None) -> str:
    if lang is not None:
        return LANGSTR
    return dt if dt is not None else XSD + "string"


def _lex_ok(dt: str, v: str) -> bool:
    if dt == XSD + "integer":
        return re.fullmatch(r"[+-]?\d+", v) is not None
    return True


def branch_conf(b: dict, v, ot, dt, lg, typed: dict[str, set[str]], ref_conf) -> bool:
    """Pure-Python mirror of the engine's ``_branch_conf`` column;
    ``ref_conf(ref, node)`` decides conformance to a nested shape."""
    if b.get("datatype") is not None and not (
        ot == "literal" and _eff_dt(dt, lg) == b["datatype"] and _lex_ok(b["datatype"], v)
    ):
        return False
    if b.get("node_kind") is not None and ot not in NODE_KIND_SETS[b["node_kind"]]:
        return False
    if b.get("class_iri") is not None and not (
        ot != "literal" and b["class_iri"] in typed.get(v, set())
    ):
        return False
    if b.get("pattern") is not None and (ot == "bnode" or not re.search(b["pattern"], v)):
        return False
    if b.get("min_length") is not None and (ot == "bnode" or len(v) < b["min_length"]):
        return False
    if b.get("max_length") is not None and (ot == "bnode" or len(v) > b["max_length"]):
        return False
    if b.get("node_ref") is not None and not ref_conf(b["node_ref"], v):
        return False
    return True


def value_nodes(triples: list[tuple], focus: str, path: str) -> set[tuple]:
    """Distinct value nodes (full RDF-term identity) of ``focus`` along a
    single-step path."""
    return {
        (v, ot, dt, lg) for s, p, v, ot, dt, lg, g in triples if s == focus and p == path
    }


def ref_validate_logical(triples: list[tuple], constraints: list[dict]) -> set[tuple]:
    out: set[tuple] = set()
    typed: dict[str, set[str]] = {}
    for s, p, v, ot, dt, lg, g in triples:
        if p == RDF_TYPE:
            typed.setdefault(s, set()).add(v)
    defs: dict[str, list[dict]] = {}
    for c in constraints:
        if c.get("nested_under"):
            defs.setdefault(c["nested_under"], []).append(c)

    def gives_result(d: dict, node: str) -> bool:
        """Whether nested definition row ``d`` reports anything for ``node``."""
        nodes = value_nodes(triples, node, d["path"])
        facets = {k: d.get(k) for k in _BRANCH_KEYS}
        if any(not branch_conf(facets, *nd, typed, ref_conf) for nd in nodes):
            return True
        if d.get("min_count") is not None and len(nodes) < d["min_count"]:
            return True
        if d.get("max_count") is not None and len(nodes) > d["max_count"]:
            return True
        tags = [lg.lower() for _, _, _, lg in nodes if lg is not None]
        return bool(d.get("unique_lang")) and len(tags) != len(set(tags))

    def ref_conf(ref: str, node: str) -> bool:
        return not any(gives_result(d, node) for d in defs.get(ref, []))

    for c in constraints:
        if c.get("nested_under"):
            continue
        if c.get("target_subjects_of"):
            targets = sorted({s for s, p, *_ in triples if p == c["target_subjects_of"]})
        else:
            targets = [s for s, ts in typed.items() if c.get("target_class") in ts]
        path, sev = c["path"], c["severity"]
        for focus in targets:
            nodes = value_nodes(triples, focus, path)
            for nd in nodes:
                v = nd[0]
                if c.get("node_branch") is not None and not branch_conf(
                    c["node_branch"], *nd, typed, ref_conf
                ):
                    out.add((focus, path, v, sev, "Node"))
                if c.get("or_branches") is not None and not any(
                    branch_conf(b, *nd, typed, ref_conf) for b in c["or_branches"]
                ):
                    out.add((focus, path, v, sev, "Or"))
                if c.get("and_branches") is not None and any(
                    not branch_conf(b, *nd, typed, ref_conf) for b in c["and_branches"]
                ):
                    out.add((focus, path, v, sev, "And"))
                if c.get("xone_branches") is not None and sum(
                    branch_conf(b, *nd, typed, ref_conf) for b in c["xone_branches"]
                ) != 1:
                    out.add((focus, path, v, sev, "Xone"))
                if c.get("not_branch") is not None and branch_conf(
                    c["not_branch"], *nd, typed, ref_conf
                ):
                    out.add((focus, path, v, sev, "Not"))
            if c.get("qvs_branch") is not None:
                sibs = c.get("qvs_sibling_branches") or []
                n_q = sum(
                    branch_conf(c["qvs_branch"], *nd, typed, ref_conf)
                    and not (
                        c.get("qvs_disjoint")
                        and any(branch_conf(sb, *nd, typed, ref_conf) for sb in sibs)
                    )
                    for nd in nodes
                )
                if c.get("q_min_count") is not None and n_q < c["q_min_count"]:
                    out.add((focus, path, None, sev, "QualifiedMinCount"))
                if c.get("q_max_count") is not None and n_q > c["q_max_count"]:
                    out.add((focus, path, None, sev, "QualifiedMaxCount"))
    return out


# --- strategies -------------------------------------------------------------

triple_st = st.one_of(
    st.tuples(
        st.sampled_from(SUBJECTS + ["n0", "n1"]),
        st.just(RDF_TYPE),
        st.sampled_from(CLASSES),
    ).map(lambda t: (t[0], t[1], t[2], "iri", None, None, "g1")),
    st.tuples(
        st.sampled_from(SUBJECTS + ["n0", "n1"]),
        st.sampled_from(PREDS),
        st.sampled_from(VALUES),
        st.sampled_from(["g1", "g2"]),
    ).map(lambda t: (t[0], t[1], *t[2], t[3])),
)

_FACETS = {
    "datatype": st.sampled_from([XSD + "integer", XSD + "string"]),
    "node_kind": st.sampled_from(sorted(NODE_KIND_SETS)),
    "class_iri": st.just("C1"),
    "pattern": st.sampled_from(["^[0-9]+$", "^h"]),
    "min_length": st.integers(1, 3),
    "max_length": st.integers(2, 5),
}

_facets_st = st.fixed_dictionaries({}, optional=_FACETS)
# two thirds of the branches reference the nested shape N, half of those
# with no inline facet that could decide the branch on its own
branch_st = st.one_of(
    _facets_st,
    st.just({"node_ref": "N"}),
    _facets_st.map(lambda b: {**b, "node_ref": "N"}),
).map(lambda b: {k: b.get(k) for k in _BRANCH_KEYS})

# one definition row of the nested shape N: inline facets plus counting
# and sh:uniqueLang, which the engine evaluates per nested focus node
nested_st = st.fixed_dictionaries(
    {"path": st.sampled_from(PREDS)},
    optional={
        **_FACETS,
        "min_count": st.integers(1, 2),
        "max_count": st.integers(0, 1),
        "unique_lang": st.just(True),
    },
)

logical_st = st.one_of(
    st.tuples(st.just("node_branch"), branch_st),
    st.tuples(st.just("not_branch"), branch_st),
    st.tuples(st.just("or_branches"), st.lists(branch_st, min_size=1, max_size=3)),
    st.tuples(st.just("and_branches"), st.lists(branch_st, min_size=1, max_size=2)),
    st.tuples(st.just("xone_branches"), st.lists(branch_st, min_size=1, max_size=3)),
    st.tuples(
        st.just("qvs"),
        st.tuples(
            branch_st,
            st.one_of(st.none(), st.integers(0, 2)),
            st.one_of(st.none(), st.integers(0, 1)),
            # optional sh:qualifiedValueShapesDisjoint sibling branch
            st.one_of(st.none(), branch_st),
        ),
    ),
)

target_st = st.one_of(
    st.just(("target_class", "T")),
    st.just(("target_subjects_of", "p0")),
)

constraint_st = st.tuples(st.sampled_from(PREDS), target_st, logical_st)


def _mk_constraints(raw: list[tuple], nested: list[dict]) -> list[dict]:
    rows = []
    for i, (path, (tkind, tval), (kind, payload)) in enumerate(raw):
        row = {
            "constraint_id": i + 1,
            "shape_iri": "ex:S",
            "target_class": tval if tkind == "target_class" else None,
            "target_subjects_of": tval if tkind == "target_subjects_of" else None,
            "path": path,
            "path_steps": [[path]],
            "severity": "Violation",
        }
        if kind == "qvs":
            b, qmin, qmax, sib = payload
            if qmin is None and qmax is None:
                qmin = 1  # a count-less qualified shape checks nothing
            row.update({"qvs_branch": b, "q_min_count": qmin, "q_max_count": qmax})
            if sib is not None:
                row.update(
                    {"qvs_disjoint": True, "qvs_sibling_branches": [sib]}
                )
        else:
            row[kind] = payload
        rows.append(row)
    for d in nested:
        rows.append(
            {
                **d,
                "constraint_id": len(rows) + 1,
                "shape_iri": "ex:N",
                "nested_under": "N",
                "path_steps": [[d["path"]]],
                "severity": "Violation",
            }
        )
    return rows


# a value node that N flags through sh:uniqueLang (n0) and one through
# minCount (the literal "5"): both Node results hinge on the nested pass
@example(
    triples=[
        ("s0", RDF_TYPE, "T", "iri", None, None, "g1"),
        ("s0", "p0", "n0", "iri", None, None, "g1"),
        ("s0", "p0", "5", "literal", XSD + "integer", None, "g1"),
        ("n0", "p1", "hello", "literal", None, "en", "g1"),
        ("n0", "p1", "hi", "literal", None, "EN", "g2"),
    ],
    raw_constraints=[
        (
            "p0",
            ("target_class", "T"),
            ("node_branch", {k: None for k in _BRANCH_KEYS} | {"node_ref": "N"}),
        )
    ],
    nested=[{"path": "p1", "unique_lang": True}, {"path": "p1", "min_count": 1}],
)
@given(
    triples=st.lists(triple_st, min_size=1, max_size=12),
    raw_constraints=st.lists(constraint_st, min_size=1, max_size=3),
    nested=st.lists(nested_st, min_size=1, max_size=2),
)
@settings(
    max_examples=int(os.environ.get("PROP_EXAMPLES", "25")),
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)
def test_logical_engine_matches_reference(spark, triples, raw_constraints, nested):
    constraints = _mk_constraints(raw_constraints, nested)
    df = spark.createDataFrame(
        triples,
        "subject string, predicate string, object_value string, object_type string, "
        "object_datatype string, object_lang string, graph string",
    )
    got = {
        (
            r.focusNode,
            r.resultPath,
            r.value,
            r.resultSeverity,
            r.sourceConstraintComponent.rsplit("#", 1)[-1].replace(
                "ConstraintComponent", ""
            ),
        )
        for r in validate(spark, df, constraints).collect()
    }
    expected = ref_validate_logical(triples, constraints)
    assert got == expected, (
        f"\ntriples={triples}\nconstraints={constraints}\n"
        f"only-spark={sorted(got - expected, key=str)}\n"
        f"only-ref={sorted(expected - got, key=str)}"
    )
