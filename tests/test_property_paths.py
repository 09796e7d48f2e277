"""Property-based differential test for SHACL PROPERTY-PATH evaluation.

Round 3 added inverse / zeroOrMore / oneOrMore / zeroOrOne path kinds on
top of sequences and alternatives (shapes/compiler.py ``_path_alt`` +
operators/validate.py ``_hop`` / ``_closure``).  The golden fixtures pin
each kind once; this file lets hypothesis compose them — random small
graphs × random step sequences mixing forward/inverse alternatives,
zero-or-one steps, and bounded closures — and checks the engine's VALUE
SET and VALUE COUNT against an independent pure-Python frontier
evaluator:

- every path value is surfaced as one ``sh:in ["__never__"]`` violation
  (the In check fires for every value node, enumerating the set), and
- ``minCount 2`` / ``maxCount 0`` probe the distinct-value count from
  both sides (MinCount fires iff n < 2, MaxCount iff n > 0).

The closure bound mirrors the engine exactly: reach = path lengths
1..2^ceil(log2(depth)) for the engine's PATH_DEPTH (4), plus
length 0 for ``*``.  Value metadata is a pure function of the node string
in these graphs (each value string occurs with one term kind), so the
set-of-node-strings mirror is exact.
"""

from __future__ import annotations

import os

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from shacl_validator_spark.model import RDF_TYPE
from shacl_validator_spark.operators.validate import validate
from shacl_validator_spark.shapes.compiler import render_path

XSD = "http://www.w3.org/2001/XMLSchema#"

SUBJECTS = ["s0", "s1", "n0", "n1"]
PREDS = ["p0", "p1"]
# object pool: node strings each carrying exactly ONE term kind anywhere
# in the graph (subjects are IRIs; literals are never subjects), so the
# reference can track plain node strings
OBJECTS = [
    ("s1", "iri", None, None),
    ("n0", "iri", None, None),
    ("n1", "iri", None, None),
    ("_:b9", "bnode", None, None),
    ("5", "literal", XSD + "integer", None),
    ("hello", "literal", None, "en"),
]

PATH_DEPTH = 4  # engine constant (shapes.compiler.PATH_DEPTH)


def _closure_reach(edges: set[tuple[str, str]], depth: int) -> set[tuple[str, str]]:
    """Reachable pairs over path lengths 1..2^ceil(log2 depth) — the
    engine's repeated-squaring bound (validate.py ``_closure``)."""
    reach = set(edges)
    length = 1
    while length < depth:
        reach = reach | {
            (a, d) for a, b in reach for c, d in reach if b == c
        }
        length *= 2
    return reach


def ref_path_values(
    triples: list[tuple], focus: str, steps: list[list[str]]
) -> set[str]:
    """Pure-Python mirror of the engine's frontier evaluation."""
    fwd_edges: dict[str, set[tuple[str, str]]] = {p: set() for p in PREDS}
    for s, p, v, ot, dt, lg, g in triples:
        if p in fwd_edges:
            fwd_edges[p].add((s, v))
    frontier = {focus}
    for step in steps:
        mods_preds = []
        for alt in step:
            i = 0
            while i < len(alt) and alt[i] in "^*+?":
                i += 1
            mods_preds.append((alt[:i], alt[i:]))
        stepped: set[str] = set()
        for mods, pred in mods_preds:
            edges = fwd_edges[pred]
            if "^" in mods:
                edges = {(v, s) for s, v in edges}
            if "*" in mods or "+" in mods:
                reach = _closure_reach(edges, PATH_DEPTH)
                hop = {d for n in frontier for s, d in reach if s == n}
                stepped |= (frontier | hop) if "*" in mods else hop
            else:
                stepped |= {d for n in frontier for s, d in edges if s == n}
                if "?" in mods:
                    stepped |= frontier
        frontier = stepped
    return frontier


# --- strategies -------------------------------------------------------------

triple_st = st.one_of(
    st.tuples(
        st.sampled_from(SUBJECTS),
        st.just(RDF_TYPE),
        st.just("T"),
    ).map(lambda t: (t[0], t[1], t[2], "iri", None, None, "g1")),
    st.tuples(
        st.sampled_from(SUBJECTS),
        st.sampled_from(PREDS),
        st.sampled_from(OBJECTS),
        st.sampled_from(["g1", "g2"]),
    ).map(lambda t: (t[0], t[1], *t[2], t[3])),
)

# encoded step alternatives, mirroring the compiler's _path_alt output
plain_alt_st = st.builds(
    lambda inv, p: ("^" if inv else "") + p,
    st.booleans(),
    st.sampled_from(PREDS),
)
closure_alt_st = st.builds(
    lambda m, a: m + a, st.sampled_from(["*", "+"]), plain_alt_st
)
step_st = st.one_of(
    st.lists(plain_alt_st, min_size=1, max_size=2),  # plain / inverse / alts
    st.builds(lambda a: [a], closure_alt_st),
    st.builds(lambda a: ["?" + a], plain_alt_st),
    # sh:alternativePath mixing a closure with a plain alternative — every
    # alternative must contribute to the step's frontier union
    st.builds(lambda c, p: [c, p], closure_alt_st, plain_alt_st),
)
steps_st = st.lists(step_st, min_size=1, max_size=2)


@given(
    triples=st.lists(triple_st, min_size=1, max_size=12),
    steps_list=st.lists(steps_st, min_size=1, max_size=2),
)
@settings(
    max_examples=int(os.environ.get("PROP_EXAMPLES", "25")),
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)
def test_path_engine_matches_reference(spark, triples, steps_list):
    constraints = []
    for i, steps in enumerate(steps_list):
        constraints.append(
            {
                "constraint_id": i + 1,
                "shape_iri": "ex:S",
                "target_class": "T",
                "path": render_path(steps),
                "path_steps": steps,
                "severity": "Violation",
                "in_list": ["__never__"],
                "min_count": 2,
                "max_count": 0,
            }
        )
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
            r.sourceConstraintComponent.rsplit("#", 1)[-1].replace(
                "ConstraintComponent", ""
            ),
        )
        for r in validate(spark, df, constraints).collect()
    }
    typed = {s for s, p, v, *_ in triples if p == RDF_TYPE and v == "T"}
    expected: set[tuple] = set()
    for c in constraints:
        for focus in typed:
            vals = ref_path_values(triples, focus, c["path_steps"])
            for v in vals:
                expected.add((focus, c["path"], v, "In"))
            if len(vals) < 2:
                expected.add((focus, c["path"], None, "MinCount"))
            if len(vals) > 0:
                expected.add((focus, c["path"], None, "MaxCount"))
    assert got == expected, (
        f"\ntriples={triples}\nconstraints={constraints}\n"
        f"only-spark={sorted(got - expected, key=str)}\n"
        f"only-ref={sorted(expected - got, key=str)}"
    )
