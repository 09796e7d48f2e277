"""Nested/logical SHACL surface: sh:node, general sh:or, sh:and, sh:xone,
sh:not, sh:qualifiedValueShape, inverse and zero-or-more paths, typed
sh:lessThan, languageIn prefix semantics — the round-3 closure of the gap
vs the reference engine's full SHACL core
(reference src/services/SHACLValidationService.ts:398-408)."""

from __future__ import annotations

from shacl_validator_spark.model import SH
from shacl_validator_spark.operators.validate import validate
from shacl_validator_spark.shapes import compile_shapes
from shacl_validator_spark.shapes.compiler import render_path
from shacl_validator_spark.sources.rdf_io import triples_from_turtle

PREFIX = """
@prefix sh:   <http://www.w3.org/ns/shacl#> .
@prefix ex:   <http://example.org/s#> .
@prefix d:    <http://example.org/d#> .
@prefix xsd:  <http://www.w3.org/2001/XMLSchema#> .
"""


def _comps(rows):
    return sorted(r.sourceConstraintComponent for r in rows)


# --------------------------------------------------------------------------
# general sh:or (non-datatype branches)
# --------------------------------------------------------------------------

OR_SHAPE = PREFIX + """
ex:S a sh:NodeShape ;
    sh:targetClass ex:T ;
    sh:property [
        sh:path ex:ref ;
        sh:or ( [ sh:nodeKind sh:IRI ] [ sh:pattern "^ok" ] ) ;
    ] .
"""


def test_or_nodekind_pattern(spark):
    warnings: list[str] = []
    shapes = compile_shapes(OR_SHAPE, warnings)
    assert warnings == []
    data = PREFIX + """
    d:a a ex:T ; ex:ref d:iri1 .
    d:b a ex:T ; ex:ref "ok literal" .
    d:c a ex:T ; ex:ref "bad literal" .
    """
    bad = validate(spark, triples_from_turtle(spark, data), shapes).collect()
    assert len(bad) == 1
    assert bad[0].focusNode == "http://example.org/d#c"
    assert bad[0].sourceConstraintComponent == SH + "OrConstraintComponent"


def test_or_datatype_list_still_compiles_to_fast_path():
    shapes = compile_shapes(
        PREFIX
        + """
    ex:S a sh:NodeShape ; sh:targetClass ex:T ;
        sh:property [ sh:path ex:d ;
            sh:or ( [ sh:datatype xsd:date ] [ sh:datatype xsd:dateTime ] ) ] .
    """
    )
    assert shapes[0]["datatype_in"] is not None
    assert shapes[0]["or_branches"] is None


# --------------------------------------------------------------------------
# sh:node with a nested node shape (+ the published DCAT-AP fragment form)
# --------------------------------------------------------------------------

NODE_SHAPE = PREFIX + """
ex:PersonShape a sh:NodeShape ;
    sh:targetClass ex:Person ;
    sh:property [
        sh:path ex:address ;
        sh:node ex:AddressShape ;
    ] .
ex:AddressShape a sh:NodeShape ;
    sh:property [ sh:path ex:city ; sh:minCount 1 ] ;
    sh:property [ sh:path ex:zip ; sh:pattern "^[0-9]{5}$" ] .
"""


def test_node_nested_shape(spark):
    warnings: list[str] = []
    shapes = compile_shapes(NODE_SHAPE, warnings)
    assert warnings == []
    assert any(r.get("nested_under") for r in shapes)
    data = PREFIX + """
    d:p1 a ex:Person ; ex:address d:a1 .
    d:a1 ex:city "Madrid" ; ex:zip "28001" .
    d:p2 a ex:Person ; ex:address d:a2 .
    d:a2 ex:zip "bad" .
    """
    bad = validate(spark, triples_from_turtle(spark, data), shapes).collect()
    # only p2's address is non-conforming (missing city AND bad zip), and
    # the nested results surface as ONE Node violation at the parent
    assert len(bad) == 1
    assert bad[0].focusNode == "http://example.org/d#p2"
    assert bad[0].value == "http://example.org/d#a2"
    assert bad[0].sourceConstraintComponent == SH + "NodeConstraintComponent"


def _node_chain(depth: int) -> tuple[str, str]:
    """Shapes and data for a chain of ``depth`` sh:node references whose
    innermost shape fails (d:n<depth> has no ex:name)."""
    shapes = PREFIX + "ex:Top a sh:NodeShape ; sh:targetClass ex:T ;\n"
    for i in range(1, depth + 1):
        shapes += f"    sh:property [ sh:path ex:next ; sh:node ex:N{i} ] .\n"
        shapes += f"ex:N{i} a sh:NodeShape ;\n"
    shapes += "    sh:property [ sh:path ex:name ; sh:minCount 1 ] .\n"
    data = PREFIX + "d:n0 a ex:T .\n" + "".join(
        f"d:n{i} ex:next d:n{i + 1} .\n" for i in range(depth)
    )
    return shapes, data


def test_nesting_cap_warns(spark):
    """A chain of sh:node references up to MAX_NESTING_DEPTH is evaluated
    to the innermost shape and compiles without a note; one level more
    compiles with a warning naming the chain, because the validator does
    not evaluate past the cap."""
    from shacl_validator_spark.shapes.compiler import MAX_NESTING_DEPTH

    shapes_ttl, data = _node_chain(MAX_NESTING_DEPTH)
    warnings: list[str] = []
    shapes = compile_shapes(shapes_ttl, warnings)
    assert warnings == []
    bad = validate(spark, triples_from_turtle(spark, data), shapes).collect()
    assert [(r.focusNode, r.sourceConstraintComponent) for r in bad] == [
        ("http://example.org/d#n0", SH + "NodeConstraintComponent")
    ]

    warnings = []
    compile_shapes(_node_chain(MAX_NESTING_DEPTH + 1)[0], warnings)
    assert len(warnings) == 1
    assert f"deeper than {MAX_NESTING_DEPTH} levels" in warnings[0]
    assert f"s#N{MAX_NESTING_DEPTH + 1}" in warnings[0]


def test_nesting_cycle_warns():
    """A cycle of sh:node references is cut at the nesting cap, so it
    compiles with a warning."""
    warnings: list[str] = []
    compile_shapes(
        PREFIX
        + """
    ex:Top a sh:NodeShape ; sh:targetClass ex:T ;
        sh:property [ sh:path ex:knows ; sh:node ex:P ] .
    ex:P a sh:NodeShape ;
        sh:property [ sh:path ex:name ; sh:minCount 1 ] ;
        sh:property [ sh:path ex:knows ; sh:node ex:P ] .
    """,
        warnings,
    )
    assert len(warnings) == 1
    assert "cycle (http://example.org/s#P -> http://example.org/s#P)" in warnings[0]


# A verbatim structural fragment in the published SEMIC DCAT-AP shapes
# style (shapes.ttl): sh:or over a datatype list on dct:issued, sh:node to
# an Agent shape on dct:publisher — the forms the round-2 compiler skipped.
DCAT_AP_FRAGMENT = """
@prefix sh:   <http://www.w3.org/ns/shacl#> .
@prefix dcat: <http://www.w3.org/ns/dcat#> .
@prefix dct:  <http://purl.org/dc/terms/> .
@prefix foaf: <http://xmlns.com/foaf/0.1/> .
@prefix xsd:  <http://www.w3.org/2001/XMLSchema#> .
@prefix :     <http://data.europa.eu/r5r#> .

:Dataset_Shape a sh:NodeShape ;
    sh:targetClass dcat:Dataset ;
    sh:property [
        sh:path dct:issued ;
        sh:maxCount 1 ;
        sh:or ( [ sh:datatype xsd:date ] [ sh:datatype xsd:dateTime ]
                [ sh:datatype xsd:gYear ] [ sh:datatype xsd:gYearMonth ] ) ;
        sh:severity sh:Violation
    ] ;
    sh:property [
        sh:path dct:publisher ;
        sh:maxCount 1 ;
        sh:node :Agent_Shape ;
        sh:severity sh:Violation
    ] .

:Agent_Shape a sh:NodeShape ;
    sh:property [ sh:path foaf:name ; sh:minCount 1 ; sh:severity sh:Violation ] ;
    sh:property [ sh:path dct:type ; sh:maxCount 1 ; sh:nodeKind sh:IRI ] .
"""


def test_published_dcat_ap_fragment_compiles_without_skips(spark):
    warnings: list[str] = []
    shapes = compile_shapes(DCAT_AP_FRAGMENT, warnings)
    assert warnings == [], warnings
    # every declared constraint is present: or-datatype, maxCounts, the
    # node ref, and both nested Agent_Shape property rows
    tops = [r for r in shapes if not r.get("nested_under")]
    defs = [r for r in shapes if r.get("nested_under")]
    assert len(tops) == 2 and len(defs) == 2
    assert tops[0]["datatype_in"] is not None or tops[1]["datatype_in"] is not None
    assert any(
        (r.get("node_branch") or {}).get("node_ref") for r in tops
    )
    data = """
    @prefix dcat: <http://www.w3.org/ns/dcat#> .
    @prefix dct:  <http://purl.org/dc/terms/> .
    @prefix foaf: <http://xmlns.com/foaf/0.1/> .
    @prefix xsd:  <http://www.w3.org/2001/XMLSchema#> .
    @prefix d:    <http://example.org/d#> .
    d:ds1 a dcat:Dataset ; dct:issued "2024-01-01"^^xsd:date ;
          dct:publisher d:org1 .
    d:org1 foaf:name "Agency" .
    d:ds2 a dcat:Dataset ; dct:issued "junk"^^xsd:date ;
          dct:publisher d:org2 .
    d:org2 dct:type d:t1 .
    """
    bad = validate(spark, triples_from_turtle(spark, data), shapes).collect()
    comps = _comps(bad)
    assert comps == [
        SH + "NodeConstraintComponent",  # org2 has no foaf:name
        SH + "OrConstraintComponent",  # ds2 issued not a valid date form
    ]
    assert all(r.focusNode == "http://example.org/d#ds2" for r in bad)


# --------------------------------------------------------------------------
# sh:and / sh:xone / sh:not / sh:qualifiedValueShape
# --------------------------------------------------------------------------


def test_and_xone_not(spark):
    shapes = compile_shapes(
        PREFIX
        + """
    ex:S a sh:NodeShape ; sh:targetClass ex:T ;
        sh:property [ sh:path ex:a ;
            sh:and ( [ sh:minLength 3 ] [ sh:pattern "^[a-z]+$" ] ) ] ;
        sh:property [ sh:path ex:x ;
            sh:xone ( [ sh:pattern "^x" ] [ sh:maxLength 1 ] ) ] ;
        sh:property [ sh:path ex:n ; sh:not [ sh:pattern "^forbidden" ] ] .
    """
    )
    data = PREFIX + """
    d:ok a ex:T ; ex:a "abc" ; ex:x "xyz" ; ex:n "fine" .
    d:b1 a ex:T ; ex:a "ab" .
    d:b2 a ex:T ; ex:x "x" .
    d:b3 a ex:T ; ex:n "forbidden fruit" .
    """
    bad = validate(spark, triples_from_turtle(spark, data), shapes).collect()
    by_focus = {r.focusNode.split("#")[-1]: r.sourceConstraintComponent for r in bad}
    assert by_focus == {
        "b1": SH + "AndConstraintComponent",  # too short
        "b2": SH + "XoneConstraintComponent",  # matches BOTH branches
        "b3": SH + "NotConstraintComponent",
    }


def test_qualified_value_shape(spark):
    shapes = compile_shapes(
        PREFIX
        + """
    ex:S a sh:NodeShape ; sh:targetClass ex:T ;
        sh:property [ sh:path ex:part ;
            sh:qualifiedValueShape [ sh:pattern "^primary" ] ;
            sh:qualifiedMinCount 1 ; sh:qualifiedMaxCount 2 ] .
    """
    )
    data = PREFIX + """
    d:ok a ex:T ; ex:part "primary one", "other" .
    d:none a ex:T ; ex:part "other" .
    d:many a ex:T ; ex:part "primary a", "primary b", "primary c" .
    """
    bad = validate(spark, triples_from_turtle(spark, data), shapes).collect()
    by_focus = {r.focusNode.split("#")[-1]: r.sourceConstraintComponent for r in bad}
    assert by_focus == {
        "none": SH + "QualifiedMinCountConstraintComponent",
        "many": SH + "QualifiedMaxCountConstraintComponent",
    }


def test_qualified_value_shapes_disjoint(spark):
    """SHACL core \u00a74.5.3 (the spec's Hand example): with
    sh:qualifiedValueShapesDisjoint a digit typed BOTH Thumb and Finger
    counts toward NEITHER qualified cardinality."""
    shapes = compile_shapes(
        PREFIX
        + """
    ex:HandShape a sh:NodeShape ; sh:targetClass ex:Hand ;
        sh:property [ sh:path ex:digit ;
            sh:qualifiedValueShape [ sh:class ex:Thumb ] ;
            sh:qualifiedValueShapesDisjoint true ;
            sh:qualifiedMinCount 1 ; sh:qualifiedMaxCount 1 ] ;
        sh:property [ sh:path ex:digit ;
            sh:qualifiedValueShape [ sh:class ex:Finger ] ;
            sh:qualifiedValueShapesDisjoint true ;
            sh:qualifiedMinCount 4 ; sh:qualifiedMaxCount 4 ] .
    """
    )
    qvs_rows = [r for r in shapes if r.get("qvs_branch")]
    assert len(qvs_rows) == 2
    for r in qvs_rows:
        assert r["qvs_disjoint"] is True
        assert len(r["qvs_sibling_branches"]) == 1
    data = PREFIX + """
    d:t1 a ex:Thumb . d:f1 a ex:Finger . d:f2 a ex:Finger .
    d:f3 a ex:Finger . d:f4 a ex:Finger .
    d:ok a ex:Hand ; ex:digit d:t1, d:f1, d:f2, d:f3, d:f4 .

    d:t2 a ex:Thumb, ex:Finger . d:g1 a ex:Finger . d:g2 a ex:Finger .
    d:g3 a ex:Finger . d:g4 a ex:Finger .
    d:odd a ex:Hand ; ex:digit d:t2, d:g1, d:g2, d:g3, d:g4 .
    """
    bad = validate(spark, triples_from_turtle(spark, data), shapes).collect()
    # d:odd's thumb also conforms to the sibling Finger shape, so it counts
    # toward neither: thumbs 0 < 1 fires; fingers stay exactly 4 (d:t2 is
    # excluded from the finger count by the same disjointness rule)
    assert [(r.focusNode.split("#")[-1], r.sourceConstraintComponent) for r in bad] == [
        ("odd", SH + "QualifiedMinCountConstraintComponent")
    ]


# --------------------------------------------------------------------------
# inverse + zero-or-more paths
# --------------------------------------------------------------------------


def test_inverse_path(spark):
    shapes = compile_shapes(
        PREFIX
        + """
    ex:S a sh:NodeShape ; sh:targetClass ex:Topic ;
        sh:property [ sh:path [ sh:inversePath ex:about ] ; sh:minCount 1 ] .
    """
    )
    assert shapes[0]["path"] == "^http://example.org/s#about"
    data = PREFIX + """
    d:t1 a ex:Topic .
    d:t2 a ex:Topic .
    d:doc1 ex:about d:t1 .
    """
    bad = validate(spark, triples_from_turtle(spark, data), shapes).collect()
    assert len(bad) == 1
    assert bad[0].focusNode == "http://example.org/d#t2"
    assert bad[0].sourceConstraintComponent == SH + "MinCountConstraintComponent"


def test_zero_or_more_path(spark):
    shapes = compile_shapes(
        PREFIX
        + """
    ex:S a sh:NodeShape ; sh:targetClass ex:T ;
        sh:property [
            sh:path ( ex:in [ sh:zeroOrMorePath ex:broader ] ) ;
            sh:hasValue ex:root ] .
    """
    )
    assert shapes[0]["path"].endswith("broader*")
    data = PREFIX + """
    d:a a ex:T ; ex:in d:cat1 .
    d:cat1 ex:broader d:cat0 .
    d:cat0 ex:broader ex:root .
    d:b a ex:T ; ex:in d:orphan .
    """
    bad = validate(spark, triples_from_turtle(spark, data), shapes).collect()
    assert len(bad) == 1
    assert bad[0].focusNode == "http://example.org/d#b"
    assert bad[0].sourceConstraintComponent == SH + "HasValueConstraintComponent"


def test_closure_cap_warns(spark):
    """The validator follows a sh:oneOrMorePath closure at most PATH_DEPTH
    (4) hops, so the closure constraint compiles with one warning.  Over
    a 5-hop ex:broader chain to ex:root the focus node gets one HasValue
    result that SHACL's unbounded closure would not give; the test pins
    that cut result until closures are exact (ROADMAP direction 1)."""
    from shacl_validator_spark.shapes.compiler import PATH_DEPTH

    warnings: list[str] = []
    shapes = compile_shapes(
        PREFIX
        + """
    ex:S a sh:NodeShape ; sh:targetClass ex:T ;
        sh:property [ sh:path [ sh:oneOrMorePath ex:broader ] ;
            sh:hasValue ex:root ] .
    """,
        warnings,
    )
    assert len(warnings) == 1
    assert "broader+" in warnings[0]
    assert f"chains longer than {PATH_DEPTH} hops are cut" in warnings[0]

    hops = 5
    assert hops == PATH_DEPTH + 1
    data = PREFIX + "d:n0 a ex:T .\n" + "".join(
        f"d:n{i} ex:broader d:n{i + 1} .\n" for i in range(hops - 1)
    ) + f"d:n{hops - 1} ex:broader ex:root .\n"
    bad = validate(spark, triples_from_turtle(spark, data), shapes).collect()
    assert [(r.focusNode, r.sourceConstraintComponent) for r in bad] == [
        ("http://example.org/d#n0", SH + "HasValueConstraintComponent")
    ]


def test_zero_or_one_path(spark):
    """sh:zeroOrOnePath: the focus node itself is a value node (zero hop)
    alongside the one-hop neighbours — observable via maxCount 1."""
    shapes = compile_shapes(
        PREFIX
        + """
    ex:S a sh:NodeShape ; sh:targetClass ex:T ;
        sh:property [
            sh:path [ sh:zeroOrOnePath ex:next ] ;
            sh:maxCount 1 ] .
    """
    )
    assert shapes[0]["path"].endswith("next?")
    assert shapes[0]["path_steps"] == [["?http://example.org/s#next"]]
    data = PREFIX + """
    d:a a ex:T ; ex:next d:b .
    d:b a ex:T .
    """
    bad = validate(spark, triples_from_turtle(spark, data), shapes).collect()
    # d:a counts {d:a (zero hop), d:b} = 2 > 1; d:b counts only itself
    assert len(bad) == 1
    assert bad[0].focusNode == "http://example.org/d#a"
    assert bad[0].sourceConstraintComponent == SH + "MaxCountConstraintComponent"


def test_render_path_modifiers():
    assert render_path([["^p"]]) == "^p"
    assert render_path([["a"], ["*b"]]) == "a/b*"
    assert render_path([["+c"]]) == "c+"
    assert render_path([["?d"]]) == "d?"


# --------------------------------------------------------------------------
# ADVICE r2: typed sh:lessThan + languageIn prefix semantics
# --------------------------------------------------------------------------


def test_less_than_dates(spark):
    """The startDate lessThan endDate idiom: xsd:date values compare in the
    dateTime domain (SPARQL '<'), not as failed double casts (ADVICE r2 #1
    — round 2 flagged EVERY conforming date pair as a violation)."""
    shapes = compile_shapes(
        PREFIX
        + """
    ex:S a sh:NodeShape ; sh:targetClass ex:Event ;
        sh:property [ sh:path ex:startDate ; sh:lessThan ex:endDate ] .
    """
    )
    data = PREFIX + """
    d:ok a ex:Event ; ex:startDate "2024-01-01"^^xsd:date ;
         ex:endDate "2024-06-30"^^xsd:date .
    d:bad a ex:Event ; ex:startDate "2024-12-31"^^xsd:date ;
          ex:endDate "2024-06-30"^^xsd:date .
    d:mixed a ex:Event ; ex:startDate "2024-01-01"^^xsd:date ;
            ex:endDate "42"^^xsd:integer .
    """
    bad = validate(spark, triples_from_turtle(spark, data), shapes).collect()
    by_focus = sorted(r.focusNode.split("#")[-1] for r in bad)
    # conforming date pair passes; reversed pair and mixed-domain pair fail
    assert by_focus == ["bad", "mixed"]
    assert all(
        r.sourceConstraintComponent == SH + "LessThanConstraintComponent" for r in bad
    )


def test_less_than_strings(spark):
    shapes = compile_shapes(
        PREFIX
        + """
    ex:S a sh:NodeShape ; sh:targetClass ex:T ;
        sh:property [ sh:path ex:first ; sh:lessThan ex:last ] .
    """
    )
    data = PREFIX + """
    d:ok a ex:T ; ex:first "alpha" ; ex:last "omega" .
    d:bad a ex:T ; ex:first "zeta" ; ex:last "omega" .
    """
    bad = validate(spark, triples_from_turtle(spark, data), shapes).collect()
    assert [r.focusNode.split("#")[-1] for r in bad] == ["bad"]


def test_language_in_prefix_semantics(spark):
    """langMatches prefix rule: 'en-US-x-private' matches range 'en-US'
    (ADVICE r2 #3 — multi-subtag ranges previously matched only exactly)."""
    shapes = compile_shapes(
        PREFIX
        + """
    ex:S a sh:NodeShape ; sh:targetClass ex:T ;
        sh:property [ sh:path ex:label ; sh:languageIn ( "en-US" "es" ) ] .
    """
    )
    data = PREFIX + """
    d:a a ex:T ; ex:label "hi"@en-US-x-private .
    d:b a ex:T ; ex:label "hola"@es-MX .
    d:c a ex:T ; ex:label "hey"@en .
    """
    bad = validate(spark, triples_from_turtle(spark, data), shapes).collect()
    # en-US-x-private extends en-US at a subtag boundary → conforms;
    # es-MX extends es → conforms; bare 'en' does NOT match range 'en-US'
    assert [r.focusNode.split("#")[-1] for r in bad] == ["c"]


def test_unsupported_or_branch_warns():
    """A dropped constraint must be visible (ADVICE r2 #4)."""
    warnings: list[str] = []
    compile_shapes(
        PREFIX
        + """
    ex:S a sh:NodeShape ; sh:targetClass ex:T ;
        sh:property [ sh:path ex:v ; sh:or ( [ sh:minCount 1 ] ) ] .
    """,
        warnings,
    )
    assert warnings and "unsupported" in warnings[0]


def test_temporal_range_facets(spark):
    """sh:minInclusive with an xsd:date literal (the DCAT-AP issued-date
    idiom) compiles to the temporal facet column — no silent drop — and
    evaluates with SPARQL '<' semantics; a non-comparable literal facet
    WARNS instead of vanishing."""
    from shacl_validator_spark.operators.validate import validate
    from shacl_validator_spark.shapes.compiler import compile_shapes

    ttl = """
    @prefix sh: <http://www.w3.org/ns/shacl#> .
    @prefix ex: <http://example.org/> .
    @prefix xsd: <http://www.w3.org/2001/XMLSchema#> .
    ex:S a sh:NodeShape ; sh:targetClass ex:T ;
      sh:property [ sh:path ex:issued ;
        sh:minInclusive "2020-01-01"^^xsd:date ;
        sh:maxExclusive "2025-01-01T00:00:00"^^xsd:dateTime ] .
    """
    warnings: list = []
    rows = compile_shapes(ttl, warnings)
    assert warnings == []
    r = next(r for r in rows if r["min_inclusive_ts"])
    assert r["min_inclusive_ts"] == "2020-01-01"
    assert r["max_exclusive_ts"] == "2025-01-01T00:00:00"
    RDF_TYPE = "http://www.w3.org/1999/02/22-rdf-syntax-ns#type"
    data = [
        ("ex:ok", RDF_TYPE, "http://example.org/T", "iri", None, None, "g"),
        ("ex:ok", "http://example.org/issued", "2022-06-01", "literal",
         "http://www.w3.org/2001/XMLSchema#date", None, "g"),
        ("ex:early", RDF_TYPE, "http://example.org/T", "iri", None, None, "g"),
        ("ex:early", "http://example.org/issued", "2019-12-31", "literal",
         "http://www.w3.org/2001/XMLSchema#date", None, "g"),
        ("ex:late", RDF_TYPE, "http://example.org/T", "iri", None, None, "g"),
        ("ex:late", "http://example.org/issued", "2025-01-01", "literal",
         "http://www.w3.org/2001/XMLSchema#date", None, "g"),
        ("ex:junk", RDF_TYPE, "http://example.org/T", "iri", None, None, "g"),
        ("ex:junk", "http://example.org/issued", "not-a-date", "literal",
         None, None, "g"),
    ]
    t = spark.createDataFrame(
        data,
        "subject string, predicate string, object_value string, "
        "object_type string, object_datatype string, object_lang string, "
        "graph string",
    )
    got = {
        (r["focusNode"], r["sourceConstraintComponent"])
        for r in validate(spark, t, rows).collect()
    }
    assert ("ex:ok", "sh:MinInclusiveConstraintComponent") not in got
    assert any(f == "ex:early" and "MinInclusive" in c for f, c in got)
    assert any(f == "ex:late" and "MaxExclusive" in c for f, c in got)
    # non-parseable value violates BOTH bounds (not-in-domain rule)
    assert sum(1 for f, _ in got if f == "ex:junk") == 2

    bad = """
    @prefix sh: <http://www.w3.org/ns/shacl#> .
    @prefix ex: <http://example.org/> .
    ex:S a sh:NodeShape ; sh:targetClass ex:T ;
      sh:property [ sh:path ex:p ; sh:minInclusive "banana" ] .
    """
    w2: list = []
    compile_shapes(bad, w2)
    assert any("minInclusive" in w and "banana" in w for w in w2)


def test_out_of_range_temporal_facet_warns(spark):
    """'2020-13-45' passes the digit-shape regex but is no calendar date —
    it must WARN at compile, not become an inert facet."""
    from shacl_validator_spark.shapes.compiler import compile_shapes

    ttl = """
    @prefix sh: <http://www.w3.org/ns/shacl#> .
    @prefix ex: <http://example.org/> .
    ex:S a sh:NodeShape ; sh:targetClass ex:T ;
      sh:property [ sh:path ex:p ; sh:minInclusive "2020-13-45" ] .
    """
    w: list = []
    rows = compile_shapes(ttl, w)
    assert any("minInclusive" in x and "2020-13-45" in x for x in w)
    assert all(r["min_inclusive_ts"] is None for r in rows)
