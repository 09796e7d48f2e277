"""Sequence/alternative path evaluation, shapes-union, parse-error sentinel,
sh:sparql profile rules, foafPage enrichment."""

from __future__ import annotations

from shacl_validator_spark.model import SENTINEL_PARSE_ERROR, SH
from shacl_validator_spark.operators.validate import (
    validate,
    validate_report,
    validate_turtle,
)
from shacl_validator_spark.shapes import compile_shapes
from shacl_validator_spark.shapes.compiler import compile_shape_files, render_path
from shacl_validator_spark.shapes.suites import (
    DIR3_ORGANISM_RULE_TTL,
    HVD_LEGISLATION_RULE_TTL,
    TEMPORAL_ORDER_RULE_TTL,
    UNIQUE_IDENTIFIER_RULE_TTL,
)
from shacl_validator_spark.sources.rdf_io import triples_from_turtle

SPARQL_COMPONENT = SH + "SPARQLConstraintComponent"
RULES = "http://example.org/rules#"

PREFIX = """
@prefix sh:   <http://www.w3.org/ns/shacl#> .
@prefix ex:   <http://example.org/s#> .
@prefix d:    <http://example.org/d#> .
@prefix xsd:  <http://www.w3.org/2001/XMLSchema#> .
"""

SEQ_SHAPE = PREFIX + """
ex:PersonShape a sh:NodeShape ;
    sh:targetClass ex:Person ;
    sh:property [
        sh:path ( ex:address ex:city ) ;
        sh:minCount 1 ;
        sh:severity sh:Violation ;
    ] .
"""

ALT_SHAPE = PREFIX + """
ex:PersonShape a sh:NodeShape ;
    sh:targetClass ex:Person ;
    sh:property [
        sh:path [ sh:alternativePath ( ex:email ex:phone ) ] ;
        sh:minCount 1 ;
        sh:severity sh:Violation ;
    ] .
"""

SEQ_DATA_OK = PREFIX + """
d:p1 a ex:Person ; ex:address d:a1 .
d:a1 ex:city "Madrid" .
"""

SEQ_DATA_BAD = PREFIX + """
d:p2 a ex:Person ; ex:address d:a2 .
d:a2 ex:zip "28001" .
"""

ALT_DATA_OK = PREFIX + """
d:p1 a ex:Person ; ex:phone "555" .
"""

ALT_DATA_BAD = PREFIX + """
d:p2 a ex:Person ; ex:fax "556" .
"""


def test_sequence_path_rendering():
    assert render_path([["a"], ["b"]]) == "a/b"
    assert render_path([["a", "b"]]) == "(a | b)"


def test_sequence_path_min_count(spark):
    shapes = compile_shapes(SEQ_SHAPE)
    assert shapes[0]["path"] == "http://example.org/s#address/http://example.org/s#city"
    ok = validate(spark, triples_from_turtle(spark, SEQ_DATA_OK), shapes)
    assert ok.count() == 0
    bad = validate(spark, triples_from_turtle(spark, SEQ_DATA_BAD), shapes).collect()
    assert len(bad) == 1
    assert bad[0].focusNode == "http://example.org/d#p2"
    assert bad[0].sourceConstraintComponent == SH + "MinCountConstraintComponent"


def test_alternative_path_min_count(spark):
    shapes = compile_shapes(ALT_SHAPE)
    assert "(" in shapes[0]["path"] and " | " in shapes[0]["path"]
    ok = validate(spark, triples_from_turtle(spark, ALT_DATA_OK), shapes)
    assert ok.count() == 0
    bad = validate(spark, triples_from_turtle(spark, ALT_DATA_BAD), shapes).collect()
    assert len(bad) == 1


def test_shape_files_union():
    rows = compile_shape_files([SEQ_SHAPE, ALT_SHAPE])
    assert len(rows) == 2
    assert [r["constraint_id"] for r in rows] == [1, 2]


def test_parse_error_sentinel(spark):
    shapes = compile_shapes(SEQ_SHAPE)
    rep = validate_turtle(spark, "this is @@ not turtle", shapes)
    assert not rep.conforms
    rows = rep.results.collect()
    assert rows[0].sourceConstraintComponent == SENTINEL_PARSE_ERROR


def _rule_hits(spark, triples, *rule_ttls):
    """SPARQL-component results of SEQ_SHAPE plus the given profile rule
    shapes, compiled as one union (the way profiles run them)."""
    warnings: list[str] = []
    rows = compile_shape_files([SEQ_SHAPE, *rule_ttls], warnings)
    assert warnings == []
    rep = validate_report(spark, triples, rows)
    return [r for r in rep.results.collect() if r.sourceConstraintComponent == SPARQL_COMPONENT]


def test_custom_rule_dir3(spark):
    data = PREFIX + """
@prefix dcat: <http://www.w3.org/ns/dcat#> .
@prefix dct:  <http://purl.org/dc/terms/> .
d:ds1 a dcat:Dataset ; dct:publisher <http://datos.gob.es/recurso/sector-publico/org/Organismo/E04921301> .
d:ds2 a dcat:Dataset ; dct:publisher <http://other.org/agency> .
d:ds3 a dcat:Dataset ; dct:publisher "just a string" .
"""
    hits = _rule_hits(spark, triples_from_turtle(spark, data), DIR3_ORGANISM_RULE_TTL)
    assert {h.focusNode for h in hits} == {
        "http://example.org/d#ds2",
        "http://example.org/d#ds3",
    }
    assert all(
        h.resultPath == "http://purl.org/dc/terms/publisher"
        and h.sourceShape == RULES + "DIR3OrganismRestriction"
        and h.message[0].lang == "en"
        for h in hits
    )


def test_custom_rule_hvd_legislation(spark):
    data = PREFIX + """
@prefix dcat:   <http://www.w3.org/ns/dcat#> .
@prefix dcatap: <http://data.europa.eu/r5r/> .
d:ok a dcat:Dataset ;
    dcatap:hvdCategory <http://data.europa.eu/bna/c_164e0bf5> ;
    dcatap:applicableLegislation <http://data.europa.eu/eli/reg_impl/2023/138/oj> .
d:bad a dcat:Dataset ;
    dcatap:hvdCategory <http://data.europa.eu/bna/c_164e0bf5> .
"""
    hits = _rule_hits(spark, triples_from_turtle(spark, data), HVD_LEGISLATION_RULE_TTL)
    assert len(hits) == 1
    assert hits[0].focusNode == "http://example.org/d#bad"
    assert hits[0].sourceShape == RULES + "HVDLegislationRequired"
    assert hits[0].resultPath == "http://data.europa.eu/r5r/applicableLegislation"
    assert hits[0].value is None


def test_custom_rule_duplicate_identifier(spark):
    data = PREFIX + """
@prefix dcat: <http://www.w3.org/ns/dcat#> .
@prefix dct:  <http://purl.org/dc/terms/> .
d:a a dcat:Dataset ; dct:identifier "ds-001" .
d:b a dcat:Dataset ; dct:identifier "ds-001" .
d:c a dcat:Dataset ; dct:identifier "ds-002" .
"""
    hits = _rule_hits(spark, triples_from_turtle(spark, data), UNIQUE_IDENTIFIER_RULE_TTL)
    assert {h.focusNode for h in hits} == {
        "http://example.org/d#a",
        "http://example.org/d#b",
    }
    assert all(
        h.value == "ds-001" and h.sourceShape == RULES + "UniqueDatasetIdentifier"
        for h in hits
    )


def test_custom_rule_temporal_order(spark):
    # d:junk's start is no yyyy-MM-dd date (month 13): not compared, even
    # though it sorts after its end date as a string
    data = PREFIX + """
@prefix dcat: <http://www.w3.org/ns/dcat#> .
d:ok  dcat:startDate "2024-01-01" ; dcat:endDate "2024-12-31" .
d:bad dcat:startDate "2024-12-31" ; dcat:endDate "2024-01-01" .
d:junk dcat:startDate "2024-13-45" ; dcat:endDate "2024-01-01" .
"""
    hits = _rule_hits(spark, triples_from_turtle(spark, data), TEMPORAL_ORDER_RULE_TTL)
    assert len(hits) == 1
    assert hits[0].focusNode == "http://example.org/d#bad"
    assert hits[0].value == "2024-12-31"
    assert hits[0].resultPath == "http://www.w3.org/ns/dcat#startDate"
    assert hits[0].resultSeverity == "Warning"
    assert hits[0].sourceShape == RULES + "TemporalOrder"


def test_target_subjects_of_and_target_node(spark):
    """The other two SHACL target kinds: subjects-of-predicate targeting
    needs no rdf:type triples at all; node targeting validates an explicit
    node (including zero-value minCount detection on it)."""
    shapes_ttl = PREFIX + """
ex:HasEmailShape a sh:NodeShape ;
    sh:targetSubjectsOf ex:email ;
    sh:property [ sh:path ex:email ; sh:pattern "@" ; sh:severity sh:Violation ] .

ex:RootShape a sh:NodeShape ;
    sh:targetNode d:root ;
    sh:property [ sh:path ex:label ; sh:minCount 1 ; sh:severity sh:Violation ] .
"""
    rows = compile_shapes(shapes_ttl)
    kinds = {
        (r["target_class"], r["target_subjects_of"], r["target_node"]) for r in rows
    }
    assert (None, "http://example.org/s#email", None) in kinds
    assert (None, None, "http://example.org/d#root") in kinds

    data = PREFIX + """
d:u1 ex:email "ok@example.org" .
d:u2 ex:email "not-an-email" .
d:root ex:other "x" .
"""
    got = {
        (r.focusNode, r.sourceConstraintComponent.rsplit("#", 1)[-1])
        for r in validate(spark, triples_from_turtle(spark, data), rows).collect()
    }
    assert got == {
        ("http://example.org/d#u2", "PatternConstraintComponent"),
        ("http://example.org/d#root", "MinCountConstraintComponent"),
    }


def test_target_objects_of(spark):
    """sh:targetObjectsOf: the objects of the predicate become focus nodes
    — a member without the required name fires minCount."""
    shapes_ttl = PREFIX + """
ex:MemberShape a sh:NodeShape ;
    sh:targetObjectsOf ex:member ;
    sh:property [ sh:path ex:name ; sh:minCount 1 ; sh:severity sh:Violation ] .
"""
    rows = compile_shapes(shapes_ttl)
    assert any(r["target_objects_of"] == "http://example.org/s#member" for r in rows)
    data = PREFIX + """
d:org ex:member d:alice , d:bob .
d:alice ex:name "Alice" .
"""
    got = {
        (r.focusNode, r.sourceConstraintComponent.rsplit("#", 1)[-1])
        for r in validate(spark, triples_from_turtle(spark, data), rows).collect()
    }
    assert got == {("http://example.org/d#bob", "MinCountConstraintComponent")}


def test_custom_rules_dedupe_across_graphs(spark):
    """graph is part of quad identity: the same violating fact asserted by
    two source pages is ONE value node and must yield ONE result per rule
    (matching the compiled components' set semantics)."""
    data = PREFIX + """
@prefix dcat: <http://www.w3.org/ns/dcat#> .
@prefix dct:  <http://purl.org/dc/terms/> .
d:ds a dcat:Dataset ; dct:publisher <http://other.org/agency> .
d:p dcat:startDate "2024-12-31" ; dcat:endDate "2024-01-01" .
"""
    triples = triples_from_turtle(spark, data, graph="page1").unionByName(
        triples_from_turtle(spark, data, graph="page2")
    )
    hits = _rule_hits(spark, triples, DIR3_ORGANISM_RULE_TTL, TEMPORAL_ORDER_RULE_TTL)
    assert len(hits) == 2  # one DIR3 + one temporal, not doubled per graph


def test_foaf_page_enrichment(spark):
    from shacl_validator_spark.shapes import profile_shapes_ttl

    from . import fixtures_data as FX

    shapes = compile_shapes(profile_shapes_ttl("mini_dcat_ap"))
    rep = validate_report(spark, triples_from_turtle(spark, FX.MISSING_DATASET), shapes)
    rows = rep.results.collect()
    assert rows[0].foafPage == "https://www.w3.org/TR/vocab-dcat-2/#Class:Catalog"
