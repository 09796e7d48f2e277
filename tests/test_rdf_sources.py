"""Fixture-path RDF sources: RDF/XML (S2) and JSON-LD (S3) subsets produce
the same triples as the Turtle parser for equivalent content; the loaders
build their relation on the driver (deduped there, pinned once) with the
rows the old pickled ``createDataFrame(...).dropDuplicates()`` path gave;
every driver-built relation plans as a JVM ``LocalRelation``."""

from __future__ import annotations

import logging
from collections import Counter

import pytest

from shacl_validator_spark.local_df import local_df
from shacl_validator_spark.model import (
    CONSTRAINT_SCHEMA,
    SENTINEL_EMPTY_CONTENT,
    TRIPLE_SCHEMA,
    VIOLATION_SCHEMA,
)
from shacl_validator_spark.operators.validate import validate_report
from shacl_validator_spark.shapes.compiler import compile_shapes, constraints_df
from shacl_validator_spark.shapes.sparql import _values_df
from shacl_validator_spark.sources import rdf_io
from shacl_validator_spark.sources.rdf_io import (
    jsonld_rows,
    rdfxml_rows,
    triples_from_jsonld,
    triples_from_rdfxml,
    triples_from_turtle,
)
from shacl_validator_spark.sources.turtle import _rows_from_text

TTL = """
@prefix rdf:  <http://www.w3.org/1999/02/22-rdf-syntax-ns#> .
@prefix dcat: <http://www.w3.org/ns/dcat#> .
@prefix dct:  <http://purl.org/dc/terms/> .
@prefix ex:   <http://example.org/data#> .

ex:ds1 a dcat:Dataset ;
    dct:title "Population"@en ;
    dct:issued "2024-01-01T00:00:00Z"^^<http://www.w3.org/2001/XMLSchema#dateTime> ;
    dct:publisher ex:agency .
"""

XML = """<?xml version="1.0"?>
<rdf:RDF xmlns:rdf="http://www.w3.org/1999/02/22-rdf-syntax-ns#"
         xmlns:dcat="http://www.w3.org/ns/dcat#"
         xmlns:dct="http://purl.org/dc/terms/"
         xml:base="http://example.org/data#">
  <dcat:Dataset rdf:about="http://example.org/data#ds1">
    <dct:title xml:lang="en">Population</dct:title>
    <dct:issued rdf:datatype="http://www.w3.org/2001/XMLSchema#dateTime">2024-01-01T00:00:00Z</dct:issued>
    <dct:publisher rdf:resource="http://example.org/data#agency"/>
  </dcat:Dataset>
</rdf:RDF>
"""

JSONLD = {
    "@id": "http://example.org/data#ds1",
    "@type": "http://www.w3.org/ns/dcat#Dataset",
    "http://purl.org/dc/terms/title": [{"@value": "Population", "@language": "en"}],
    "http://purl.org/dc/terms/issued": [
        {
            "@value": "2024-01-01T00:00:00Z",
            "@type": "http://www.w3.org/2001/XMLSchema#dateTime",
        }
    ],
    "http://purl.org/dc/terms/publisher": [{"@id": "http://example.org/data#agency"}],
}


def _key_set(df):
    return {
        (r.subject, r.predicate, r.object_value, r.object_type, r.object_datatype, r.object_lang)
        for r in df.collect()
    }


def test_three_formats_agree(spark):
    ttl = _key_set(triples_from_turtle(spark, TTL))
    xml = _key_set(triples_from_rdfxml(spark, XML))
    jld = _key_set(triples_from_jsonld(spark, JSONLD))
    assert ttl == xml == jld
    assert len(ttl) == 4


# duplicate statements and mixed-case language tags in each format
DUP_TTL = """
@prefix dct: <http://purl.org/dc/terms/> .
@prefix ex:  <http://example.org/data#> .
ex:ds1 dct:title "Población"@ES-es , "Population"@en-GB ;
       dct:publisher ex:agency .
ex:ds1 dct:title "Población"@es-ES ;
       dct:publisher ex:agency ;
       dct:description [ dct:title "x" ] , [ dct:title "x" ] .
"""

DUP_XML = """<?xml version="1.0"?>
<rdf:RDF xmlns:rdf="http://www.w3.org/1999/02/22-rdf-syntax-ns#"
         xmlns:dct="http://purl.org/dc/terms/">
  <rdf:Description rdf:about="http://example.org/data#ds1">
    <dct:title xml:lang="ES-es">Población</dct:title>
    <dct:title xml:lang="es-ES">Población</dct:title>
    <dct:title xml:lang="en-GB">Population</dct:title>
    <dct:publisher rdf:resource="http://example.org/data#agency"/>
  </rdf:Description>
  <rdf:Description rdf:about="http://example.org/data#ds1">
    <dct:publisher rdf:resource="http://example.org/data#agency"/>
  </rdf:Description>
</rdf:RDF>
"""

DUP_JSONLD = [
    {
        "@id": "http://example.org/data#ds1",
        "http://purl.org/dc/terms/title": [
            {"@value": "Población", "@language": "ES-es"},
            {"@value": "Población", "@language": "es-ES"},
            {"@value": "Population", "@language": "en-GB"},
        ],
        "http://purl.org/dc/terms/publisher": [{"@id": "http://example.org/data#agency"}],
    },
    {
        "@id": "http://example.org/data#ds1",
        "http://purl.org/dc/terms/publisher": [{"@id": "http://example.org/data#agency"}],
    },
]


def _bag(df):
    return Counter(tuple(r) for r in df.collect())


def _relation_leaves(df):
    """(class name, rdd lineage) of every leaf of the optimized plan."""
    leaves = df._jdf.queryExecution().optimizedPlan().collectLeaves()
    out = []
    for i in range(leaves.size()):
        leaf = leaves.apply(i)
        name = leaf.getClass().getSimpleName()
        lineage = leaf.rdd().toDebugString() if name == "LogicalRDD" else ""
        out.append((name, lineage))
    return out


def _assert_pinned_not_pickled(df):
    """The relation is one pinned checkpoint: its only leaf is the
    localCheckpoint's ``LogicalRDD``, whose lineage is the checkpoint
    itself — no Python RDD to unpickle, no dedup left to run."""
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    assert "Deduplicate" not in plan and "Aggregate" not in plan, plan
    leaves = _relation_leaves(df)
    assert [n for n, _ in leaves] == ["LogicalRDD"], leaves
    lineage = leaves[0][1]
    assert "LocalCheckpointRDD" in lineage and "PythonRDD" not in lineage, lineage


def _rows(fmt, text, graph):
    """The parsed row tuples each loader hands to its relation builder."""
    if fmt == "turtle":
        return list(_rows_from_text(text, "_:b", graph))
    return (rdfxml_rows if fmt == "rdfxml" else jsonld_rows)(text, graph)


@pytest.mark.parametrize(
    "fmt,text",
    [("turtle", DUP_TTL), ("rdfxml", DUP_XML), ("jsonld", DUP_JSONLD)],
    ids=["turtle", "rdfxml", "jsonld"],
)
def test_driver_relation_matches_pickled_dedup(spark, fmt, text):
    """Differential: the loaders' rows equal the old
    ``createDataFrame(rows, TRIPLE_SCHEMA).dropDuplicates()`` rows as
    multisets (and the bare ``createDataFrame`` rows with
    ``distinct=False``), and the relation is pinned, not pickled."""
    rows = _rows(fmt, text, "g")
    old = spark.createDataFrame(rows, TRIPLE_SCHEMA)
    assert len(rows) > len(set(rows))  # the input really holds duplicates
    assert all(r[5] is None or r[5] == r[5].lower() for r in rows)
    for distinct in (True, False):
        new = rdf_io._triples_relation(spark, rows, distinct)
        assert new.schema == TRIPLE_SCHEMA
        assert _bag(new) == _bag(old.dropDuplicates() if distinct else old)
        _assert_pinned_not_pickled(new)
    loader = {
        "turtle": triples_from_turtle,
        "rdfxml": triples_from_rdfxml,
        "jsonld": triples_from_jsonld,
    }[fmt]
    public = loader(spark, text, graph="g")
    assert _bag(public) == _bag(old.dropDuplicates())
    _assert_pinned_not_pickled(public)
    if fmt == "turtle":
        bag = triples_from_turtle(spark, text, graph="g", distinct=False)
        assert _bag(bag) == _bag(old)
        _assert_pinned_not_pickled(bag)


def test_empty_input_sentinel_survives_pinning(spark):
    """An input with no triples is still the empty-content sentinel."""
    rows = compile_shapes(
        "@prefix sh: <http://www.w3.org/ns/shacl#> . "
        "@prefix ex: <http://example.org/> . "
        "ex:S a sh:NodeShape ; sh:targetClass ex:C ; "
        "sh:property [ sh:path ex:p ; sh:minCount 1 ] ."
    )
    empty = triples_from_turtle(spark, "@prefix ex: <http://example.org/> .")
    _assert_pinned_not_pickled(empty)
    rep = validate_report(spark, empty, rows)
    assert not rep.conforms and rep.total_violations == 1
    assert [r.sourceConstraintComponent for r in rep.results.collect()] == [
        SENTINEL_EMPTY_CONTENT
    ]


def test_driver_built_relations_plan_as_local_relation(spark):
    """Triples, violations, constraints and sh:sparql VALUES all go
    through Arrow into a ``LocalRelation`` (no Python worker on a scan)."""
    triple = ("http://e/s", "http://e/p", "v", "literal", None, "es", None)
    violation = (
        "http://e/s", "http://e/p", "v", [{"text": "m", "lang": "en"}],
        "Violation", "http://www.w3.org/ns/shacl#MinCountConstraintComponent",
        "http://e/S", None,
    )
    shapes = (
        "@prefix sh: <http://www.w3.org/ns/shacl#> . "
        "@prefix ex: <http://example.org/> . "
        "ex:S a sh:NodeShape ; sh:targetClass ex:C ; "
        "sh:property [ sh:path ex:p ; sh:minCount 1 ; sh:in ( ex:a ex:b ) ] ."
    )
    values = _values_df(
        spark,
        ["x"],
        [[("iri", "http://e/a")], [("lit", "1", None, "EN")], [("iri", "http://e/a")]],
    )
    cons = constraints_df(spark, shapes)
    for df in (
        local_df(spark, [triple], TRIPLE_SCHEMA),
        local_df(spark, [violation], VIOLATION_SCHEMA),
        cons,
        values,
    ):
        assert [n for n, _ in _relation_leaves(df)] == ["LocalRelation"]
    assert cons.schema == CONSTRAINT_SCHEMA
    # VALUES is deduped on the driver: two distinct bindings, no Aggregate
    assert values.count() == 2
    assert [r.v_x__lang for r in values.collect() if r.v_x__lang] == ["en"]


def test_local_df_fallback_is_logged(spark, caplog):
    """A schema Arrow cannot carry still builds (pickled path) but says so,
    naming the schema."""
    with caplog.at_level(logging.WARNING, logger="shacl_validator_spark.local_df"):
        df = local_df(spark, [], "d interval year to month")
    assert df.count() == 0
    assert any("interval year to month" in r.getMessage() for r in caplog.records)
