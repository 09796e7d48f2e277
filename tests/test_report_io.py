"""Report sink/source details: CSV flatten locale cascade, severity
segments, Turtle escaping, format sniffing."""

from __future__ import annotations

import csv
import glob
import os

import pytest

from shacl_validator_spark.model import VIOLATION_SCHEMA
from shacl_validator_spark.sources.rdf_io import detect_format
from shacl_validator_spark.sources.report_io import (
    flatten_for_csv,
    parse_report_turtle,
    report_to_turtle,
    severity_segment,
    write_report_csv,
    write_report_csv_file,
)


def _results(spark):
    rows = [
        (
            "http://ex.org/d1",
            "http://ex.org/p",
            'va"l\\ue',
            [
                {"text": "hola", "lang": "es"},
                {"text": "hello", "lang": "en"},
                {"text": "plain", "lang": None},
            ],
            "Violation",
            "http://www.w3.org/ns/shacl#MinCountConstraintComponent",
            "http://ex.org/Shape1",
            "https://docs.example.org/shape1",
        ),
        (
            "http://ex.org/d2",
            None,
            None,
            [{"text": "solo-es", "lang": "es"}],
            "Warning",
            "http://www.w3.org/ns/shacl#PatternConstraintComponent",
            None,
            None,
        ),
        (
            "http://ex.org/d3",
            "http://ex.org/q",
            "x",
            None,
            "Info",
            "http://www.w3.org/ns/shacl#InConstraintComponent",
            "http://ex.org/Shape2",
            None,
        ),
    ]
    return spark.createDataFrame(rows, VIOLATION_SCHEMA)


def test_locale_cascade(spark):
    """preferred → 'es' → untagged → first (reference
    ValidationResults.tsx:163-176)."""
    df = _results(spark)
    en = {r.focusNode: r.message for r in flatten_for_csv(df, "en").collect()}
    assert en["http://ex.org/d1"] == "hello"
    assert en["http://ex.org/d2"] == "solo-es"  # es fallback
    assert en["http://ex.org/d3"] is None

    de = {r.focusNode: r.message for r in flatten_for_csv(df, "de").collect()}
    assert de["http://ex.org/d1"] == "hola"  # no de → es fallback


def test_constraint_key(spark):
    rows = flatten_for_csv(_results(spark)).collect()
    d1 = [r for r in rows if r.focusNode == "http://ex.org/d1"][0]
    assert d1.constraintKey == (
        "http://ex.org/Shape1-http://www.w3.org/ns/shacl#MinCountConstraintComponent"
    )


def test_severity_segment(spark):
    df = _results(spark)
    assert severity_segment(df, "violation").count() == 1
    assert severity_segment(df, "Warning").count() == 1


def test_turtle_escaping_round_trip(spark):
    df = _results(spark)
    ttl = report_to_turtle(df, conforms=False)
    assert '\\"' in ttl  # quote escaped
    conforms, back = parse_report_turtle(spark, ttl)
    vals = {r.value for r in back.collect()}
    assert 'va"l\\ue' in vals


def test_turtle_refuses_to_truncate(spark, tmp_path):
    """A report larger than max_rows raises instead of writing a
    complete-looking sh:ValidationReport with results dropped, and the
    sink the error names writes every result."""
    df = _results(spark)
    with pytest.raises(ValueError, match="write_report_csv"):
        report_to_turtle(df, conforms=False, max_rows=2)
    assert report_to_turtle(df, conforms=False, max_rows=3).count("a sh:ValidationResult") == 3
    out = str(tmp_path / "report_csv")
    write_report_csv(df, out)
    back = spark.read.option("header", True).csv(out)
    assert back.count() == 3
    assert back.columns == flatten_for_csv(df).columns


def _csv_rows(paths):
    """Header + data rows of RFC-4180 files (a part-file directory repeats
    its header in every part)."""
    header, rows = None, []
    for path in paths:
        with open(path, encoding="utf-8", newline="") as f:
            recs = list(csv.reader(f))
        if recs:
            header = recs[0]
            rows += recs[1:]
    return header, sorted(rows)


def test_csv_sinks_agree(spark, tmp_path):
    """The single-file sink (tools/validate_catalog.py's report.csv) and the
    distributed part-file sink write one dialect: a message holding a comma,
    a quote and a newline reads back to the same rows from both."""
    tricky = 'has, a comma "and a quote"\nand a newline'
    df = _results(spark).union(
        spark.createDataFrame(
            [("http://ex.org/d4", None, 'x"y', [{"text": tricky, "lang": "en"}],
              "Violation", "http://www.w3.org/ns/shacl#ClassConstraintComponent",
              None, None)],
            VIOLATION_SCHEMA,
        )
    )
    one = str(tmp_path / "report.csv")
    parts = str(tmp_path / "report_parts")
    write_report_csv_file(df, one)
    write_report_csv(df, parts)
    h1, rows1 = _csv_rows([one])
    h2, rows2 = _csv_rows(sorted(glob.glob(os.path.join(parts, "part-*.csv"))))
    assert h1 == h2 == flatten_for_csv(df).columns
    assert rows1 == rows2
    assert len(rows1) == 4
    assert [r for r in rows1 if r[1] == "http://ex.org/d4"][0][4] == tricky
    # every field quoted, quotes doubled (RFC 4180), in both sinks
    with open(one, encoding="utf-8") as f:
        text = f.read()
    assert '"x""y"' in text and '"severity","focusNode"' in text
    for part in glob.glob(os.path.join(parts, "part-*.csv")):
        with open(part, encoding="utf-8") as f:
            assert "\\\"" not in f.read()


def test_detect_format():
    assert detect_format("", content_type="text/turtle; charset=utf-8") == "text/turtle"
    assert detect_format("", url="http://x/y.rdf") == "application/rdf+xml"
    assert detect_format("", url="http://x/y.jsonld") == "application/ld+json"
    assert detect_format('<?xml version="1.0"?><rdf:RDF>') == "application/rdf+xml"
    assert detect_format('{"@context": {}}') == "application/ld+json"
    assert detect_format("@prefix ex: <http://e/> .") == "text/turtle"


def test_mime_alias_normalization():
    """RDF mime alias groups (RDFService.ts:26-40), driver-side and in the
    sniffer's content-type path."""
    from shacl_validator_spark.sources.rdf_io import normalize_mime

    assert normalize_mime(None) == "text/turtle"
    assert normalize_mime("Turtle") == "text/turtle"
    assert normalize_mime("rdf/xml") == "application/rdf+xml"
    assert normalize_mime("rdfxml") == "application/rdf+xml"
    assert normalize_mime("jsonld") == "application/ld+json"
    assert normalize_mime("application/json") == "application/ld+json"
    assert normalize_mime("n-triples") == "application/n-triples"
    assert normalize_mime("text/csv") == "text/csv"  # pass-through
    assert detect_format("", content_type="rdf/xml") == "application/rdf+xml"
    assert detect_format("", content_type="jsonld; charset=utf-8") == "application/ld+json"


def test_turtle_report_bnode_focus_round_trip(spark):
    """Blank-node focus nodes serialize as bare _:label (a <_:b4> form is
    invalid Turtle) and survive the S8 -> S11 round trip; hostile IRI chars
    are percent-encoded inside <>."""
    from shacl_validator_spark.model import VIOLATION_SCHEMA
    from shacl_validator_spark.sources.report_io import (
        parse_report_turtle,
        report_to_turtle,
    )

    rows = [
        {
            "focusNode": "_:b4",
            "resultPath": "http://example.org/p",
            "value": "v",
            "message": None,
            "resultSeverity": "Violation",
            "sourceConstraintComponent": "http://www.w3.org/ns/shacl#MinCountConstraintComponent",
            "sourceShape": "_:f0.b2",
            "foafPage": None,
        },
        {
            "focusNode": "http://example.org/weird iri>",
            "resultPath": "http://example.org/p",
            "value": "v2",
            "message": None,
            "resultSeverity": "Warning",
            "sourceConstraintComponent": "http://www.w3.org/ns/shacl#PatternConstraintComponent",
            "sourceShape": "http://example.org/S",
            "foafPage": None,
        },
    ]
    df = spark.createDataFrame(rows, VIOLATION_SCHEMA)
    ttl = report_to_turtle(df, conforms=False)
    assert "sh:focusNode _:b4" in ttl and "<_:" not in ttl
    assert "sh:sourceShape _:f0.b2" in ttl
    assert "weird%20iri%3E" in ttl
    conforms, back = parse_report_turtle(spark, ttl)
    got = {r["focusNode"] for r in back.collect()}
    assert not conforms
    assert "_:b4" in got
