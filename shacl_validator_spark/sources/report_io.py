"""Validation-report sinks and source: Turtle writer, Turtle parser, CSV.

- ``report_to_turtle``   — S8: serialize a report as an enriched
  ``sh:ValidationReport`` Turtle document with dct metadata, mirroring the
  reference's exporter structure and escaping
  (reference src/services/SHACLValidationService.ts:426-555, escaping :511,515).
- ``parse_report_turtle`` — S11: inverse parser back to the violations
  DataFrame (reference src/workers/reportWorker.ts:10-112), used to
  round-trip our own reports in tests.
- ``flatten_for_csv`` + ``write_report_csv`` / ``write_report_csv_file`` —
  S9: RFC-4180 CSV, every field quoted and inner quotes doubled (quoting
  equivalent to SHACLValidationService.ts:578-583), as a Spark part-file
  directory or as one driver-written file.

Small reports collect to the driver for string assembly (the reference is
driver-side too); at scale the violations table itself is written with
``df.write`` and only the header is generated here (SURVEY.md §2.1 S8).
"""

from __future__ import annotations

import csv
import re

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..local_df import local_df
from ..model import SH, VIOLATION_SCHEMA

_PREFIXES = """@prefix sh: <http://www.w3.org/ns/shacl#> .
@prefix xsd: <http://www.w3.org/2001/XMLSchema#> .
@prefix dct: <http://purl.org/dc/terms/> .
@prefix foaf: <http://xmlns.com/foaf/0.1/> .
"""


def _escape(s: str) -> str:
    """Turtle string escaping — backslash then quote
    (reference SHACLValidationService.ts:511,515)."""
    return s.replace("\\", "\\\\").replace('"', '\\"')


def _is_iri_like(s: str | None) -> bool:
    """Only IRI-ish paths/terms are serialized as IRIs — guard against the
    reference's '[object Object]' artifacts (SHACLValidationService.ts:505-509)."""
    return bool(s) and (s.startswith("http://") or s.startswith("https://") or ":" in s)


# characters illegal inside <...>: controls/space and <>"{}|^`\ — percent-
# encoded so a hostile IRI cannot break the serialization
_IRI_BAD = re.compile(r'[\x00-\x20<>"{}|^`\\]')


def _iri_escape(s: str) -> str:
    return _IRI_BAD.sub(lambda m: "%%%02X" % ord(m.group()), s)


def _node_ref(s: str) -> str:
    """Render a node-position term: blank nodes as bare ``_:label`` (a
    ``<_:b4>`` form is invalid Turtle), everything else as an escaped IRI."""
    if s.startswith("_:"):
        return "_:" + re.sub(r"[^0-9A-Za-z_.\-]", ".", s[2:])
    return f"<{_iri_escape(s)}>"


def report_to_turtle(
    results: DataFrame,
    conforms: bool,
    profile: str = "",
    timestamp: str = "1970-01-01T00:00:00.000Z",
    max_rows: int = 100_000,
) -> str:
    """Serialize results → sh:ValidationReport Turtle (driver-side assembly;
    ``timestamp`` is injected for determinism — tests pass a fixed value,
    production passes job start time).

    Raises ``ValueError`` when ``results`` has more than ``max_rows`` rows
    rather than writing a report that silently drops results; write large
    reports with ``write_report_csv``."""
    rows = results.limit(max_rows + 1).collect()
    if len(rows) > max_rows:
        raise ValueError(
            f"report has more than max_rows={max_rows} results; "
            "write it with write_report_csv"
        )
    out = [_PREFIXES]
    out.append("[] a sh:ValidationReport ;")
    out.append(f"    sh:conforms {'true' if conforms else 'false'} ;")
    out.append(f'    dct:created "{timestamp}"^^xsd:dateTime ;')
    if profile:
        out.append(f'    dct:conformsTo "{_escape(profile)}" ;')
    if not rows:
        out[-1] = out[-1].rstrip(" ;") + " ."
        return "\n".join(out) + "\n"
    out.append("    sh:result")
    refs = ", ".join(f"_:r{i}" for i in range(len(rows)))
    out.append(f"        {refs} .")
    for i, r in enumerate(rows):
        out.append(f"_:r{i} a sh:ValidationResult ;")
        out.append(f"    sh:resultSeverity sh:{r.resultSeverity} ;")
        if r.focusNode:
            if r.focusNode.startswith("_:") or _is_iri_like(r.focusNode):
                out.append(f"    sh:focusNode {_node_ref(r.focusNode)} ;")
            else:
                out.append(f'    sh:focusNode "{_escape(r.focusNode)}" ;')
        if (
            r.resultPath
            and not r.resultPath.startswith("_:")
            and _is_iri_like(r.resultPath)
        ):
            out.append(f"    sh:resultPath <{_iri_escape(r.resultPath)}> ;")
        if r.value is not None:
            out.append(f'    sh:value "{_escape(r.value)}" ;')
        for m in r.message or []:
            lang = f"@{m.lang}" if m.lang else ""
            out.append(f'    sh:resultMessage "{_escape(m.text)}"{lang} ;')
        if r.sourceConstraintComponent:
            if _is_iri_like(r.sourceConstraintComponent) and r.sourceConstraintComponent.startswith("http"):
                out.append(f"    sh:sourceConstraintComponent <{r.sourceConstraintComponent}> ;")
            else:
                out.append(
                    f'    sh:sourceConstraintComponent "{_escape(r.sourceConstraintComponent)}" ;'
                )
        if r.sourceShape:
            if r.sourceShape.startswith("_:"):
                out.append(f"    sh:sourceShape {_node_ref(r.sourceShape)} ;")
            elif r.sourceShape.startswith("http"):
                out.append(f"    sh:sourceShape <{_iri_escape(r.sourceShape)}> ;")
            else:
                out.append(f'    sh:sourceShape "{_escape(r.sourceShape)}" ;')
        if getattr(r, "foafPage", None):
            out.append(f"    foaf:page <{_iri_escape(r.foafPage)}> ;")
        out[-1] = out[-1].rstrip(" ;") + " ."
    return "\n".join(out) + "\n"


def parse_report_turtle(spark: SparkSession, ttl: str) -> tuple[bool, DataFrame]:
    """Parse a sh:ValidationReport Turtle doc back into (conforms, results DF)
    — the reportWorker path (reference src/workers/reportWorker.ts:38-112):
    find the report node, follow sh:result, fetch per-result predicates,
    severity mapped by IRI suffix (:77-80)."""
    from ..shapes.compiler import parse_turtle

    g = parse_turtle(ttl)
    report_nodes = [
        s
        for s, p, o in g.triples
        if p == "http://www.w3.org/1999/02/22-rdf-syntax-ns#type"
        and o.value == SH + "ValidationReport"
    ]
    conforms = True
    rows = []
    if report_nodes:
        rn = report_nodes[0]
        c = g.first(rn, SH + "conforms")
        conforms = c is not None and c.value == "true"
        result_nodes = [t.value for t in g.objects(rn, SH + "result")]
    else:
        result_nodes = []
    for node in result_nodes:
        sev_t = g.first(node, SH + "resultSeverity")
        sev = "Violation"
        if sev_t is not None:
            suffix = sev_t.value.rsplit("#", 1)[-1]
            sev = suffix if suffix in ("Violation", "Warning", "Info") else "Violation"
        focus = g.first(node, SH + "focusNode")
        path = g.first(node, SH + "resultPath")
        value = g.first(node, SH + "value")
        comp = g.first(node, SH + "sourceConstraintComponent")
        shape = g.first(node, SH + "sourceShape")
        messages = [
            {"text": m.value, "lang": m.lang.lower().split("-")[0] if m.lang else None}
            for m in g.objects(node, SH + "resultMessage")
        ]
        page = g.first(node, "http://xmlns.com/foaf/0.1/page")
        rows.append(
            (
                focus.value if focus else None,
                path.value if path else None,
                value.value if value else None,
                messages or None,
                sev,
                comp.value if comp else None,
                shape.value if shape else None,
                page.value if page else None,
            )
        )
    return conforms, local_df(spark, rows, VIOLATION_SCHEMA)


def flatten_for_csv(results: DataFrame, preferred_lang: str = "en") -> DataFrame:
    """Flattened rows with the locale cascade for message selection:
    preferred → 'es' → untagged → first (reference
    ValidationResults.tsx:163-176), plus the constraintKey of
    reportWorker.ts:120 (sourceShape + '-' + component)."""
    msgs = F.coalesce(F.col("message"), F.array())

    def pick(lang_match):
        return F.try_element_at(F.filter(msgs, lang_match), F.lit(1))["text"]

    message_text = F.coalesce(
        pick(lambda m: m["lang"] == preferred_lang),
        pick(lambda m: m["lang"] == "es"),
        pick(lambda m: m["lang"].isNull()),
        F.try_element_at(msgs, F.lit(1))["text"],
    )
    return results.select(
        F.col("resultSeverity").alias("severity"),
        "focusNode",
        F.col("resultPath").alias("path"),
        "value",
        message_text.alias("message"),
        F.col("sourceConstraintComponent").alias("constraint"),
        F.col("sourceShape").alias("shape"),
        F.concat_ws(
            "-", F.col("sourceShape"), F.col("sourceConstraintComponent")
        ).alias("constraintKey"),
    )


def write_report_csv(results: DataFrame, path: str, preferred_lang: str = "en") -> None:
    """S9: distributed CSV sink — a Spark part-file directory in the
    RFC-4180 dialect of ``write_report_csv_file`` (Spark escapes quotes with
    a backslash unless ``escape`` is the quote itself)."""
    flatten_for_csv(results, preferred_lang).write.mode("overwrite").option(
        "header", True
    ).option("quoteAll", True).option("escape", '"').csv(path)


def write_report_csv_file(results: DataFrame, path: str, preferred_lang: str = "en") -> None:
    """S9 as one downloadable file (the reference's export), written from
    the driver for a driver-sized report; same dialect as
    ``write_report_csv``, so either sink reads back to the same rows."""
    flat = flatten_for_csv(results, preferred_lang)
    with open(path, "w", encoding="utf-8", newline="") as f:
        w = csv.writer(f, quoting=csv.QUOTE_ALL, lineterminator="\n")
        w.writerow(flat.columns)
        w.writerows(flat.collect())


def severity_segment(results: DataFrame, severity: str) -> DataFrame:
    """S10: one severity class (reference ReportViewer.tsx:274-294)."""
    return results.filter(F.lower(F.col("resultSeverity")).contains(severity.lower()))
