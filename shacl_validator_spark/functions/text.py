"""Scalar column functions: the reference's string helpers.

All pure ``pyspark.sql.functions`` compositions — JVM-side, whole-stage
codegen, no UDFs (SURVEY.md §2.7).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def normalize_lang(col: Column) -> Column:
    """``lang.toLowerCase().split('-')[0]`` — reference
    SHACLValidationService.ts:271-274 (F4)."""
    return F.lower(F.split(col, "-")[0])


def local_name(col: Column) -> Column:
    """Last segment after ``#`` or ``/`` — reference ReportViewer.tsx:156,182,225
    (F8)."""
    return F.element_at(F.split(col, "[#/]"), -1)


def severity_from_iri(col: Column) -> Column:
    """Severity by substring: warning/info/else Violation — reference
    SHACLValidationService.ts:294-299 (F6)."""
    low = F.lower(col)
    return (
        F.when(low.contains("warning"), F.lit("Warning"))
        .when(low.contains("info"), F.lit("Info"))
        .otherwise(F.lit("Violation"))
    )


# IRI compaction prefix table — reference ValidationResults.tsx:37-77 (F7).
PREFIX_TABLE: list[tuple[str, str]] = [
    ("dcat", "http://www.w3.org/ns/dcat#"),
    ("dct", "http://purl.org/dc/terms/"),
    ("foaf", "http://xmlns.com/foaf/0.1/"),
    ("sh", "http://www.w3.org/ns/shacl#"),
    ("rdf", "http://www.w3.org/1999/02/22-rdf-syntax-ns#"),
    ("rdfs", "http://www.w3.org/2000/01/rdf-schema#"),
    ("xsd", "http://www.w3.org/2001/XMLSchema#"),
    ("owl", "http://www.w3.org/2002/07/owl#"),
    ("skos", "http://www.w3.org/2004/02/skos/core#"),
    ("vcard", "http://www.w3.org/2006/vcard/ns#"),
    ("adms", "http://www.w3.org/ns/adms#"),
    ("schema", "http://schema.org/"),
    ("time", "http://www.w3.org/2006/time#"),
    ("locn", "http://www.w3.org/ns/locn#"),
    ("prov", "http://www.w3.org/ns/prov#"),
    ("odrl", "http://www.w3.org/ns/odrl/2/"),
    ("spdx", "http://spdx.org/rdf/terms#"),
    ("dqv", "http://www.w3.org/ns/dqv#"),
    ("eli", "http://data.europa.eu/eli/ontology#"),
    ("dcatap", "http://data.europa.eu/r5r/"),
    ("geodcat", "http://data.europa.eu/930/"),
    ("cnt", "http://www.w3.org/2011/content#"),
]


def compact_iri(col: Column) -> Column:
    """Compact an IRI via the prefix table; fallback to the `#`/`/` local
    name — reference ValidationResults.tsx:37-77 (F7). Pure when-chain."""
    out = None
    for pfx, ns in PREFIX_TABLE:
        cond = col.startswith(ns)
        val = F.concat(F.lit(pfx + ":"), F.substring(col, len(ns) + 1, 10_000))
        out = F.when(cond, val) if out is None else out.when(cond, val)
    return out.otherwise(local_name(col))


def preprocess_markdown(text: Column) -> Column:
    """F9 — the reference's message-markdown preprocessing
    (ValidationResults.tsx:131-149) as one column expression:

    - markdown TABLES pass through untouched (first line contains
      ``|...|`` and the second line is a separator row),
    - text without pipe separators passes through,
    - otherwise pipes become ``\\n- `` bullets and bare/angle-bracketed
      URLs are wrapped as ``[url](url)`` links.

    Dialect note: the reference's JS regexes use constructs shared by
    Java (Spark) and RE2 (DuckDB) — no lookaround, no JS-specific
    classes — so the same patterns run verbatim in both engines.
    """
    is_table = text.rlike(r"^\s*\|?.+\|.+\n\s*\|?\s*[-:\s|]+\|")
    has_pipe = text.contains("|")
    bulleted = F.regexp_replace(text, r"\s*\|\s*", "\n- ")
    linked = F.regexp_replace(
        bulleted, r"(?i)<?(https?://[^\s<>)]+)>?", r"[$1]($1)"
    )
    return F.when(is_table | ~has_pipe, text).otherwise(linked)


def _one_decimal(v: Column) -> Column:
    """Format ``v`` with exactly one decimal, rounding half AWAY FROM ZERO
    for positives via ``floor(v·10 + 0.5)`` — the arithmetic JS
    ``toFixed(1)`` applies, spelled so Spark and DuckDB agree bit-for-bit
    (both evaluate the same exact double ops; no engine rounding mode is
    involved)."""
    scaled = F.floor(v * 10.0 + 0.5).cast("long")
    return F.concat(
        (scaled / 10).cast("long").cast("string"),
        F.lit("."),
        (scaled % 10).cast("string"),
    )


def format_file_size(n_bytes: Column) -> Column:
    """F14 — ValidatorInput.tsx:192-196: ``N B`` under 1 KiB, one-decimal
    ``KB`` under 1 MiB, else one-decimal ``MB``."""
    b = n_bytes.cast("double")
    return (
        F.when(b < 1024, F.concat(n_bytes.cast("long").cast("string"), F.lit(" B")))
        .when(b < 1024 * 1024, F.concat(_one_decimal(b / 1024.0), F.lit(" KB")))
        .otherwise(F.concat(_one_decimal(b / (1024.0 * 1024.0)), F.lit(" MB")))
    )


def estimate_validation_minutes(
    n_bytes: Column, minutes_per_mb: float = 0.4
) -> Column:
    """F14 — ValidatorInput.tsx:198-202: ``max(1, ceil(MB · rate))``, the
    reference's 0.4 min/MB single-thread estimate (the baseline figure the
    bench is compared against)."""
    mb = n_bytes.cast("double") / (1024.0 * 1024.0)
    return F.greatest(F.lit(1).cast("long"), F.ceil(mb * minutes_per_mb))
