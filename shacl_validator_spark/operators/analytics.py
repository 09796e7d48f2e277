"""Report analytics: the reference's dashboard aggregations (SURVEY.md §2.4-2.5).

Each function is a pure DataFrame transform over the violations table and is
SQL-expressible, so every one is registered in ``__spark_entry__.py`` with a
DuckDB oracle.  Reference call sites:
- severity summary        ValidationResults.tsx:366-371 / reportWorker.ts:127-132 (A2)
- finding grouping        ValidationResults.tsx:264-300 (A3) + rank sort :294-299 (W1)
- top-K shape breakdown   ReportViewer.tsx:140-163 (A4)
- top-K path breakdown    ReportViewer.tsx:166-190 (A5)
- focus-class breakdown   ReportViewer.tsx:193-216 (A6)
- component breakdown     ReportViewer.tsx:219-232 (A7)
- unique-entity stats     ReportViewer.tsx:235-248 (A8)

Top-K is ``orderBy().limit(k)`` — Catalyst plans TakeOrderedAndProject
(true top-K, no full sort; SURVEY.md §4).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.text import local_name


def severity_rank(col: Column) -> Column:
    """Violation < Warning < Info — reference ValidationResults.tsx:189-193."""
    return (
        F.when(col == "Violation", 0).when(col == "Warning", 1).otherwise(2)
    )


def severity_summary(results: DataFrame) -> DataFrame:
    """A2: counts per severity.  At most one row per severity, so the sort
    runs in one partition: no range-partitioning sample job, no shuffle.
    The aggregation before it still shuffles (two jobs on a report with
    results): ``validate_report``'s pin of the results carries no
    partitioning, because a ``localCheckpoint`` of an adaptive plan reports
    ``UnknownPartitioning``, even when the rows sit in one partition."""
    return (
        results.groupBy(F.col("resultSeverity").alias("severity"))
        .agg(F.count("*").alias("n"))
        .coalesce(1)
        .orderBy(severity_rank(F.col("severity")))
    )


def grouped_findings(results: DataFrame, limit: int | None = None) -> DataFrame:
    """A3+W1: group by (severity, sourceShape, component, message fingerprint),
    count occurrences, sort by severity rank then count desc.

    Fingerprint = '||'-joined 'lang::text' message parts —
    reference ValidationResults.tsx:156-161.
    """
    fingerprint = F.concat_ws(
        "||",
        F.transform(
            F.coalesce(F.col("message"), F.array()),
            lambda m: F.concat_ws("::", F.coalesce(m["lang"], F.lit("und")), m["text"]),
        ),
    )
    out = (
        results.groupBy(
            F.col("resultSeverity").alias("severity"),
            F.col("sourceShape"),
            F.col("sourceConstraintComponent").alias("component"),
            fingerprint.alias("fingerprint"),
        )
        .agg(F.count("*").alias("total"))
        .orderBy(
            severity_rank(F.col("severity")),
            F.desc("total"),
            "sourceShape",
            "component",
            "fingerprint",
        )
    )
    return out.limit(limit) if limit else out


def shape_breakdown(results: DataFrame, k: int = 6) -> DataFrame:
    """A4: per sourceShape severity counts, top-K by total (K=6 in the
    reference dashboard)."""
    return (
        results.groupBy("sourceShape")
        .agg(
            F.count("*").alias("total"),
            F.count(F.when(F.col("resultSeverity") == "Violation", 1)).alias("violations"),
            F.count(F.when(F.col("resultSeverity") == "Warning", 1)).alias("warnings"),
            F.count(F.when(F.col("resultSeverity") == "Info", 1)).alias("infos"),
        )
        .orderBy(F.desc("total"), "sourceShape")
        .limit(k)
    )


def path_breakdown(results: DataFrame, k: int = 8) -> DataFrame:
    """A5: same keyed by resultPath (K=8)."""
    return (
        results.filter(F.col("resultPath").isNotNull())
        .groupBy("resultPath")
        .agg(
            F.count("*").alias("total"),
            F.count(F.when(F.col("resultSeverity") == "Violation", 1)).alias("violations"),
        )
        .orderBy(F.desc("total"), "resultPath")
        .limit(k)
    )


FOCUS_KINDS = r"(dataset|distribution|catalog|dataservice|agent|organization|contactpoint|periodOfTime)"


def focus_class_breakdown(results: DataFrame) -> DataFrame:
    """A6: regex-classify focusNode URL into an entity kind, count by severity
    — reference ReportViewer.tsx:193-216."""
    kind = F.initcap(F.regexp_extract(F.lower(F.col("focusNode")), FOCUS_KINDS, 1))
    return (
        results.filter(F.col("focusNode").isNotNull())
        .select(F.when(kind == "", "Other").otherwise(kind).alias("kind"), "resultSeverity")
        .groupBy("kind")
        .agg(
            F.count("*").alias("total"),
            F.count(F.when(F.col("resultSeverity") == "Violation", 1)).alias("violations"),
        )
        .orderBy(F.desc("total"), "kind")
    )


def component_breakdown(results: DataFrame, k: int = 8) -> DataFrame:
    """A7: count per constraint-component local name, top-K (K=8)."""
    return (
        results.filter(F.col("sourceConstraintComponent").isNotNull())
        .groupBy(local_name(F.col("sourceConstraintComponent")).alias("component"))
        .agg(F.count("*").alias("n"))
        .orderBy(F.desc("n"), "component")
        .limit(k)
    )


def unique_entity_stats(results: DataFrame) -> DataFrame:
    """A8: distinct focusNodes / shapes / paths over all results."""
    return results.agg(
        F.countDistinct("focusNode").alias("unique_focus_nodes"),
        F.countDistinct("sourceShape").alias("unique_shapes"),
        F.countDistinct("resultPath").alias("unique_paths"),
    )


def conforms_flag(results: DataFrame) -> DataFrame:
    """A10: conforms = no Violation-severity results."""
    return results.agg(
        (F.count(F.when(F.col("resultSeverity") == "Violation", 1)) == 0).alias("conforms")
    )
