"""Scalar function tests: compaction, local names, language tags,
severity mapping, markdown preprocessing, file-size formatting."""

from __future__ import annotations

from pyspark.sql import functions as F

from shacl_validator_spark.functions.text import (
    compact_iri,
    local_name,
    normalize_lang,
    severity_from_iri,
)


def _one(spark, col, value):
    return spark.createDataFrame([(value,)], "v string").select(col(F.col("v")).alias("r")).collect()[0].r


def test_compact_iri(spark):
    assert _one(spark, compact_iri, "http://www.w3.org/ns/dcat#Dataset") == "dcat:Dataset"
    assert _one(spark, compact_iri, "http://purl.org/dc/terms/title") == "dct:title"
    assert _one(spark, compact_iri, "http://unknown.org/ns#Thing") == "Thing"
    assert _one(spark, compact_iri, "http://unknown.org/ns/path/Leaf") == "Leaf"


def test_local_name(spark):
    assert _one(spark, local_name, "http://x.org/a#b") == "b"
    assert _one(spark, local_name, "http://x.org/a/b/c") == "c"


def test_normalize_lang(spark):
    assert _one(spark, normalize_lang, "ES-es") == "es"
    assert _one(spark, normalize_lang, "en") == "en"


def test_severity_from_iri(spark):
    assert _one(spark, severity_from_iri, "http://www.w3.org/ns/shacl#Warning") == "Warning"
    assert _one(spark, severity_from_iri, "http://www.w3.org/ns/shacl#Info") == "Info"
    assert _one(spark, severity_from_iri, "http://www.w3.org/ns/shacl#Violation") == "Violation"
    assert _one(spark, severity_from_iri, "anything-else") == "Violation"


def test_preprocess_markdown_reference_behavior(spark):
    """F9 — ValidationResults.tsx:131-149: tables untouched, pipe-less
    untouched, pipes → bullets + URL links (angle brackets dropped)."""
    from pyspark.sql import functions as F

    from shacl_validator_spark.functions.text import preprocess_markdown

    table = "| a | b |\n|---|---|\n| 1 | 2 |"
    plain = "no separators here https://x.org/p"
    piped = "Fix the title | see <https://example.org/doc> | then revalidate"
    df = spark.createDataFrame(
        [(1, table), (2, plain), (3, piped)], ["i", "t"]
    ).select("i", preprocess_markdown(F.col("t")).alias("p"))
    got = {r["i"]: r["p"] for r in df.collect()}
    assert got[1] == table
    assert got[2] == plain
    assert got[3] == (
        "Fix the title\n- see [https://example.org/doc](https://example.org/doc)\n- then revalidate"
    )


def test_file_size_and_time_estimate(spark):
    """F14 — ValidatorInput.tsx:192-202 formatting + 0.4 min/MB estimate."""
    from pyspark.sql import functions as F

    from shacl_validator_spark.functions.text import (
        estimate_validation_minutes,
        format_file_size,
    )

    cases = [
        (512, "512 B", 1),
        (1023, "1023 B", 1),
        (1280, "1.3 KB", 1),  # 1.25 KB rounds half away from zero, JS toFixed
        (10 * 1024, "10.0 KB", 1),
        (1024 * 1024, "1.0 MB", 1),
        (int(2.5 * 1024 * 1024), "2.5 MB", 1),
        (10 * 1024 * 1024, "10.0 MB", 4),  # ceil(10 MB * 0.4) = 4 min
    ]
    df = spark.createDataFrame([(b,) for b, _, _ in cases], ["n"]).select(
        "n",
        format_file_size(F.col("n")).alias("s"),
        estimate_validation_minutes(F.col("n")).alias("m"),
    )
    got = {r["n"]: (r["s"], r["m"]) for r in df.collect()}
    for b, s, m in cases:
        assert got[b] == (s, m), b
