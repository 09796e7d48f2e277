"""Correctness checks of each workload's outputs, and their self-test.

Every check is a pure function over outputs already collected into
Python, returning a list of failure messages (empty when the output is
correct).  An operation with any failure counts as failed.

``python3 kgbench/checks.py`` runs the self-test alone: every check is fed
one correct and one deliberately corrupted output per workload, and the
corrupted one must be counted as a failed operation.  ``run.py`` runs the
same self-test in every run and reports ``correct: false`` if a check cannot
fail.
"""

from __future__ import annotations

import sys
from collections import Counter

SH = "http://www.w3.org/ns/shacl#"
RDF_TYPE = "http://www.w3.org/1999/02/22-rdf-syntax-ns#type"


def check_kg_rep(
    counts: dict[str, int],
    predicted: dict[str, int],
    merged_rel: set | None,
    expected_rel: set | None,
    table_hash: tuple,
    first_hash: tuple | None,
) -> list[str]:
    """kg_pipeline: the engineered violations and rejections are exactly the
    generator's prediction; the merged relation triples are exactly
    ``expected_triples`` plus the dirty pages' links; every repetition
    merges a byte-identical table."""
    fails = []
    if counts["violations"] != predicted["violations"]:
        fails.append(
            f"violations {counts['violations']} != predicted {predicted['violations']}"
        )
    rejected = counts["triples_in"] - counts["triples_valid"]
    if rejected != predicted["rejected"]:
        fails.append(f"rejected triples {rejected} != predicted {predicted['rejected']}")
    if merged_rel is not None and merged_rel != expected_rel:
        missing = len(expected_rel - merged_rel)
        extra = len(merged_rel - expected_rel)
        fails.append(f"merged relation triples differ: {missing} missing, {extra} extra")
    if first_hash is not None and table_hash != first_hash:
        fails.append(f"merged table hash {table_hash} != first repetition {first_hash}")
    return fails


def report_results(report_ttl: str) -> list[dict[str, str]]:
    """The sh:ValidationResult nodes of a Turtle validation report."""
    from shacl_validator_spark.shapes.compiler import parse_turtle

    g = parse_turtle(report_ttl)
    by_subject: dict[str, dict[str, str]] = {}
    for s, p, o in g.triples:
        by_subject.setdefault(s, {})[p] = o.value
    return [
        props for props in by_subject.values()
        if props.get(RDF_TYPE) == SH + "ValidationResult"
    ]


def check_catalog_request(
    expected: Counter,
    expected_focus: set,
    conforms: bool,
    severity_counts: dict[str, int],
    report_ttl: str,
) -> list[str]:
    """catalog_reports: the report holds exactly the engineered results,
    per (component, severity, path), on the engineered focus nodes; the
    severity summary and the conforms flag agree with them."""
    fails = []
    results = report_results(report_ttl)
    got = Counter(
        (
            r.get(SH + "sourceConstraintComponent"),
            r.get(SH + "resultSeverity", "").removeprefix(SH),
            r.get(SH + "resultPath"),
        )
        for r in results
    )
    if got != expected:
        fails.append(f"report results {dict(got)} != engineered {dict(expected)}")
    focus = {r.get(SH + "focusNode") for r in results
             if r.get(SH + "resultSeverity") == SH + "Violation"}
    if focus != expected_focus:
        fails.append(f"violating focus nodes {sorted(focus)} != {sorted(expected_focus)}")
    want_sev = Counter()
    for (_, sev, _), n in expected.items():
        want_sev[sev] += n
    if Counter(severity_counts) != want_sev:
        fails.append(f"severity summary {severity_counts} != {dict(want_sev)}")
    if conforms != (want_sev["Violation"] == 0):
        fails.append(f"conforms {conforms} with {want_sev['Violation']} violations")
    return fails


def self_test() -> dict[str, bool]:
    """Feed each check a correct and a corrupted output; True per workload
    when the correct one passes and the corrupted one fails."""
    out = {}
    predicted = {"violations": 7, "rejected": 35}
    counts = {"violations": 7, "triples_in": 100, "triples_valid": 65}
    rel = {("org:acme", "kg#locatedIn", "place:madrid")}
    good = check_kg_rep(counts, predicted, rel, set(rel), ("h", 1), ("h", 1))
    corrupt = check_kg_rep(
        dict(counts, triples_valid=66), predicted, rel, set(rel), ("h", 1), ("h", 1)
    )
    out["kg_pipeline"] = not good and bool(corrupt)

    comp = SH + "MinCountConstraintComponent"
    path = "http://purl.org/dc/terms/description"
    ttl = (
        "@prefix sh: <http://www.w3.org/ns/shacl#> .\n"
        "[] a sh:ValidationReport ; sh:conforms false ; sh:result _:r0 .\n"
        "_:r0 a sh:ValidationResult ; sh:resultSeverity sh:Violation ;\n"
        f"    sh:focusNode <https://ex.org/ds0> ; sh:resultPath <{path}> ;\n"
        f"    sh:sourceConstraintComponent <{comp}> .\n"
    )
    expected = Counter({(comp, "Violation", path): 1})
    focus = {"https://ex.org/ds0"}
    good = check_catalog_request(expected, focus, False, {"Violation": 1}, ttl)
    corrupt = check_catalog_request(
        expected, focus, False, {"Violation": 1}, ttl.replace("sh:Violation", "sh:Warning")
    )
    out["catalog_reports"] = not good and bool(corrupt)
    return out


if __name__ == "__main__":
    import os

    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    res = self_test()
    for name, ok in res.items():
        print(f"self-test {name}: corrupted output counted as failed = {ok}")
    sys.exit(0 if all(res.values()) else 1)
