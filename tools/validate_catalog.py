"""CLI mirror of the reference's click-to-report workflow (SURVEY.md §3.1):
load an RDF catalog, validate against a named profile (full vendored
suite + its SPARQL rules), print the severity summary and top findings,
optionally export the sh:ValidationReport as Turtle/CSV.

Usage:
  PYTHONPATH=. python tools/validate_catalog.py CATALOG.ttl \
      [--profile dcat_ap_es] [--out-dir DIR] [--lang es]

With no file argument the profile's vendored sample catalog is validated
(the reference's sampleUrl flow, mqa-config.json:50,76,106,126).
"""

from __future__ import annotations

import argparse
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from shacl_validator_spark.operators import analytics as ana  # noqa: E402
from shacl_validator_spark.operators.validate import validate_report  # noqa: E402
from shacl_validator_spark.session import get_spark  # noqa: E402
from shacl_validator_spark.shapes.compiler import compile_shape_files  # noqa: E402
from shacl_validator_spark.shapes.profiles import PROFILES  # noqa: E402
from shacl_validator_spark.shapes.suites import (  # noqa: E402
    PROFILE_RULES,
    SAMPLE_CATALOGS,
    SUITE_FILES,
    suite_ttls,
)
from shacl_validator_spark.sources.rdf_io import (  # noqa: E402
    detect_format,
    triples_from_jsonld,
    triples_from_rdfxml,
    triples_from_turtle,
)
from shacl_validator_spark.sources.report_io import (  # noqa: E402
    report_to_turtle,
    write_report_csv_file,
)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("catalog", nargs="?", help="RDF file (Turtle/RDF-XML/JSON-LD)")
    ap.add_argument("--profile", default="dcat_ap_es", choices=sorted(PROFILES))
    ap.add_argument("--out-dir", default=None, help="write report.ttl + report.csv here")
    ap.add_argument("--lang", default="en", help="preferred message language")
    ap.add_argument("--top", type=int, default=8)
    args = ap.parse_args()

    if args.catalog:
        with open(args.catalog, encoding="utf-8") as f:
            content = f.read()
        fmt = detect_format(content, url=args.catalog)
    else:
        content = SAMPLE_CATALOGS.get(args.profile)
        if content is None:
            print(f"profile {args.profile} has no vendored sample catalog")
            return 2
        fmt = "text/turtle"
        print(f"(no file given — validating the vendored {args.profile} sample catalog)")

    spark = get_spark(app_name="validate_catalog")
    graph = args.catalog or "sample"
    if fmt == "application/rdf+xml":
        triples = triples_from_rdfxml(spark, content, graph=graph)
    elif fmt == "application/ld+json":
        triples = triples_from_jsonld(spark, content, graph=graph)
    else:
        triples = triples_from_turtle(spark, content, graph=graph)
    # the profile's suite and its sh:sparql rules compile as one union, so
    # constraint ids stay unique across both
    ttls = suite_ttls(args.profile) if args.profile in SUITE_FILES else [PROFILES[args.profile]]
    rows = compile_shape_files(ttls + PROFILE_RULES.get(args.profile, []))
    rep = validate_report(spark, triples, rows)

    print(f"\nprofile: {args.profile}   format: {fmt}")
    print(f"conforms: {rep.conforms}")
    summary = {r["severity"]: r["n"] for r in ana.severity_summary(rep.results).collect()}
    for sev in ("Violation", "Warning", "Info"):
        print(f"  {sev:<9} {summary.get(sev, 0)}")

    # severity-ranked then count-desc, exactly the reference UI's ordering
    top = ana.grouped_findings(rep.results, limit=args.top).collect()
    if top:
        print(f"\ntop findings (of {len(top)} groups shown):")
        for g in top:
            comp = g["component"].rsplit("#", 1)[-1] if g["component"] else "?"
            print(f"  [{g['severity']:<9}] {comp:<28} x{g['total']}  shape={g['sourceShape']}")

    if args.out_dir:
        os.makedirs(args.out_dir, exist_ok=True)
        ttl = report_to_turtle(rep.results, rep.conforms, profile=args.profile)
        ttl_path = os.path.join(args.out_dir, "report.ttl")
        with open(ttl_path, "w", encoding="utf-8") as f:
            f.write(ttl)
        # a single downloadable CSV FILE (like the reference's export), not
        # a Spark part-file directory — the report is driver-sized
        csv_path = os.path.join(args.out_dir, "report.csv")
        write_report_csv_file(rep.results, csv_path, preferred_lang=args.lang)
        print(f"\nwrote {ttl_path} and {csv_path}")

    return 0 if rep.conforms else 1


if __name__ == "__main__":
    raise SystemExit(main())
