"""catalog_reports workload: the click-to-report interaction, closed loop.

One client sends small catalog requests in Turtle, each after the previous
reply: ``triples_from_turtle`` → ``validate_report(compiled_profile(p))`` →
``report_to_turtle`` + ``severity_summary``.  Every request uses the
DCAT-AP-ES profile, so request latencies are comparable with each other:
every fourth request is the vendored ``SAMPLE_CATALOGS["dcat_ap_es"]``
(conforms), the others are seeded three-dataset variants with engineered
gaps whose report the generator predicts exactly.  Each variant carries one
gap of every kind, on seeded datasets, so every request does the same
amount of validation work:

- ``desc``: no ``dct:description`` → MinCount, Violation, on the dataset;
- ``lang``: a second ``@es`` title → UniqueLang, Violation, on the dataset;
- ``theme``: a theme outside the vocabulary → In, Warning, on the dataset.
"""

from __future__ import annotations

import random
import time
from collections import Counter

from checks import SH, check_catalog_request

PROFILE = "dcat_ap_es"
N_DATASETS = 3
BASE = "https://datos.gob.es/catalogo/"
ORG = "http://datos.gob.es/recurso/sector-publico/org/Organismo/E05068001"
DCT, DCAT = "http://purl.org/dc/terms/", "http://www.w3.org/ns/dcat#"
GAPS = {
    "desc": (SH + "MinCountConstraintComponent", "Violation", DCT + "description"),
    "lang": (SH + "UniqueLangConstraintComponent", "Violation", DCT + "title"),
    "theme": (SH + "InConstraintComponent", "Warning", DCAT + "theme"),
}


def variant(rng: random.Random, tag: str) -> tuple[str, Counter, set]:
    """A DCAT-AP-ES catalog of ``N_DATASETS`` datasets with one gap of each
    kind on seeded datasets, with the report it must produce: (turtle,
    counts, violating focus)."""
    from shacl_validator_spark.shapes.suites import _SAMPLE_PREFIXES

    expected: Counter = Counter()
    focus: set = set()
    ds = [f"{BASE}{tag}/ds{i}" for i in range(N_DATASETS)]
    out = [
        _SAMPLE_PREFIXES,
        f"<{BASE}{tag}> a dcat:Catalog ;\n"
        f'    dct:title "Catalogo {tag}"@es ;\n'
        f'    dct:description "Catalogo de prueba {tag}"@es ;\n'
        f"    dct:publisher <{ORG}> ;\n"
        "    dct:language <http://publications.europa.eu/resource/authority/language/SPA> ;\n"
        "    foaf:homepage <https://datos.gob.es> ;\n"
        '    dct:issued "2024-01-01"^^xsd:date ;\n'
        + "".join(f"    dcat:dataset <{d}> ;\n" for d in ds).rstrip(" ;\n")
        + " .",
        f'<{ORG}> a foaf:Agent ; foaf:name "Ministerio"@es .',
    ]
    gap_at = {g: rng.randrange(N_DATASETS) for g in GAPS}
    for i, d in enumerate(ds):
        gaps = [g for g in GAPS if gap_at[g] == i]
        for g in gaps:
            expected[GAPS[g]] += 1
            if GAPS[g][1] == "Violation":
                focus.add(d)
        props = [f'dct:title "Conjunto {tag} {i}"@es', f'dct:title "Dataset {tag} {i}"@en']
        if "lang" in gaps:
            props.append(f'dct:title "Otro titulo {tag} {i}"@es')
        if "desc" not in gaps:
            props.append(f'dct:description "Descripcion {tag} {i}"@es')
        theme = (
            "http://example.org/theme/UNLISTED"
            if "theme" in gaps
            else "http://publications.europa.eu/resource/authority/data-theme/ENVI"
        )
        props += [
            f"dcat:theme <{theme}>",
            f"dct:publisher <{ORG}>",
            f"dcat:distribution <{d}/csv>",
            'dct:issued "2024-02-01"^^xsd:date',
        ]
        out.append(f"<{d}> a dcat:Dataset ;\n    " + " ;\n    ".join(props) + " .")
        out.append(
            f"<{d}/csv> a dcat:Distribution ; dcat:accessURL <{d}/data.csv> ;"
            ' dct:format "text/csv" ;'
            ' dcat:byteSize "2048"^^xsd:nonNegativeInteger ;'
            " dct:license <https://creativecommons.org/licenses/by/4.0/> ."
        )
    return "\n".join(out) + "\n", expected, focus


def requests(seed: int, n: int) -> list[tuple[str, Counter, set]]:
    """The seeded request sequence."""
    from shacl_validator_spark.shapes.suites import SAMPLE_CATALOGS

    rng = random.Random(seed)
    out = []
    for i in range(n):
        if i % 4 == 3:
            out.append((SAMPLE_CATALOGS[PROFILE], Counter(), set()))
        else:
            out.append(variant(rng, f"s{seed}r{i}"))
    return out


class CatalogReports:
    max_requests = 512

    def __init__(self, spark, work: str, seed: int) -> None:
        self.spark, self.seed = spark, seed
        self.requests: list = []
        self.setup_detail: dict[str, float] = {}

    def setup(self, k: int) -> None:
        """Generate the request sequence and compile every profile."""
        from shacl_validator_spark.shapes.compiler import compile_shape_files
        from shacl_validator_spark.shapes.profiles import compiled_profile
        from shacl_validator_spark.shapes.suites import suite_ttls

        self.requests = requests(self.seed, self.max_requests)
        t0 = time.perf_counter()
        rows = compile_shape_files(suite_ttls(PROFILE))
        self.setup_detail["compile.s"] = time.perf_counter() - t0
        self.setup_detail["compile.constraints"] = len(rows)
        compiled_profile(PROFILE)

    def predict(self) -> None:
        pass

    def op(self, i: int, tracer=None) -> tuple[float, list[str], dict]:
        import importlib

        from shacl_validator_spark.operators.analytics import severity_summary
        from shacl_validator_spark.shapes.compiler import parse_turtle
        from shacl_validator_spark.shapes.profiles import compiled_profile
        from shacl_validator_spark.sources.rdf_io import triples_from_turtle
        from shacl_validator_spark.sources.report_io import report_to_turtle

        # the package re-exports validate() under the module's own name
        vmod = importlib.import_module("shacl_validator_spark.operators.validate")
        ttl, expected, focus = self.requests[i % len(self.requests)]
        layers: dict[str, float] = {}
        # the measured path is the bare calls: nothing wrapped, no spans
        if tracer is None:
            t0 = time.perf_counter()
            triples = triples_from_turtle(self.spark, ttl)
            rep = vmod.validate_report(self.spark, triples, compiled_profile(PROFILE))
            report = report_to_turtle(rep.results, rep.conforms, profile=PROFILE)
            summary = severity_summary(rep.results).collect()
            wall = time.perf_counter() - t0
        else:
            inner = vmod.validate
            call_s = []

            def timed_validate(*a, **kw):
                t = time.perf_counter()
                try:
                    return inner(*a, **kw)
                finally:
                    call_s.append(time.perf_counter() - t)

            t0 = time.perf_counter()
            with tracer.span("request", "request", op=i):
                with tracer.span("triples_from_turtle", "ingest") as s_in:
                    triples = triples_from_turtle(self.spark, ttl)
                with tracer.span("validate_report", "validate") as s_val:
                    vmod.validate = timed_validate
                    try:
                        rep = vmod.validate_report(
                            self.spark, triples, compiled_profile(PROFILE)
                        )
                    finally:
                        vmod.validate = inner
                with tracer.span("report", "report") as s_rep:
                    report = report_to_turtle(rep.results, rep.conforms, profile=PROFILE)
                    summary = severity_summary(rep.results).collect()
            wall = time.perf_counter() - t0
            layers = {
                "ingest.s": s_in["end"] - s_in["start"],
                "validate.s": s_val["end"] - s_val["start"],
                "validate.call_s": sum(call_s),
                "report.s": s_rep["end"] - s_rep["start"],
            }
        fails = check_catalog_request(
            expected, focus, rep.conforms, {r[0]: r[1] for r in summary}, report
        )
        parsed = parse_turtle(ttl).triples
        n_triples = len({(s, p, o.value, o.datatype, o.lang) for s, p, o in parsed})
        bad = {s for s, _, _ in parsed if s in focus}
        valid = len({(s, p, o.value, o.datatype, o.lang) for s, p, o in parsed
                     if s not in bad})
        extra = {
            "valid_triples": valid,
            "triples_in": n_triples,
            "bytes_in": len(ttl.encode()),
            "results": sum(expected.values()),
            "layers": layers,
        }
        return wall, fails, extra

    def layer_metrics(self, extra: dict, observed: dict) -> dict[str, float]:
        lay = extra["layers"]
        return {
            "ingest.s": lay["ingest.s"],
            "ingest.triples": extra["triples_in"],
            "ingest.bytes_in": extra["bytes_in"],
            "validate.s": lay["validate.s"],
            "validate.call_s": lay["validate.call_s"],
            "validate.results": extra["results"],
            "report.s": lay["report.s"],
            "report.rows": extra["results"],
        }
