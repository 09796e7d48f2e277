"""RDF ingestion helpers (driver-side fixtures path).

The reference parses whole catalogs in the browser
(src/services/RDFService.ts:42-69).  In the rebuilt pipeline the hot path
never parses RDF text — triples are *emitted* by the extraction UDFs — so
Turtle parsing is only needed for shape files, test fixtures and the
click-to-report path (``validate_turtle``, ``tools/validate_catalog.py``),
all driver-side and small (SURVEY.md §2.1 S1-S3).

Every loader here ends in ``_triples_relation``: the parsed rows become one
Arrow-built ``LocalRelation`` pinned with ``localCheckpoint``, so the ~300
scans ``validate()`` makes of its input read pinned blocks — no Python
worker and no dedup shuffle (see ``local_df``'s docstring for the numbers).

The pin holds ONE partition (``coalesce(1)`` before the checkpoint).  Its
``SinglePartition`` satisfies every distribution ``validate()``'s dedups,
aggregates and joins require, so a catalog request plans no shuffle
exchange: a non-conforming DCAT-AP-ES request runs broadcast stages only.
The default layout is one partition per core for a small relation and,
once ``createDataFrame`` ships the Arrow table in batches, one per
2,048-row batch.  Warm ``validate_report`` + ``count()`` + severity summary
on DCAT-AP-ES catalogs, ``local[4]`` on a 4-core VM, median of 3–4 reps,
one partition vs the default layout (its partition count in brackets):

=========  ==========  ============
triples    1 partition default
=========  ==========  ============
982        0.69 s      0.82 s  (4)
47,042     0.91 s      0.90 s  (4)
235,202    2.96 s      2.93 s  (4)
470,402    3.65 s      4.68 s  (230)
960,402    7.51 s      7.26 s  (469); a second run 7.02 s vs 7.95 s
1,920,802  11.40 s     15.24 s (938)
=========  ==========  ============

Below ~50k triples fixed cost per stage dominates and one partition wins;
up to ~1M the two tie within noise; above, the per-batch layout's task
count costs more than the lost parallelism.  One partition never lost
beyond noise up to 1.9M triples (126 MB of Turtle; ``read_turtle`` parses
files below 16 MB outright on the driver, ``fetch`` caps a document at
256 MB), so there is no size bound.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..local_df import local_df
from ..model import TRIPLE_SCHEMA
from .turtle import _rows_from_text


def _triples_relation(
    spark: SparkSession, rows: list[tuple], distinct: bool = True
) -> DataFrame:
    """TRIPLE_SCHEMA row tuples → one pinned JVM relation, one partition.

    ``distinct`` dedups on the driver (``dict.fromkeys`` keeps first
    occurrences in order — the same row set ``dropDuplicates`` yields,
    without its shuffle); ``distinct=False`` keeps bag semantics."""
    if distinct:
        rows = list(dict.fromkeys(rows))
    return local_df(spark, rows, TRIPLE_SCHEMA).coalesce(1).localCheckpoint(eager=True)


def triples_from_turtle(
    spark: SparkSession, ttl: str, graph: str | None = None, distinct: bool = True
) -> DataFrame:
    """Parse fixture Turtle into a triples DataFrame (set semantics by
    default — the reference's ``dataset.add`` collapses duplicate quads,
    SHACLValidationService.ts:133,174-176; ``distinct=False`` preserves
    duplicate statements so read_turtle's driver fallback matches the
    distributed paths' bag semantics)."""
    return _triples_relation(spark, list(_rows_from_text(ttl, "_:b", graph)), distinct)


def triples_from_rdfxml(
    spark: SparkSession, xml_text: str, graph: str | None = None
) -> DataFrame:
    """Minimal RDF/XML subset loader (S2 — reference RDFService.ts:60-69);
    set semantics, like ``triples_from_turtle``."""
    return _triples_relation(spark, rdfxml_rows(xml_text, graph))


def rdfxml_rows(xml_text: str, graph: str | None = None) -> list[tuple]:
    """RDF/XML → TRIPLE_SCHEMA row tuples (pure Python).

    Supports the fixture-level subset: ``rdf:Description``/typed-node
    elements with ``rdf:about``/``rdf:nodeID``, property child elements with
    ``rdf:resource``, ``rdf:datatype``, ``xml:lang``, or text content.
    Driver-side only — never on the hot path.
    """
    import xml.etree.ElementTree as ET

    RDF_NS = "http://www.w3.org/1999/02/22-rdf-syntax-ns#"
    root = ET.fromstring(xml_text)
    rows: list[tuple] = []
    bnode_n = 0

    def expand(tag: str) -> str:
        # ElementTree gives '{ns}local'
        if tag.startswith("{"):
            ns, local = tag[1:].split("}", 1)
            return ns + local
        return tag

    def node_id(el) -> str:
        nonlocal bnode_n
        about = el.get(f"{{{RDF_NS}}}about")
        if about is not None:
            return about
        nid = el.get(f"{{{RDF_NS}}}nodeID")
        if nid is not None:
            return "_:" + nid
        bnode_n += 1
        return f"_:bx{bnode_n}"

    def walk(el) -> str:
        subj = node_id(el)
        tag = expand(el.tag)
        if tag != RDF_NS + "Description":
            rows.append((subj, RDF_NS + "type", tag, "iri", None, None, graph))
        for prop in el:
            pred = expand(prop.tag)
            res = prop.get(f"{{{RDF_NS}}}resource")
            if res is not None:
                rows.append((subj, pred, res, "iri", None, None, graph))
                continue
            nested = list(prop)
            if nested:
                child_id = walk(nested[0])
                kind = "bnode" if child_id.startswith("_:") else "iri"
                rows.append((subj, pred, child_id, kind, None, None, graph))
                continue
            dt = prop.get(f"{{{RDF_NS}}}datatype")
            lang = prop.get("{http://www.w3.org/XML/1998/namespace}lang")
            rows.append(
                (
                    subj,
                    pred,
                    prop.text or "",
                    "literal",
                    dt or ("http://www.w3.org/2001/XMLSchema#string" if not lang else None),
                    lang.lower() if lang else None,
                    graph,
                )
            )
        return subj

    for el in root:
        walk(el)
    return rows


def jsonld_rows(
    doc,
    graph: str | None = None,
    bnode_prefix: str | None = None,
    label_prefix: str | None = None,
) -> list[tuple]:
    """Expanded-form JSON-LD → TRIPLE_SCHEMA row tuples (pure Python — the
    shared kernel of the driver loader below and the distributed source in
    sources/jsonld.py).  Accepts a dict or list of node objects with
    ``@id``, ``@type`` and property arrays of ``{'@id'}`` / ``{'@value',
    '@type'?, '@language'?}`` objects.

    ``bnode_prefix`` (e.g. ``"_:f<tag>"``) document-scopes blank nodes for
    multi-file reads: generated ids become ``<prefix>b<n>`` and labeled
    ``_:x`` ids are rewritten ``<prefix>l<x>`` (RDF 1.1 label scoping —
    the same ``b``/``l`` discriminator as the Turtle multi-file path).
    ``None`` keeps the legacy single-document behavior (``_:bj<n>`` for
    generated ids, labels verbatim).  ``label_prefix`` overrides the
    prefix for LABELED ids only — the JSON-Lines source scopes generated
    ids per line but labels per file (they must meet across lines)."""
    import json as _json

    if isinstance(doc, str):
        doc = _json.loads(doc)
    nodes = doc if isinstance(doc, list) else [doc]
    RDF_NS = "http://www.w3.org/1999/02/22-rdf-syntax-ns#"
    rows: list[tuple] = []
    bnode_n = 0

    lbl_pfx = label_prefix if label_prefix is not None else bnode_prefix

    def scoped(oid: str) -> str:
        if lbl_pfx is not None and oid.startswith("_:"):
            return f"{lbl_pfx}l{oid[2:]}"
        return oid

    def emit(subj: str, node: dict):
        nonlocal bnode_n
        for key, values in node.items():
            if key == "@id":
                continue
            if key == "@type":
                for t in values if isinstance(values, list) else [values]:
                    rows.append((subj, RDF_NS + "type", t, "iri", None, None, graph))
                continue
            vlist = values if isinstance(values, list) else [values]
            for v in vlist:
                if isinstance(v, dict) and "@id" in v:
                    oid = v["@id"]
                    kind = "bnode" if oid.startswith("_:") else "iri"
                    oid = scoped(oid)
                    rows.append((subj, key, oid, kind, None, None, graph))
                    nested = {k: x for k, x in v.items() if k != "@id"}
                    if nested:
                        emit(oid, v)
                elif isinstance(v, dict):
                    lang = v.get("@language")
                    dt = v.get("@type")
                    rows.append(
                        (
                            subj,
                            key,
                            str(v.get("@value", "")),
                            "literal",
                            dt
                            or (
                                "http://www.w3.org/2001/XMLSchema#string"
                                if not lang
                                else None
                            ),
                            lang.lower() if lang else None,
                            graph,
                        )
                    )
                else:
                    rows.append(
                        (
                            subj,
                            key,
                            str(v),
                            "literal",
                            "http://www.w3.org/2001/XMLSchema#string",
                            None,
                            graph,
                        )
                    )

    for node in nodes:
        nid = node.get("@id")
        if nid is None:
            bnode_n += 1
            nid = (
                f"{bnode_prefix}b{bnode_n}"
                if bnode_prefix is not None
                else f"_:bj{bnode_n}"
            )
        else:
            nid = scoped(nid)
        emit(nid, node)
    return rows


def triples_from_jsonld(
    spark: SparkSession, doc, graph: str | None = None
) -> DataFrame:
    """Minimal expanded-form JSON-LD loader (S3 — reference
    RDFService.ts:89-94) — the projection shape the reference itself
    produces at ValidatorInput.tsx:133-154 (F15 inverse).  Driver-side;
    for dumps see the distributed ``sources.jsonld.read_jsonld``."""
    return _triples_relation(spark, jsonld_rows(doc, graph))


# RDF serialization mime aliasing (reference RDFService.ts:26-40)
_MIME_ALIASES = {
    "turtle": "text/turtle",
    "text/turtle": "text/turtle",
    "application/rdf+xml": "application/rdf+xml",
    "rdf/xml": "application/rdf+xml",
    "rdfxml": "application/rdf+xml",
    "application/xml": "application/rdf+xml",
    "application/ld+json": "application/ld+json",
    "jsonld": "application/ld+json",
    "application/json": "application/ld+json",
    "application/n-triples": "application/n-triples",
    "application/ntriples": "application/n-triples",
    "n-triples": "application/n-triples",
}


def normalize_mime(fmt: str | None) -> str:
    """Serialization-format alias normalization (RDFService.ts:26-40):
    null → text/turtle; alias groups collapse; unknown values pass
    through."""
    if not fmt:
        return "text/turtle"
    return _MIME_ALIASES.get(fmt.lower().strip(), fmt)


def detect_format(content: str, url: str | None = None, content_type: str | None = None) -> str:
    """Format sniffing by content-type, URL extension, then content prefix —
    reference src/services/RDFService.ts:125-157 (S4).  The content-type is
    alias-normalized first (``rdf/xml``, ``jsonld``-style values resolve)."""
    ct = (content_type or "").lower()
    bare = ct.split(";", 1)[0].strip()
    if bare in _MIME_ALIASES:
        return _MIME_ALIASES[bare]
    for mime in ("text/turtle", "application/rdf+xml", "application/ld+json",
                 "application/n-triples", "application/n-quads"):
        if mime in ct:
            return mime
    ext_map = {
        ".ttl": "text/turtle",
        ".n3": "text/turtle",
        ".nt": "application/n-triples",
        ".rdf": "application/rdf+xml",
        ".xml": "application/rdf+xml",
        ".jsonld": "application/ld+json",
        ".json": "application/ld+json",
    }
    if url:
        low = url.lower().split("?")[0]
        for ext, mime in ext_map.items():
            if low.endswith(ext):
                return mime
    head = content.lstrip()[:256].lower()
    if head.startswith("<?xml") or "<rdf:rdf" in head:
        return "application/rdf+xml"
    if head.startswith("{") or head.startswith("["):
        return "application/ld+json"
    return "text/turtle"
