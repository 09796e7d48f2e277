"""Remote RDF fetch source (S2.1 S5 — reference RDFService.ts:105-122).

The reference validates catalogs straight off a URL: ``fetchRDFContent``
GETs the document with an RDF ``Accept`` header and sniffs the format from
the ``Content-Type`` / extension / content (ValidatorInput.tsx:228-241).
Here the same surface exists driver-side for catalog-sized documents —
fetch, sniff, parse to the TRIPLE_SCHEMA relation — while bulk ingestion
stays on the distributed paths (the pages table for HTML, ``ntriples.py``
for dump files).

No network leaves this sandbox in tests: ``file://`` URLs exercise the
full path, and the opener is injectable so callers can wire retries,
auth, or a recording stub.  HTTP(S) support is plain stdlib ``urllib`` —
public API only.
"""

from __future__ import annotations

import urllib.request
from typing import Callable

from pyspark.sql import DataFrame, SparkSession

from .rdf_io import (
    detect_format,
    triples_from_jsonld,
    triples_from_rdfxml,
    triples_from_turtle,
)

# the reference's Accept header, RDFService.ts:108-111
ACCEPT_RDF = (
    "text/turtle, application/rdf+xml;q=0.9, application/ld+json;q=0.8, "
    "text/plain;q=0.5"
)

Opener = Callable[[urllib.request.Request], "urllib.request.addinfourl"]


def fetch_document(
    url: str,
    opener: Opener | None = None,
    timeout: float = 30.0,
    max_bytes: int = 256 * 1024 * 1024,
) -> tuple[str, str | None]:
    """GET ``url`` → (text, content_type).

    ``max_bytes`` bounds driver memory — this path is for catalog-sized
    documents (the reference runs in a browser tab; same posture).  A
    document over the cap raises rather than truncating silently."""
    req = urllib.request.Request(url, headers={"Accept": ACCEPT_RDF})
    if opener is None:
        opener = lambda r: urllib.request.urlopen(r, timeout=timeout)  # noqa: E731
    with opener(req) as resp:
        raw = resp.read(max_bytes + 1)
        if len(raw) > max_bytes:
            raise ValueError(f"document at {url} exceeds max_bytes={max_bytes}")
        ctype = resp.headers.get("Content-Type") if resp.headers else None
    # honor the response charset (e.g. 'text/turtle; charset=iso-8859-1')
    # like the reference's browser fetch does; default UTF-8 per RDF specs
    charset = "utf-8"
    if ctype and "charset=" in ctype.lower():
        charset = ctype.lower().split("charset=", 1)[1].split(";")[0].strip() or "utf-8"
    return raw.decode(charset), ctype


def triples_from_url(
    spark: SparkSession,
    url: str,
    opener: Opener | None = None,
    fmt: str | None = None,
) -> DataFrame:
    """Fetch + sniff + parse: the reference's URL-input workflow
    (ValidatorInput.tsx:228-241 → RDFService.ts:42-69) as one call.

    ``graph`` is stamped with the source url, matching the pipeline's
    provenance convention.  N-Triples content routes through the
    distributed reader's grammar via the Turtle parser (N-Triples is a
    Turtle subset); genuinely large dumps should be downloaded to storage
    and read with ``read_ntriples`` instead."""
    text, ctype = fetch_document(url, opener=opener)
    fmt = fmt or detect_format(text, url=url, content_type=ctype)
    if fmt == "application/ld+json":
        return triples_from_jsonld(spark, text, graph=url)
    if fmt == "application/rdf+xml":
        return triples_from_rdfxml(spark, text, graph=url)
    if fmt in ("application/n-triples", "application/n-quads"):
        # reuse the ONE N-Triples grammar (ntriples.py) — spill the fetched
        # text to scratch and read it distributed; parsed rows carry the
        # source url on triple-lines, quad labels win (N-Quads semantics)
        import atexit
        import os as _os
        import shutil as _shutil
        import tempfile as _tf

        from .ntriples import read_ntriples

        # the scratch file must outlive the returned (lazy) DataFrame —
        # cleaned at interpreter exit, not per call
        d = _tf.mkdtemp(prefix="kg_fetch_")
        atexit.register(_shutil.rmtree, d, ignore_errors=True)
        p = _os.path.join(d, "doc.nt")
        with open(p, "w", encoding="utf-8") as fh:
            fh.write(text)
        return read_ntriples(spark, p, graph=url)
    # text/turtle (catalog-sized only)
    return triples_from_turtle(spark, text, graph=url)
