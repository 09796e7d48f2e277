"""URL canonicalization and host-level corpus shaping.

Common-Crawl-style pipelines dedup and downsample by URL/host before any
content-level pass (C4 keeps one page per URL; RefinedWeb and FineWeb cap
documents per registrable host so a single crawl-happy domain cannot
dominate the mix).  The primitives here are:

- :func:`normalize_url` — canonicalize a URL so crawl-time noise
  (scheme/host case, default ports, fragments, tracking parameters,
  query-parameter order, trailing slash) maps to one canonical form.
  Pure column expressions over one row — no shuffle, no UDF — and every
  step is engine-portable (the DuckDB oracle re-implements it in SQL and
  must agree byte-for-byte).
- :func:`host_of` — registrable-host extraction from a canonical URL.
- :func:`host_cap` — keep at most ``cap`` documents per host,
  deterministically (smallest id wins).  Implemented two-phase so a hot
  host never serializes through one task: phase 1 ranks within
  ``(host, salt)`` and keeps ≤ cap per salted group (a hot host's rows
  spread over ``n_salts`` tasks), phase 2 ranks the ≤ cap·n_salts
  survivors per host.  The cap-smallest-per-host set is invariant under
  the pre-thinning (phase 1 keeps a superset of every per-host top-cap),
  so the two-phase plan is output-identical to the single window the
  oracle runs — exact, not approximate.

Scale notes (100 TB): normalization is a narrow map that composes with
the scan; URL-dedup is one hash-groupBy on the canonical URL (map-side
partial aggregation applies); host_cap's phase-2 window sees at most
``cap * n_salts`` rows per host regardless of corpus skew, so the only
unbounded shuffle is phase 1's, which is salted by construction.

Reference scope note: the reference validator operates on catalog/RDF
inputs, not crawls (see SURVEY.md §2.1); these operators are part of the
training-data layer this repo adds on top, alongside
operators/dedup.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

# Tracking parameters dropped during canonicalization (name match, with or
# without a value).  Kept deliberately small and well-known; the point is
# the mechanism, tuned lists are deployment config.
_TRACKING_PARAM_RE = r"^(utm_[^=]*|fbclid|gclid)(=|$)"

_SCHEME_HOST_RE = r"^([a-zA-Z][a-zA-Z0-9+.\-]*://[^/?#]*)"


def normalize_url(url: F.Column) -> F.Column:
    """Canonical form of ``url`` (column in, column out).

    Steps, in order — each must stay portable SQL so the DuckDB oracle
    can mirror it exactly:

    1. trim surrounding whitespace;
    2. drop the fragment (everything from the first ``#``);
    3. lowercase the scheme://host[:port] head (path/query case is
       significant, host case is not — RFC 3986 §6.2.2.1);
    4. strip default ports (``http://…:80``, ``https://…:443``);
    5. drop tracking query parameters (``utm_*``, ``fbclid``, ``gclid``)
       and sort the survivors (parameter order is not significant);
    6. strip one trailing ``/`` from the path.
    """
    # fragment off first so '#' can never hide in host/query parsing
    u = F.split(F.trim(url), "#").getItem(0)
    head = F.regexp_extract(u, _SCHEME_HOST_RE, 1)
    tail = F.substring(u, F.length(head) + F.lit(1), F.lit(1 << 30))
    head = F.lower(head)
    head = F.regexp_replace(head, r"^(http://[^:/]+):80$", r"$1")
    head = F.regexp_replace(head, r"^(https://[^:/]+):443$", r"$1")
    path = F.substring_index(tail, "?", 1)
    qpos = F.locate("?", tail)
    query = F.when(qpos > 0, F.substring(tail, qpos + F.lit(1), F.lit(1 << 30))).otherwise(F.lit(""))
    params = F.filter(
        F.split(query, "&"),
        lambda p: (p != F.lit("")) & ~p.rlike(_TRACKING_PARAM_RE),
    )
    qs = F.array_join(F.array_sort(params), "&")
    path = F.regexp_replace(path, r"/$", "")
    return F.concat(
        head,
        path,
        F.when(qs == F.lit(""), F.lit("")).otherwise(F.concat(F.lit("?"), qs)),
    )


def host_of(norm_url: F.Column) -> F.Column:
    """Host of an already-normalized URL (port and userinfo excluded).

    The optional ``user[:pass]@`` authority prefix is consumed before the
    host capture — without it, ``https://alice@example.com/`` would
    return ``alice`` and ``host_cap`` would cap per USERINFO token,
    letting one host with varying userinfo dominate the corpus."""
    return F.regexp_extract(
        norm_url, r"^[a-z][a-z0-9+.\-]*://(?:[^/?#@]*@)?([^/:?@#]+)", 1
    )


def url_dedup(df: DataFrame, url_col: str = "norm_url", id_col: str = "doc_id") -> DataFrame:
    """One keeper per canonical URL: smallest id wins (deterministic,
    engine-portable).  One hash-groupBy — map-side combine applies."""
    return df.groupBy(url_col).agg(
        F.min(id_col).alias("keeper_id"),
        F.count(F.lit(1)).alias("n_docs"),
    )


def host_cap(
    df: DataFrame,
    cap: int,
    host_col: str = "host",
    id_col: str = "doc_id",
    n_salts: int = 16,
) -> DataFrame:
    """Keep at most ``cap`` rows per host — the ``cap`` smallest ids.

    Two-phase exact top-cap (see module docstring): phase 1 bounds the
    per-host row count entering the final window at ``cap * n_salts``,
    so a host with 10^9 pages costs 10^9 rows in the *salted* shuffle
    (spread over n_salts tasks) but only ``cap * n_salts`` in the final
    one.  Output is provably identical to the plain per-host window the
    DuckDB oracle runs.
    """
    if cap < 1:
        raise ValueError(f"cap must be >= 1, got {cap}")
    salt = F.pmod(F.col(id_col), F.lit(n_salts))
    w1 = Window.partitionBy(F.col(host_col), salt).orderBy(F.col(id_col))
    thinned = (
        df.withColumn("_rn1", F.row_number().over(w1))
        .filter(F.col("_rn1") <= cap)
        .drop("_rn1")
    )
    w2 = Window.partitionBy(F.col(host_col)).orderBy(F.col(id_col))
    return (
        thinned.withColumn("_rn", F.row_number().over(w2))
        .filter(F.col("_rn") <= cap)
        .drop("_rn")
    )
