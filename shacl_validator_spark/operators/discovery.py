"""Dataset discovery: DCAT entity materialization from the triples table.

Spark rebuild of the reference's DataDiscoveryService
(src/services/DataDiscoveryService.ts:30-266): hand-rolled nested-loop
joins over quad arrays become a pivot + two hash joins (SURVEY.md §2.3
J1-J3, §3.3).  This is also the shape of the entity-table materialization
step (mentions → canonical entities with nested surface forms).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..model import DCAT, DCT, FOAF, RDF_TYPE, RDFS

_DATASET_PREDS = {
    "title": DCT + "title",
    "foaf_name": FOAF + "name",
    "description": DCT + "description",
    "publisher": DCT + "publisher",
    "issued": DCT + "issued",
    "modified": DCT + "modified",
}


def _props_pivot(triples: DataFrame, preds: dict[str, str]) -> DataFrame:
    """J1 as one groupBy+pivot instead of N nested-loop lookups: single
    shuffle on subject, first() per predicate (P2 semantics —
    `quads.find` takes the first match, DataDiscoveryService.ts:131-137)."""
    inv = {v: k for k, v in preds.items()}
    mapping = F.create_map(*[x for iri, name in inv.items() for x in (F.lit(iri), F.lit(name))])
    return (
        triples.filter(F.col("predicate").isin(list(preds.values())))
        .select("subject", mapping[F.col("predicate")].alias("prop"), "object_value")
        .groupBy("subject")
        .pivot("prop", list(preds.keys()))
        .agg(F.min("object_value"))
    )


def extract_datasets(triples: DataFrame) -> DataFrame:
    """P1 + J1 + P4: dcat:Dataset subjects with coalesced title
    (dct:title ?? foaf:name ?? 'Unnamed Dataset' —
    DataDiscoveryService.ts:144-146), multi-valued keywords/themes.
    """
    ds_subjects = (
        triples.filter(
            (F.col("predicate") == RDF_TYPE) & (F.col("object_value") == DCAT + "Dataset")
        )
        .select("subject")
        .dropDuplicates()
    )
    props = _props_pivot(triples, _DATASET_PREDS)
    multi = (
        triples.filter(F.col("predicate").isin(DCAT + "keyword", DCAT + "theme"))
        .groupBy("subject")
        .agg(
            F.sort_array(
                F.collect_set(F.when(F.col("predicate") == DCAT + "keyword", F.col("object_value")))
            ).alias("keywords"),
            F.sort_array(
                F.collect_set(F.when(F.col("predicate") == DCAT + "theme", F.col("object_value")))
            ).alias("themes"),
        )
    )
    return (
        ds_subjects.join(props, "subject", "left")
        .join(multi, "subject", "left")
        .select(
            F.col("subject").alias("id"),
            F.coalesce(F.col("title"), F.col("foaf_name"), F.lit("Unnamed Dataset")).alias(
                "title"
            ),
            "description",
            "publisher",
            "issued",
            "modified",
            F.coalesce(F.col("keywords"), F.array().cast("array<string>")).alias("keywords"),
            F.coalesce(F.col("themes"), F.array().cast("array<string>")).alias("themes"),
        )
    )


_DIST_PREDS = {
    "title": DCT + "title",
    "accessURL": DCAT + "accessURL",
    "downloadURL": DCAT + "downloadURL",
    "format": DCT + "format",
    "mediaType": DCAT + "mediaType",
    "byteSize": DCAT + "byteSize",
}


def extract_distributions(triples: DataFrame) -> DataFrame:
    """J2: dataset —dcat:distribution→ distribution property join.

    Two hash joins over the long table (edges then properties); byteSize is
    int-cast like the reference's parseInt (DataDiscoveryService.ts:257).
    """
    edges = triples.filter(F.col("predicate") == DCAT + "distribution").select(
        F.col("subject").alias("dataset_id"), F.col("object_value").alias("dist_id")
    )
    props = _props_pivot(triples, _DIST_PREDS)
    return edges.join(props, edges["dist_id"] == props["subject"], "left").select(
        "dataset_id",
        F.col("dist_id").alias("id"),
        "title",
        "accessURL",
        "downloadURL",
        "format",
        "mediaType",
        F.col("byteSize").try_cast("long").alias("byteSize"),
    )


def resolve_formats(triples: DataFrame, distributions: DataFrame) -> DataFrame:
    """J3: dct:IMT format-node resolution — if the format object is a node
    typed dct:IMT (existential agg), prefer its rdf:value else rdfs:label
    (DataDiscoveryService.ts:269-325)."""
    fmt_nodes = (
        triples.filter(F.col("predicate").isin(RDF_TYPE, "http://purl.org/dc/terms/IMT",
                                               RDFS + "label", "http://www.w3.org/1999/02/22-rdf-syntax-ns#value"))
        .groupBy("subject")
        .agg(
            F.max(
                F.when(
                    (F.col("predicate") == RDF_TYPE)
                    & F.col("object_value").endswith("IMT"),
                    1,
                ).otherwise(0)
            ).alias("is_imt"),
            F.min(
                F.when(
                    F.col("predicate") == "http://www.w3.org/1999/02/22-rdf-syntax-ns#value",
                    F.col("object_value"),
                )
            ).alias("rdf_value"),
            F.min(
                F.when(F.col("predicate") == RDFS + "label", F.col("object_value"))
            ).alias("label"),
        )
    )
    return distributions.join(
        fmt_nodes, distributions["format"] == fmt_nodes["subject"], "left"
    ).select(
        distributions["*"],
        F.when(F.col("is_imt") == 1, F.coalesce(F.col("rdf_value"), F.col("label")))
        .otherwise(F.coalesce(F.col("format"), F.col("label")))
        .alias("resolved_format"),
    )


# --- F12: the full format-normalization maps --------------------------------
# Semantic tables re-expressed as when-chains (pure column expressions, no
# UDF): mime aliases + EU-authority URIs + Spanish labels + URL heuristics
# (reference DataDiscoveryService.ts:330-475 — extractSimpleFormat :330,
# normalizeFormatValue :363, extractFormatFromUrl :437; RDF mime aliases
# RDFService.ts:26-40).


def normalize_format_value(col) -> F.Column:
    """``normalizeFormatValue``: rdf:value / rdfs:label text → 'csv'|'json'|
    'unknown' — direct mimes, partial matches, Spanish vocabulary labels
    (DataDiscoveryService.ts:363-389)."""
    v = F.lower(F.trim(col))
    is_csv = (
        v.isin("csv", "text/csv", "application/csv")
        | v.contains("csv")
        | v.contains("comma-separated")
        | v.contains("comma separated values")
        | v.contains("delimiter-separated")
        | v.contains("valores separados por comas")
    )
    is_json = (
        v.isin("json", "application/json", "text/json")
        | v.contains("json")
        | v.contains("javascript object notation")
        | v.contains("notación de objetos javascript")
    )
    return (
        F.when(col.isNull(), F.lit("unknown"))
        .when(is_csv, F.lit("csv"))
        .when(is_json, F.lit("json"))
        .otherwise(F.lit("unknown"))
    )


def extract_simple_format(col) -> F.Column:
    """``extractSimpleFormat``: direct format strings/URIs → 'csv'|'json'|
    'unknown' — EU Publications Office authority URIs, W3C/IANA URIs, IANA
    media types, fragment identifiers, /CSV-style suffixes
    (DataDiscoveryService.ts:330-360)."""
    raw = col
    lo = F.lower(col)
    eu = raw.contains("publications.europa.eu") | raw.contains("europa.eu")
    std = raw.contains("w3.org") | raw.contains("iana.org")
    csv = (
        (eu & (raw.contains("CSV") | raw.contains("csv")))
        | (std & (lo.contains("csv") | lo.contains("comma-separated")))
        | lo.contains("text/csv")
        | lo.contains("application/csv")
        | raw.contains("#csv")
        | (lo == "csv")
        | raw.endswith("/CSV")
        | raw.endswith("/csv")
    )
    json_ = (
        (eu & (raw.contains("JSON") | raw.contains("json")))
        | (std & lo.contains("json"))
        | lo.contains("application/json")
        | lo.contains("text/json")
        | raw.contains("#json")
        | (lo == "json")
        | raw.endswith("/JSON")
        | raw.endswith("/json")
    )
    return (
        F.when(col.isNull(), F.lit("unknown"))
        .when(csv, F.lit("csv"))
        .when(json_, F.lit("json"))
        .otherwise(F.lit("unknown"))
    )


def extract_format_from_url(col) -> F.Column:
    """``extractFormatFromUrl``: URL extension / query / path / CKAN-dump /
    API / export heuristics (DataDiscoveryService.ts:437-475)."""
    u = F.lower(col)
    csv = (
        u.endswith(".csv")
        | u.contains("format=csv")
        | u.contains("fmt=csv")
        | u.contains("/csv/")
        | u.contains("-csv-")
        | (u.contains("/dump/") & u.contains("format=csv"))
        | (u.contains("/api/") & u.contains("csv"))
        | (u.contains("export") & u.contains("csv"))
    )
    json_ = (
        u.endswith(".json")
        | u.contains("format=json")
        | u.contains("fmt=json")
        | u.contains("/json/")
        | u.contains("-json-")
        | (u.contains("/dump/") & u.contains("format=json"))
        | (u.contains("/api/") & u.contains("json"))
        | (u.contains("export") & u.contains("json"))
    )
    return (
        F.when(col.isNull(), F.lit("unknown"))
        .when(csv, F.lit("csv"))
        .when(json_, F.lit("json"))
        .otherwise(F.lit("unknown"))
    )


def is_compatible(format_col, media_col, url_col):
    """P6: distribution kept iff format/mediaType/url indicates csv or json
    (DataDiscoveryService.ts:393-475) as one boolean column expression."""
    def has(col, s):
        return F.coalesce(F.lower(col).contains(s), F.lit(False))

    return (
        has(format_col, "csv")
        | has(format_col, "json")
        | has(media_col, "csv")
        | has(media_col, "json")
        | F.coalesce(F.lower(url_col).endswith(".csv"), F.lit(False))
        | F.coalesce(F.lower(url_col).endswith(".json"), F.lit(False))
        | has(url_col, "format=csv")
        | has(url_col, "format=json")
    )


def search_datasets(datasets: DataFrame, query: str, limit: int = 50) -> DataFrame:
    """P7 + W2: case-insensitive substring over title/description/keywords/
    themes, capped (defaults mirror DataDiscoveryService.ts:30,41-50)."""
    q = query.lower()
    hit = (
        F.coalesce(F.lower(F.col("title")).contains(q), F.lit(False))
        | F.coalesce(F.lower(F.col("description")).contains(q), F.lit(False))
        | F.exists(F.col("keywords"), lambda k: F.lower(k).contains(q))
        | F.exists(F.col("themes"), lambda t: F.lower(t).contains(q))
    )
    return datasets.filter(hit).orderBy("id").limit(limit)
