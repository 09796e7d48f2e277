"""Deterministic Common-Crawl-style ``pages`` corpus (FIXTURES.md §1).

BASELINE.json's ``input_hint`` fixes the input table shape:
``(url:string, warc_ts:timestamp, html:binary, text:string, lang:string)``.
No external data is allowed, so the corpus is synthesized **inside Spark**
with pure column expressions — ``spark.range(n)`` plus hash-derived picks
from small literal vocabularies.  Fully distributed (no driver-side text
generation), deterministic for any n (no wall clock, no unseeded RNG), and
Zipf-skewed over sites so a few hub domains dominate — exactly the skew the
salting stage must handle (BASELINE.json north_star).

Because the text is template-generated from a page id, the **expected
triple set** (the P/R oracle of FIXTURES.md §6) is computed by the same
column expressions — generator and oracle cannot drift apart.  The driver's
``documents.parquet`` maps onto the same shape via ``documents_as_pages``
(doc_id plays the page id), so the oracle covers that path too.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

KG = "http://example.org/kg#"

# Entity vocabulary: (canonical_id, [surface forms / aliases]).
# Aliases exercise MinHash-LSH + alias-dict linking (FIXTURES.md §1,5).
ORGS: list[tuple[str, list[str]]] = [
    ("org:acme", ["Acme Corp", "Acme Corporation", "ACME"]),
    ("org:globex", ["Globex", "Globex Inc", "Globex Incorporated"]),
    ("org:initech", ["Initech", "Initech LLC"]),
    ("org:umbrella", ["Umbrella Group", "Umbrella Grp"]),
    ("org:stark", ["Stark Industries", "Stark Ind"]),
    ("org:wayne", ["Wayne Enterprises", "Wayne Ent"]),
    ("org:tyrell", ["Tyrell Corp", "Tyrell Corporation"]),
    ("org:hooli", ["Hooli", "Hooli XYZ"]),
]

PLACES: list[tuple[str, list[str]]] = [
    ("place:madrid", ["Madrid"]),
    ("place:berlin", ["Berlin"]),
    ("place:paris", ["Paris"]),
    ("place:lisbon", ["Lisbon", "Lisboa"]),
    ("place:vienna", ["Vienna", "Wien"]),
]

DATASET_TITLES = [
    "Air Quality Index",
    "Traffic Counts",
    "Energy Usage",
    "Census Snapshot",
    "River Levels",
    "Budget Ledger",
]

LANGS = ["es", "en", "de"]

# Deterministic boilerplate corpus: real Common-Crawl pages are KBs of prose
# around a handful of extractable facts, so the synthetic pages embed the
# mention sentences inside hash-picked filler.  None of these sentences may
# contain a relation trigger phrase (" is located in ", " publishes ",
# " was founded in ") — the extractor's precision tests depend on filler
# never producing a match (FIXTURES.md §6 P/R oracle).
FILLER_SENTENCES = [
    "the quarterly report notes steady growth across regional offices.",
    "a spokesperson declined to comment on the pending review.",
    "analysts expect the committee to release updated guidance soon.",
    "the archive holds records dating back several decades.",
    "visitors can browse the collection during regular opening hours.",
    "the proposal drew mixed reactions from community members.",
    "several amendments were tabled during the afternoon session.",
    "the catalog entry lists provenance and licensing details.",
    "maintenance work is scheduled for the coming weekend.",
    "the survey covered respondents across twelve districts.",
    "preliminary figures suggest a modest rise in participation.",
    "the panel reviewed submissions over a two week period.",
    "updated terms of service take effect at the end of the month.",
    "the workshop attracted practitioners from many disciplines.",
    "registration closes once capacity has been reached.",
    "the annex describes the sampling methodology in detail.",
    "a revised edition of the handbook appears every spring.",
    "the committee thanked volunteers for their contributions.",
    "minutes of the previous meeting were approved without changes.",
    "the dataset card documents known limitations and caveats.",
    "a moderated forum hosts discussion of open questions.",
    "the roadmap highlights milestones for the next two quarters.",
    "weather conditions delayed the scheduled field measurements.",
    "the editorial board meets on the first tuesday of each month.",
    "translations are provided on a best effort basis.",
    "the glossary clarifies terminology used throughout the report.",
    "an errata page tracks corrections to earlier printings.",
    "the budget allocates additional funds for outreach programs.",
    "attendance figures exceeded expectations for a third year.",
    "the audit found no material discrepancies in the accounts.",
    "responses were anonymized before any analysis took place.",
    "the appendix reproduces the questionnaire in full.",
]


def filler_text(pid: Column, n_sentences: int, salt: str = "fill") -> Column:
    """Deterministic hash-picked boilerplate (~60B/sentence) for a page id.

    Sentence i is picked by ``xxhash64(pid, salt || i)``.  One ``transform``
    over the sentence indices keeps the expression the same size for any
    ``n_sentences``, so the page projection stays within whole-stage
    codegen's 64 KB method limit."""
    if n_sentences <= 0:
        return F.lit("")  # sequence(0, -1) would count down
    picks = F.transform(
        F.sequence(F.lit(0), F.lit(n_sentences - 1)),
        lambda i: _pick(
            F.pmod(
                F.xxhash64(pid, F.concat(F.lit(salt), i.cast("string"))), len(FILLER_SENTENCES)
            ),
            FILLER_SENTENCES,
        ),
    )
    return F.array_join(picks, " ")

N_SITES = 64  # Zipf-skewed: site 0 is the hub domain

HTML_PREFIX = (
    '<html><head><title>doc</title></head><body>'
    '<nav>boilerplate nav</nav><p id="main">'
)
HTML_SUFFIX = "</p><footer>(c) example</footer></body></html>"


def alias_rows() -> list[tuple[str, str]]:
    """(alias_lower, canonical_id) broadcast dictionary rows (FIXTURES.md §5)."""
    rows: list[tuple[str, str]] = []
    for cid, surfaces in ORGS + PLACES:
        for s in surfaces:
            rows.append((s.lower(), cid))
    for i, t in enumerate(DATASET_TITLES):
        rows.append((t.lower(), f"dataset:{i}"))
    return rows


def _pick(col: Column, options: list[str]) -> Column:
    """Deterministic pick from a literal list by non-negative index column."""
    arr = F.array(*[F.lit(o) for o in options])
    return F.element_at(arr, (col % len(options) + 1).cast("int"))


def _surface(pid: Column, vocab: list[tuple[str, list[str]]], salt: str) -> Column:
    idx = F.pmod(F.xxhash64(pid, F.lit(salt)), len(vocab))
    alias_i = F.pmod(F.xxhash64(pid, F.lit("alias")), 3)
    out = F.lit(None).cast("string")
    for i, (_, surfaces) in enumerate(vocab):
        out = F.when(idx == i, _pick(F.pmod(alias_i, len(surfaces)), surfaces)).otherwise(out)
    return out


def mention_text(pid: Column) -> Column:
    """The deterministic entity-mention sentences for a page id."""
    org = _surface(pid, ORGS, "org")
    place = _surface(pid, PLACES, "place")
    ds = _pick(F.pmod(F.xxhash64(pid, F.lit("ds")), len(DATASET_TITLES)), DATASET_TITLES)
    year = (F.pmod(F.xxhash64(pid, F.lit("year")), 60) + 1950).cast("string")
    return F.format_string(
        "%s is located in %s. %s publishes %s. %s was founded in %s.",
        org, place, org, ds, org, year,
    )


def wrap_html(text: Column) -> Column:
    return F.encode(F.concat(F.lit(HTML_PREFIX), text, F.lit(HTML_SUFFIX)), "UTF-8")


def _has_facts(pid: Column, fact_density: float) -> Column:
    """Deterministic page-level selector: does this page carry relation
    sentences?  Real webtext is fact-sparse for any closed relation schema —
    most pages contribute text volume but no extractable triples."""
    return F.pmod(F.xxhash64(pid, F.lit("hasfacts")), 1000) < int(fact_density * 1000)


def synthesize_pages(
    spark: SparkSession,
    n: int,
    partitions: int | None = None,
    filler_sentences: int = 24,
    fact_density: float = 1.0,
) -> DataFrame:
    """Generate n pages distributed; schema == PAGES_SCHEMA.

    ``html`` embeds ``text`` in a fixed template; the extraction UDF must
    recover ``text`` byte-identically (BASELINE.json per-row invariant).

    ``filler_sentences`` controls page realism: the default yields ~1.5 KB
    of boilerplate around the mention sentences, which puts the
    extraction/page-size ratio in Common-Crawl territory — the benchmark
    then measures a compute-dominated extraction like the real workload,
    not a degenerate triples-denser-than-text corpus.  Set 0 for the
    minimal corpus used by small fixtures.
    """
    df = spark.range(0, n, 1, partitions or spark.sparkContext.defaultParallelism)
    pid = F.col("id")
    # Zipf-ish site skew: cubic collapse onto low site ids → site 0 is a hub
    site = (F.pow(F.pmod(pid, N_SITES) / N_SITES, 3.0) * N_SITES).cast("long")
    mentions = F.when(_has_facts(pid, fact_density), mention_text(pid)).otherwise(
        F.lit("")
    )
    if filler_sentences > 0:
        head = max(filler_sentences // 3, 1)
        text = F.concat_ws(
            " ",
            filler_text(pid, head, salt="fa"),
            mentions,
            filler_text(pid, filler_sentences - head, salt="fb"),
        )
    else:
        text = mentions
    return df.select(
        F.format_string("https://site%d.example.org/page/%d", site, pid).alias("url"),
        (
            F.lit("2024-01-01 00:00:00").cast("timestamp")
            + F.make_interval(secs=pid.cast("double"))
        ).alias("warc_ts"),
        wrap_html(text).alias("html"),
        text.alias("text"),
        _pick(F.pmod(F.xxhash64(pid, F.lit("lang")), 3), LANGS).alias("lang"),
    )


def expected_triples(
    spark: SparkSession,
    n: int,
    partitions: int | None = None,
    fact_density: float = 1.0,
) -> DataFrame:
    """The P/R oracle: canonical (subject, predicate, object_value) relation
    rows the pipeline must emit for page ids 0..n-1 (FIXTURES.md §6).

    Subjects/objects are canonical entity ids (post-linking), so this checks
    the whole extract → link → canonicalize chain, not just the regexes.
    Comparison is over the three relation predicates; rdf:type support
    triples are excluded on both sides.
    """
    df = spark.range(0, n, 1, partitions or spark.sparkContext.defaultParallelism)
    pid = F.col("id")
    df = df.filter(_has_facts(pid, fact_density))
    org_id = _pick(F.pmod(F.xxhash64(pid, F.lit("org")), len(ORGS)), [c for c, _ in ORGS])
    place_id = _pick(
        F.pmod(F.xxhash64(pid, F.lit("place")), len(PLACES)), [c for c, _ in PLACES]
    )
    ds_id = F.format_string(
        "dataset:%d", F.pmod(F.xxhash64(pid, F.lit("ds")), len(DATASET_TITLES))
    )
    year = (F.pmod(F.xxhash64(pid, F.lit("year")), 60) + 1950).cast("string")

    base = df.select(
        org_id.alias("org"), place_id.alias("place"), ds_id.alias("ds"), year.alias("year")
    )
    parts = [
        base.select(
            F.col("org").alias("subject"),
            F.lit(KG + "locatedIn").alias("predicate"),
            F.col("place").alias("object_value"),
        ),
        base.select(
            F.col("org").alias("subject"),
            F.lit(KG + "publishes").alias("predicate"),
            F.col("ds").alias("object_value"),
        ),
        base.select(
            F.col("org").alias("subject"),
            F.lit(KG + "founded").alias("predicate"),
            F.col("year").alias("object_value"),
        ),
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out.dropDuplicates()


def documents_as_pages(
    spark: SparkSession, sf_dir: str, with_mentions: bool = True
) -> DataFrame:
    """Adapter: the driver's documents.parquet → pages shape
    (FIXTURES.md §1: url from source+doc_id, html = utf-8 wrap of text).

    With ``with_mentions`` the deterministic mention sentences (keyed by
    doc_id, same expressions as ``synthesize_pages``) are prepended so the
    extraction → linking pipeline has entities to find and
    ``expected_triples(n)`` remains the oracle (doc_ids are 0..n-1).
    """
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    pid = F.col("doc_id")
    text = (
        F.concat(mention_text(pid), F.lit(" "), F.col("text"))
        if with_mentions
        else F.col("text")
    )
    return docs.select(
        F.format_string("https://%s/%d", F.col("source"), pid).alias("url"),
        F.lit("2024-01-01 00:00:00").cast("timestamp").alias("warc_ts"),
        wrap_html(text).alias("html"),
        text.alias("text"),
        F.col("lang"),
    )
