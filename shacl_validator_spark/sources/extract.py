"""Vectorized extraction UDFs: HTML→text and OpenIE-style triples.

The hot-path "parser" of the rebuilt pipeline (SURVEY.md §2.1 S1, §2.10):
instead of parsing RDF text, triples are *emitted* from web pages by
batched, Arrow-transferred pandas UDFs — the only Python on executors, and
always whole-batch vectorized (pandas ``str`` ops / ``extractall``), never
per-Spark-row (BASELINE.json: "no per-row Python anywhere").

``extract_text`` must be byte-identical per url (BASELINE.json per-row
invariant): it is a fixed, version-pinned regex over the page template with
no library dependency that could drift (SURVEY.md §7.3).
"""

from __future__ import annotations

import re
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

KG = "http://example.org/kg#"
RDF_TYPE = "http://www.w3.org/1999/02/22-rdf-syntax-ns#type"
XSD_INTEGER = "http://www.w3.org/2001/XMLSchema#integer"

# --- HTML → text -----------------------------------------------------------

_MAIN_RE = re.compile(rb'<p id="main">(.*?)</p>', re.DOTALL)
_TAG_RE = re.compile(rb"<[^>]+>")
_MAIN_OPEN = b'<p id="main">'
_MAIN_CLOSE = b"</p>"


def _extract_text_bytes(html: bytes) -> str:
    """Main-content span via two C-level ``bytes.find`` calls — 6-7×
    faster per page than the regex search and PROVABLY the same result:
    ``_MAIN_RE`` (the specification, kept for the differential test)
    matches from the FIRST opening tag to the first ``</p>`` after it
    (non-greedy, DOTALL), and fails iff no ``</p>`` follows the first
    opening — in which case no later opening can match either (any
    ``</p>`` after a later opening would also follow the first).
    ``tests/test_extract.py`` pins find≡regex on the template corpus and
    on the degenerate shapes (no main tag, unclosed main, multiple
    openings)."""
    i = html.find(_MAIN_OPEN)
    if i != -1:
        j = html.find(_MAIN_CLOSE, i + len(_MAIN_OPEN))
        if j != -1:
            return html[i + len(_MAIN_OPEN) : j].decode("utf-8")
    return _TAG_RE.sub(b" ", html).decode("utf-8", errors="replace").strip()


@F.pandas_udf(T.StringType())
def extract_text(html: pd.Series) -> pd.Series:
    """Deterministic main-content extraction (golden-byte tested)."""
    return html.map(_extract_text_bytes)


# --- OpenIE-style relation patterns ----------------------------------------

# (predicate IRI, regex with two groups, object kind)
ENTITY = "entity"
YEAR_LITERAL = "year"

# no '.' in the name class — names must not cross sentence boundaries
_NAME = r"([A-Z][A-Za-z0-9&\- ]*?)"
RELATION_PATTERNS: list[tuple[str, str, str]] = [
    (KG + "locatedIn", _NAME + r" is located in " + _NAME + r"\.", ENTITY),
    (KG + "publishes", _NAME + r" publishes " + _NAME + r"\.", ENTITY),
    (KG + "founded", _NAME + r" was founded in (\d{4})\.", YEAR_LITERAL),
]

# Literal infix of each relation pattern (asserted against the regex source
# in tests): a page whose text lacks ALL of these cannot match any pattern,
# so it can be dropped JVM-side — inside whole-stage codegen, as plain
# substring containment, BEFORE the Arrow transfer to Python.  On a
# CC-realistic corpus most pages carry no relation sentence, so the gate
# removes the majority of the Arrow traffic and pandas regex work; at
# cluster scale this is the standard candidate-gating shape (cheap
# Catalyst-evaluated predicate guarding an expensive vectorized UDF).
PATTERN_GATE_LITERALS: list[str] = [
    " is located in ",
    " publishes ",
    " was founded in ",
]

# entity classes implied by relation slots (subject class, object class)
PREDICATE_CLASSES: dict[str, tuple[str, str | None]] = {
    KG + "locatedIn": (KG + "Organization", KG + "Place"),
    KG + "publishes": (KG + "Organization", KG + "Dataset"),
    KG + "founded": (KG + "Organization", None),
}

RAW_TRIPLE_SCHEMA = T.StructType(
    [
        T.StructField("src_url", T.StringType(), False),
        T.StructField("subj_surface", T.StringType(), False),
        T.StructField("predicate", T.StringType(), False),
        T.StructField("obj_surface", T.StringType(), False),
        T.StructField("obj_kind", T.StringType(), False),  # entity | year
    ]
)


_EMPTY_RAW_COLS = ["src_url", "subj_surface", "predicate", "obj_surface", "obj_kind"]


def _empty_raw_pdf() -> pd.DataFrame:
    return pd.DataFrame({c: pd.Series(dtype="object") for c in _EMPTY_RAW_COLS})


def _extract_batch_spec(pdf: pd.DataFrame) -> pd.DataFrame:
    """The SPECIFICATION kernel: one ``str.extractall`` (per-row
    ``re.finditer``) per relation pattern.  Kept as the executable spec for
    the differential tests; the hot path is ``_extract_batch`` below, which
    must produce the identical row set on any input."""
    outs = []
    text = pdf["text"].fillna("")
    urls = pdf["url"]
    for pred, pattern, obj_kind in RELATION_PATTERNS:
        m = text.str.extractall(pattern)
        if m.empty:
            continue
        idx = m.index.get_level_values(0)
        outs.append(
            pd.DataFrame(
                {
                    "src_url": urls.loc[idx].to_numpy(),
                    "subj_surface": m[0].to_numpy(),
                    "predicate": pred,
                    "obj_surface": m[1].to_numpy(),
                    "obj_kind": obj_kind,
                }
            )
        )
    if not outs:
        return _empty_raw_pdf()
    return pd.concat(outs, ignore_index=True).drop_duplicates(ignore_index=True)


# --- literal-first fast kernel ---------------------------------------------
#
# Each relation pattern has the shape  NAME + <literal infix> + <forward>:
# the lazy NAME group makes the full-regex scan expensive (every uppercase
# char starts a match attempt that expands the lazy group), while the infix
# is a fixed literal that ``str.find`` locates at memmem speed.  The fast
# kernel therefore finds infix occurrences first and reconstructs the exact
# ``re.finditer`` matches around each one:
#
#   subject  — finditer commits to the LEFTMOST start q with joined[q]
#              uppercase and joined[q+1:p] all in the NAME class (the lazy
#              group then expands exactly to the infix at p, backtracking
#              over failed earlier occurrences — the per-occurrence
#              treatment below reproduces that, see the cursor notes);
#              recovered with an end-anchored search on a widening window.
#   object   — a regex anchored AT the occurrence (infix + forward).
#   overlap  — finditer never overlaps matches: a cursor tracks the last
#              match end; occurrences inside a previous match are dropped
#              and the subject window never extends left of the cursor.
#
# Equivalence is pinned by tests/test_extract.py: a hypothesis differential
# vs ``_extract_batch_spec`` over adversarial alphabets (nested infixes,
# missing subjects, >window subject runs, embedded NULs) plus the template
# corpus.  Measured 3.3x on the post-gate batch shape (2048 x 5.7 KB) —
# extraction is the pipeline's dominant stage at scale, so this is the
# highest-leverage kernel in the repo.

# subject recovery: the NAME continuation class includes [A-Z], so every
# valid subject start lies inside the MAXIMAL continuation-class run ending
# at the infix position, and the leftmost valid start is the leftmost
# uppercase char in that run.  _CONT_RUN_RE.search(s, lo, pos) returns the
# run's start (leftmost index whose suffix up to pos is all-class);
# _UPPER_RE then picks the first uppercase inside it.
_CONT_RUN_RE = re.compile(r"[A-Za-z0-9&\- ]+\Z")
_UPPER_RE = re.compile(r"[A-Z]")


def _split_literal(pattern: str) -> tuple[str, re.Pattern]:
    """(infix literal, compiled anchored-forward regex) of a relation
    pattern.  The pattern must be NAME + literal + forward; asserted so a
    future pattern edit that breaks the shape fails loudly at import."""
    assert pattern.startswith(_NAME), pattern
    rest = pattern[len(_NAME):]
    cut = rest.index("(")  # forward part starts at its capture group
    lit, fwd = rest[:cut], rest[cut:]
    assert lit and not re.search(r"[\\^$.|?*+()\[\]{}]", lit), (
        f"infix not a pure literal: {lit!r}"
    )
    return lit, re.compile(lit + fwd)


_LITERAL_SPECS: list[tuple[str, str, re.Pattern, str]] = [
    (pred, *_split_literal(pattern), obj_kind)
    for pred, pattern, obj_kind in RELATION_PATTERNS
]
# the gate literals are exactly the infixes — one derivation, two users
assert [lit for _, lit, _, _ in _LITERAL_SPECS] == PATTERN_GATE_LITERALS


def _scan_pattern(joined: str, lit: str, fwd: re.Pattern) -> list[tuple[int, str, str]]:
    """All ``re.finditer`` matches of ``NAME + lit + fwd`` over ``joined``,
    as (match_start, subject, object) in position order."""
    out: list[tuple[int, str, str]] = []
    cursor = 0  # end of the previous match; finditer never looks left of it
    pos = joined.find(lit)
    while pos != -1:
        # a subject needs >= 1 char in [cursor, pos)
        if pos >= cursor + 1:
            m = fwd.match(joined, pos)
            if m is not None:
                # leftmost valid subject start in [cursor, pos): locate the
                # maximal continuation-run ending at pos with an
                # end-anchored window (widened while the run may extend
                # past the window's left edge), then take the run's first
                # uppercase char
                w = 256
                q = None
                while True:
                    lo = max(cursor, pos - w)
                    rm = _CONT_RUN_RE.search(joined, lo, pos)
                    if rm is None:
                        break  # char before the infix is not NAME-class
                    r0 = rm.start()
                    if r0 == lo and lo > cursor:
                        w *= 2  # run touches the window edge — widen
                        continue
                    um = _UPPER_RE.search(joined, r0, pos)
                    if um is not None:
                        q = um.start()
                    break
                if q is not None:
                    out.append((q, joined[q:pos], m.group(1)))
                    cursor = m.end()
                    pos = joined.find(lit, cursor)
                    continue
        pos = joined.find(lit, pos + 1)
    return out


def _extract_batch(pdf: pd.DataFrame) -> pd.DataFrame:
    """Whole-batch extraction, literal-first (see the block comment above);
    row set identical to ``_extract_batch_spec`` on any input."""
    import numpy as np

    arr = pdf["text"].fillna("").to_numpy()
    if len(arr) == 0:
        return _empty_raw_pdf()
    urls = pdf["url"].to_numpy()
    # \x00 separator: not in the NAME class, any infix, or \d — no match
    # can span it, so per-row finditer == joined finditer (even for texts
    # that themselves contain NULs: offsets come from true string lengths)
    joined = "\x00".join(arr)
    ends = np.cumsum(
        np.fromiter((len(s) + 1 for s in arr), dtype=np.int64, count=len(arr))
    )
    outs = []
    for pred, lit, fwd, obj_kind in _LITERAL_SPECS:
        ms = _scan_pattern(joined, lit, fwd)
        if not ms:
            continue
        rows = np.searchsorted(ends, np.asarray([t[0] for t in ms]), side="right")
        outs.append(
            pd.DataFrame(
                {
                    "src_url": urls[rows],
                    "subj_surface": [t[1] for t in ms],
                    "predicate": pred,
                    "obj_surface": [t[2] for t in ms],
                    "obj_kind": obj_kind,
                }
            )
        )
    if not outs:
        return _empty_raw_pdf()
    # per-page dedup at the source: a triple's RDF-set identity includes its
    # source url, so duplicates can ONLY arise within one page — dropping
    # them here (C-level, embarrassingly parallel) guarantees the whole raw
    # stream is globally unique and no downstream JVM stage ever needs a
    # dedup shuffle or hash aggregate (SURVEY.md §2.6 U4 set semantics).
    return pd.concat(outs, ignore_index=True).drop_duplicates(ignore_index=True)


def extract_raw_triples(
    pages: DataFrame, gate: bool = True, prune: bool | None = None
) -> DataFrame:
    """pages → surface-form triples via ``mapInPandas`` (Arrow batches).

    Returns RAW_TRIPLE_SCHEMA rows; entity typing and canonicalization are
    downstream relational stages (operators/linking.py).

    With ``gate`` (default) pages whose text contains none of
    ``PATTERN_GATE_LITERALS`` are filtered JVM-side first: the containment
    OR runs inside whole-stage codegen on the scan, so non-candidate pages
    never pay Arrow serialization or a Python regex pass.  Output is
    provably identical — every relation regex contains its gate literal —
    and ``tests/test_extract.py`` asserts both the containment invariant
    and gated/ungated result equality.
    """

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield _extract_batch(pdf)

    cand = pages.select("url", "text")
    if gate and PATTERN_GATE_LITERALS:
        keep = F.col("text").contains(PATTERN_GATE_LITERALS[0])
        for lit in PATTERN_GATE_LITERALS[1:]:
            keep = keep | F.col("text").contains(lit)
        cand = cand.filter(keep)
    if prune is None:
        # Per-TOPOLOGY switch, spark.kg.extract.pruneSentences (default
        # off).  The prune trades ~interpreted-HOF JVM work on candidate
        # pages for a ~50x smaller Arrow transfer and ~3x less Python
        # kernel work.  Measured both ways (r4): +30% pages/s when Python
        # workers COMPETE with the JVM for cores (saturated local[32] —
        # and a real cluster, where workers share the executor's cores),
        # but a net LOSS under 1-core local-cluster executors whose Python
        # workers ride otherwise-idle host cores (the scaling protocol:
        # extract stage 489->646 s at N=1).  Neither regime can be
        # detected from inside the job, so the deployment picks.
        prune = (
            pages.sparkSession.conf.get(
                "spark.kg.extract.pruneSentences", "false"
            )
            == "true"
        )
    if gate and prune and PATTERN_GATE_LITERALS:
        # Sentence pruning (r4, VERDICT r3 #6): no relation match can cross
        # a '.' — the NAME class, every infix, and both forward forms
        # exclude it, and '\\.' is each pattern's terminator — so a match
        # lies entirely inside one dot-delimited segment plus its trailing
        # dot.  Keeping only infix-bearing segments (JVM-side, candidates
        # only) cuts the Arrow transfer from the full 6-7 KB page to the
        # few relation sentences (~50x fewer bytes at CC-like density).
        # The trailing dot is re-attached to every kept segment EXCEPT a
        # final dot-less tail — appending one there would fabricate a
        # terminator and create a match the spec kernel never yields.
        # Dropped segments contain no infix, hence no match and no cursor
        # interaction; a kept segment's left barrier (start-of-string or
        # '.') is preserved by reconstruction, so subject recovery sees the
        # identical context.  Equality with the unpruned path is pinned by
        # tests/test_extract.py (gated≡ungated + adversarial shapes).
        segs = F.split(F.col("text"), r"\.", -1)
        n_segs = F.size(segs)
        with_idx = F.transform(
            segs, lambda s, i: F.struct(s.alias("s"), i.alias("i"))
        )
        def _seg_has_infix(x):
            cond = x["s"].contains(PATTERN_GATE_LITERALS[0])
            for lit in PATTERN_GATE_LITERALS[1:]:
                cond = cond | x["s"].contains(lit)
            return cond

        pruned = F.array_join(
            F.transform(
                F.filter(with_idx, _seg_has_infix),
                lambda x: F.when(
                    x["i"] < n_segs - 1, F.concat(x["s"], F.lit("."))
                ).otherwise(x["s"]),
            ),
            "",
        )
        cand = cand.select("url", pruned.alias("text"))
    return cand.mapInPandas(run, schema=RAW_TRIPLE_SCHEMA)


def extract_raw_triples_from_html(
    pages: DataFrame, gate: bool = True
) -> DataFrame:
    """FUSED html → text → surface-form triples in ONE Arrow pass
    (r5, VERDICT r4 #4): when the input carries raw ``html`` but no
    pre-extracted ``text``, running ``extract_text`` as its own pandas UDF
    materializes the text column only for the very next operator to
    re-scan it — two Arrow round-trips of ~6.5 KB/page where one
    suffices.  This kernel decodes the main-content span and runs the
    literal-first relation extraction inside the same ``mapInPandas``
    batch, so each page crosses the JVM↔Python boundary once and the text
    bytes live only as a transient Python string.

    The JVM candidate gate adapts to html: ``extract_text`` yields either
    a byte-substring of the html (main-span path) or a tags→spaces
    rewrite, so any space-free run of the text is a contiguous run of the
    html, while a run that spans a space may span a stripped tag
    (``is<b>located in`` reads as ``is located in``).  A text containing
    an infix literal therefore implies the html contains each of the
    literal's single (ASCII) words, though not necessarily adjacent.
    Gating html on that conjunction, per literal, is a sound superset
    filter: never drops a true candidate, keeps at most a few false ones
    for the Python kernel to reject.  Differential equality with the
    two-pass path is pinned by tests/test_extract.py."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            text = pdf["html"].map(
                lambda b: _extract_text_bytes(bytes(b)) if b is not None else ""
            )
            yield _extract_batch(
                pd.DataFrame({"url": pdf["url"], "text": text})
            )

    cand = pages.select("url", "html")
    if gate and PATTERN_GATE_LITERALS:
        keep = None
        for lit in PATTERN_GATE_LITERALS:
            c = None
            for word in lit.split():
                w = F.contains(F.col("html"), F.lit(word.encode()))
                c = w if c is None else c & w
            keep = c if keep is None else keep | c
        cand = cand.filter(keep)
    return cand.mapInPandas(run, schema=RAW_TRIPLE_SCHEMA)


def mentions_from_raw(raw: DataFrame) -> DataFrame:
    """Distinct (surface, ent_class) mention table, derived relationally.

    Deduplicating *before* linking is the scale move: the distinct surface
    set is orders of magnitude smaller than the mention stream, and the
    surface→canonical map broadcasts back (SURVEY.md §2.3 J7).
    """
    cls_map = [(p, s, o) for p, (s, o) in PREDICATE_CLASSES.items()]
    subj_cls = F.create_map(
        *[x for p, s, _ in cls_map for x in (F.lit(p), F.lit(s))]
    )
    obj_cls = F.create_map(
        *[x for p, _, o in cls_map if o is not None for x in (F.lit(p), F.lit(o))]
    )
    subj = raw.select(
        F.col("subj_surface").alias("surface"),
        subj_cls[F.col("predicate")].alias("ent_class"),
    )
    obj = (
        raw.filter(F.col("obj_kind") == ENTITY)
        .select(
            F.col("obj_surface").alias("surface"),
            obj_cls[F.col("predicate")].alias("ent_class"),
        )
        .filter(F.col("ent_class").isNotNull())
    )
    return subj.unionByName(obj).dropDuplicates()
