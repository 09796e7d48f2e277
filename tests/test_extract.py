"""Extraction-stage tests: byte-identity invariant + P/R of the full
extract → link → canonicalize chain against the generated oracle
(BASELINE.json: byte-identical text per url; P/R ≥ 0.95 on emitted triples).
"""

from __future__ import annotations

from functools import reduce
from operator import or_

from pyspark.sql import functions as F

from shacl_validator_spark.operators.linking import alias_dict_df, link_mentions
from shacl_validator_spark.plans.pipeline import canonicalize, typed_triples
from shacl_validator_spark.sources.extract import (
    KG,
    PATTERN_GATE_LITERALS,
    extract_raw_triples,
    extract_text,
    mentions_from_raw,
)
from shacl_validator_spark.sources.pages import (
    alias_rows,
    documents_as_pages,
    expected_triples,
    synthesize_pages,
)

N = 300
REL_PREDS = [KG + "locatedIn", KG + "publishes", KG + "founded"]


def test_byte_identity(spark):
    pages = synthesize_pages(spark, N)
    mism = pages.withColumn("ext", extract_text(F.col("html"))).filter(
        F.col("ext") != F.col("text")
    )
    assert mism.count() == 0


def test_synthetic_pages_compile_without_codegen_fallback(spark):
    """The page generator compiles under whole-stage codegen, also where the
    extractor's gate re-inlines ``text`` into a filter, and its output is
    pinned: all-column hash sums for 0, 1 (empty tail filler), 24 and 96
    filler sentences."""
    key = "spark.sql.codegen.fallback"
    old = spark.conf.get(key)
    spark.conf.set(key, "false")  # a codegen failure raises instead of running interpreted
    try:
        gate = reduce(or_, [F.col("text").contains(lit) for lit in PATTERN_GATE_LITERALS])
        assert len(synthesize_pages(spark, 200).filter(gate).collect()) == 200
        sums = {}
        for n in (0, 1, 24, 96):
            pages = synthesize_pages(spark, 200, filler_sentences=n)
            sums[n] = int(
                pages.select(F.sum(F.xxhash64(*pages.columns).cast("decimal(38,0)"))).first()[0]
            )
    finally:
        spark.conf.set(key, old)
    assert sums == {
        0: -24123137186257402022,
        1: 12893581767599816030,
        24: 105067687823177278412,
        96: 24029863772497293851,
    }


def test_find_path_equals_regex_spec():
    """_extract_text_bytes' find-based fast path must equal the _MAIN_RE
    specification on every structural shape, including the degenerate
    ones the template corpus never produces."""
    import re as _re

    from shacl_validator_spark.sources.extract import _MAIN_RE, _TAG_RE, _extract_text_bytes

    def spec(html: bytes) -> str:
        m = _MAIN_RE.search(html)
        if m:
            return m.group(1).decode("utf-8")
        return _TAG_RE.sub(b" ", html).decode("utf-8", errors="replace").strip()

    cases = [
        b'<html><p id="main">hello world</p></html>',
        b'<p id="main">a</p><p id="main">b</p>',          # two mains
        b'<p id="main">never closed <b>bold</b',           # unclosed main
        b"<html><body>no main at all</body></html>",       # fallback path
        b'<div></p></div><p id="main">late open</p>',      # close before open
        b'<p id="main"></p>',                               # empty span
        b'<p id="main">x</p  >trail</p>',                   # weird spacing
        b'pre<p id="main">multi\nline\ntext</p>post',       # DOTALL newlines
        b"",                                                 # empty page
        b'<p id="main">unclosed then <p id="main">second</p>',
    ]
    for html in cases:
        assert _extract_text_bytes(html) == spec(html), html


def test_byte_identity_documents_adapter(spark):
    pages = documents_as_pages(spark, "/root/testdata/sf0.001")
    mism = pages.withColumn("ext", extract_text(F.col("html"))).filter(
        F.col("ext") != F.col("text")
    )
    assert mism.count() == 0


def test_extraction_pr(spark):
    """P/R == 1.0 on the synthetic corpus (north star requires ≥ 0.95)."""
    pages = synthesize_pages(spark, N).cache()
    raw = extract_raw_triples(pages).cache()
    mentions = mentions_from_raw(raw)
    linked = link_mentions(spark, mentions, alias_dict_df(spark, alias_rows()))
    smap = canonicalize(spark, linked)
    emitted = (
        typed_triples(raw, smap)
        .filter(F.col("predicate").isin(REL_PREDS))
        .select("subject", "predicate", "object_value")
        .dropDuplicates()
        .cache()
    )
    exp = expected_triples(spark, N).cache()
    tp = emitted.join(exp, ["subject", "predicate", "object_value"]).count()
    n_emitted, n_expected = emitted.count(), exp.count()
    precision = tp / n_emitted
    recall = tp / n_expected
    assert precision >= 0.95, (tp, n_emitted)
    assert recall >= 0.95, (tp, n_expected)


def test_lsh_links_unseen_aliases(spark):
    """Surfaces missing from the dictionary resolve via MinHash-LSH to the
    nearest alias (typo'd org names)."""
    mentions = spark.createDataFrame(
        [("Acme Corpp", "http://example.org/kg#Organization"),
         ("Globex Incc", "http://example.org/kg#Organization")],
        "surface string, ent_class string",
    )
    linked = link_mentions(spark, mentions, alias_dict_df(spark, alias_rows()))
    got = {r.surface: r.canonical_id for r in linked.collect()}
    assert got["Acme Corpp"] == "org:acme"
    assert got["Globex Incc"] == "org:globex"


def test_unlinkable_surface_gets_stable_id(spark):
    mentions = spark.createDataFrame(
        [("Zzyzx Quux Entity", "http://example.org/kg#Organization")],
        "surface string, ent_class string",
    )
    linked = link_mentions(
        spark, mentions, alias_dict_df(spark, alias_rows()), lsh_threshold=0.3
    )
    got = linked.collect()[0]
    assert got.canonical_id == "surface:zzyzx quux entity"


def test_extraction_pr_sparse_facts(spark):
    """P/R holds on a CC-realistic corpus: boilerplate-heavy pages where
    only ~30% carry relation sentences (the scaling-bench corpus shape);
    filler must produce zero false extractions (precision) and every
    fact-bearing page must yield its triples (recall)."""
    pages = synthesize_pages(spark, N, filler_sentences=24, fact_density=0.3).cache()
    raw = extract_raw_triples(pages).cache()
    mentions = mentions_from_raw(raw)
    linked = link_mentions(spark, mentions, alias_dict_df(spark, alias_rows()))
    smap = canonicalize(spark, linked)
    emitted = (
        typed_triples(raw, smap)
        .filter(F.col("predicate").isin(REL_PREDS))
        .select("subject", "predicate", "object_value")
        .dropDuplicates()
        .cache()
    )
    exp = expected_triples(spark, N, fact_density=0.3).cache()
    tp = emitted.join(exp, ["subject", "predicate", "object_value"]).count()
    n_emitted, n_expected = emitted.count(), exp.count()
    assert n_expected > 0
    assert tp / n_emitted >= 0.95, (tp, n_emitted)
    assert tp / n_expected >= 0.95, (tp, n_expected)


def test_gate_literals_sound_and_output_invariant(spark):
    """The JVM-side candidate gate must be provably lossless: (a) every
    relation regex contains its gate literal verbatim, so a text without
    any literal cannot match any pattern; (b) gated and ungated extraction
    agree exactly on a corpus where most pages are gate-negative filler."""
    from shacl_validator_spark.sources.extract import (
        PATTERN_GATE_LITERALS,
        RELATION_PATTERNS,
    )

    # (a) containment invariant, literal-for-pattern, order-aligned
    assert len(PATTERN_GATE_LITERALS) == len(RELATION_PATTERNS)
    for (_, pattern, _), lit in zip(RELATION_PATTERNS, PATTERN_GATE_LITERALS):
        assert lit in pattern, (lit, pattern)
        # the literal must be regex-inert (no metacharacters), otherwise
        # "contains the literal" would not imply "can match the pattern"
        assert not set(lit) & set(r"\^$.|?*+()[]{}"), lit

    # (b) gated ≡ ungated on a 30%-fact corpus
    pages = synthesize_pages(spark, N, filler_sentences=24, fact_density=0.3)
    gated = extract_raw_triples(pages, gate=True)
    ungated = extract_raw_triples(pages, gate=False)
    assert gated.exceptAll(ungated).count() == 0
    assert ungated.exceptAll(gated).count() == 0
    assert gated.count() > 0


def _canon_raw(pdf):
    return sorted(map(tuple, pdf.itertuples(index=False)))


def test_literal_first_kernel_equals_spec_fixed_cases():
    """_extract_batch (literal-first) must equal _extract_batch_spec
    (per-row extractall, the specification) on the structural shapes that
    exercise every branch of the finditer emulation: nested/failed infixes
    and lazy-group backtracking, missing/late subjects, non-overlap cursor
    advancement, NAME runs longer than the backward window, embedded NULs
    (the joined-buffer separator), and missing terminators."""
    import pandas as pd

    from shacl_validator_spark.sources.extract import (
        _extract_batch,
        _extract_batch_spec,
    )

    cases = [
        "Acme is located in Berlin. Acme publishes Data. Acme was founded in 1999.",
        "Acme is located in B is located in C.",      # infix inside group2
        "Acme is located in is located in X.",        # backtrack over failed infix
        "x is located in Madrid.",                    # no uppercase subject
        " is located in Madrid.",                     # no subject at all
        "Acme was founded in 19999.",                 # 5 digits: forward fails
        "Acme was founded in 1999.Acme is located in Paris.",  # adjacent matches
        "A is located in B. C is located in D.",      # cursor advancement
        "aAcme is located in Berlin.",                # subject starts mid-run
        "9Acme is located in Berlin.",                # digit before uppercase
        "Acme Corp - Ltd & Co is located in Berlin.", # full NAME class
        "Acme is located in Berlin",                  # no closing dot
        ". is located in .",                          # punctuation everywhere
        "Z" * 600 + " is located in Berlin.",         # run > backward window
        "z" + "Z" * 600 + " is located in Berlin.",   # widened window, mid-run start
        "Acme\x00is located in Berlin.",              # NUL inside one text
        "",                                           # empty text
    ]
    # single-row and all-rows-in-one-batch forms (the joined buffer must
    # keep rows independent)
    for t in cases:
        pdf = pd.DataFrame({"url": ["u0"], "text": [t]})
        assert _canon_raw(_extract_batch(pdf)) == _canon_raw(_extract_batch_spec(pdf)), t
    pdf = pd.DataFrame(
        {"url": [f"u{i}" for i in range(len(cases))], "text": cases}
    )
    assert _canon_raw(_extract_batch(pdf)) == _canon_raw(_extract_batch_spec(pdf))


def test_literal_first_kernel_equals_spec_property():
    """Hypothesis differential: arbitrary texts over an adversarial
    alphabet (relation literals, NAME-class chars, digits, terminators,
    NULs) — the fast kernel must reproduce the extractall row set exactly."""
    import os

    import pandas as pd
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    from shacl_validator_spark.sources.extract import (
        _extract_batch,
        _extract_batch_spec,
    )

    fragment = st.one_of(
        st.sampled_from(
            [
                " is located in ",
                " publishes ",
                " was founded in ",
                "Acme",
                "Acme Corp",
                "B",
                "Z9&- ",
                "1999",
                "19",
                ".",
                ". ",
                "x",
                " ",
                "\x00",
                "\n",
            ]
        ),
        st.text(alphabet="AZaz09&- .\x00", max_size=6),
    )
    texts = st.lists(
        st.lists(fragment, max_size=12).map("".join), min_size=1, max_size=6
    )

    @given(texts=texts)
    @settings(
        max_examples=int(os.environ.get("PROP_EXAMPLES", "200")),
        deadline=None,
        suppress_health_check=[HealthCheck.too_slow],
    )
    def check(texts):
        pdf = pd.DataFrame(
            {"url": [f"u{i}" for i in range(len(texts))], "text": texts}
        )
        assert _canon_raw(_extract_batch(pdf)) == _canon_raw(_extract_batch_spec(pdf))

    check()


def test_fast_kernel_long_subject_runs_match_spec():
    """Regression: subjects whose NAME-class run exceeds the 256-char
    back-search window must neither vanish nor truncate — the widening
    loop follows the run past the window edge, and the leftmost uppercase
    IN the run wins (not the leftmost uppercase in the window)."""
    import pandas as pd

    from shacl_validator_spark.sources import extract as E

    cases = [
        "X" + "a" * 300 + " is located in Object.",     # no upper in window
        "X" + "a" * 300 + "Bcd is located in Object.",  # later upper in window
        "x" + "a" * 300 + " is located in Object.",     # no upper at all
        "!" + "B" * 300 + " is located in Object.",     # run bounded by '!'
        "Z" + " " * 1000 + "Q is located in P.",        # spaces are class chars
        ("Y" * 5000) + " is located in W.",             # multiple widenings
    ]
    pdf = pd.DataFrame({"url": [f"u{i}" for i in range(len(cases))], "text": cases})
    cols = ["src_url", "subj_surface", "predicate", "obj_surface", "obj_kind"]
    spec = E._extract_batch_spec(pdf)[cols].sort_values(cols).reset_index(drop=True)
    fast = E._extract_batch(pdf)[cols].sort_values(cols).reset_index(drop=True)
    pd.testing.assert_frame_equal(spec, fast)
    # the >window subjects are present and full-length
    assert (spec["subj_surface"].str.len() > 256).sum() >= 3


def test_sentence_pruning_edge_cases(spark):
    """r4 sentence pruning: the JVM-side candidate-sentence cut must be
    invisible — including the fabricated-terminator trap (a dot-less tail
    containing an infix must NOT gain a '.') and multi-match sentences."""
    from shacl_validator_spark.sources.extract import extract_raw_triples

    rows = [
        # match in middle sentence, junk around
        ("u1", "Filler one. Acme Corp is located in Berlin. Tail junk."),
        # dot-less tail with infix: NO match may be fabricated
        ("u2", "Filler. Acme Corp is located in Berlin"),
        # two matches in one sentence-ish run + one in another
        ("u3", "A1 publishes B2. C3 was founded in 1999. noise"),
        # infix present but no valid subject (lowercase run)
        ("u4", "zzz is located in Berlin. ok."),
        # subject at very start of text (no preceding dot)
        ("u5", "Acme is located in Paris."),
        # empty + null-ish
        ("u6", ""),
    ]
    pages = spark.createDataFrame(rows, "url string, text string")
    key = lambda r: tuple(r)  # noqa: E731
    gated = sorted(map(key, extract_raw_triples(pages, gate=True).collect()))
    plain = sorted(map(key, extract_raw_triples(pages, gate=False).collect()))
    assert gated == plain
    # sanity on content: u2 yields nothing, u5 yields one
    urls = {r[0] for r in gated}
    assert "u2" not in urls and "u5" in urls


def test_fused_html_extraction_equals_two_pass(spark):
    """r5 fused kernel: extract_raw_triples_from_html(pages) must equal
    extract_text → extract_raw_triples on the same pages (synthetic corpus
    where html embeds text in the main-content template)."""
    from shacl_validator_spark.sources.extract import (
        extract_raw_triples_from_html,
        extract_text,
    )

    pages = synthesize_pages(spark, 300, fact_density=0.4).cache()
    two_pass = extract_raw_triples(
        pages.select("url", extract_text(F.col("html")).alias("text"))
    )
    fused = extract_raw_triples_from_html(pages)
    a = {tuple(r) for r in two_pass.collect()}
    b = {tuple(r) for r in fused.collect()}
    assert a == b and len(a) > 0
    pages.unpersist()


def test_fused_html_gate_is_sound_across_tags(spark):
    """The html gate tests each infix literal's single words: an infix
    whose spaces come from stripped tags — around it or inside it (no
    main-content span, so the tags→spaces fallback builds the text) — must
    still be extracted."""
    from pyspark.sql import types as T

    from shacl_validator_spark.sources.extract import (
        extract_raw_triples_from_html,
        extract_text,
    )

    rows = [
        # literal split by tags: text gets " is located in " via tag→space
        ("u1", b"Acme Corp<b>is located in</b>Berlin. trailing"),
        # tag INSIDE the infix: text gets " is located in " only after
        # the tag→space rewrite, so no multi-word infix is in the html
        ("u4", b"Acme Corp is<b>located in Berlin. trailing"),
        # plain literal inside body, no main template
        ("u2", b"Initech publishes Weekly Data. x"),
        # no relation at all — gate must drop it (and results agree)
        ("u3", b"nothing to see here"),
    ]
    pages = spark.createDataFrame(
        rows, T.StructType([
            T.StructField("url", T.StringType()),
            T.StructField("html", T.BinaryType()),
        ])
    )
    two_pass = extract_raw_triples(
        pages.select("url", extract_text(F.col("html")).alias("text"))
    )
    fused = extract_raw_triples_from_html(pages)
    a = {tuple(r) for r in two_pass.collect()}
    b = {tuple(r) for r in fused.collect()}
    assert a == b
    assert any(r[0] == "u1" for r in a), a  # the tag-split case extracted
    assert any(r[0] == "u4" for r in a), a  # the interior-tag case extracted
