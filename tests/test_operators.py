"""Unit tests for dedup, components, salted counts and the entity-linking
small-path/distributed parity."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from shacl_validator_spark.operators.components import connected_components
from shacl_validator_spark.operators.dedup import (
    exact_duplicates,
    minhash_lsh_pairs,
    near_dup_clusters,
    ngram_jaccard_pairs,
    simhash,
)
from shacl_validator_spark.operators.linking import salted_count


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (1, "the quick brown fox jumps over the lazy dog"),
        (2, "the quick brown fox jumps over the lazy dog"),  # exact dup of 1
        (3, "the quick brown fox jumps over a lazy dog today"),  # near dup
        (4, "completely different text about spark dataframes here"),
        (5, "another unrelated document mentioning entity linking"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string").cache()


def test_exact_duplicates(docs):
    groups = exact_duplicates(docs).collect()
    assert len(groups) == 1
    g = groups[0]
    assert g.n_docs == 2 and g.keeper == 1 and g.doc_ids == [1, 2]


def test_minhash_lsh_pairs(docs):
    pairs = {(r.id_a, r.id_b) for r in minhash_lsh_pairs(docs, jaccard_threshold=0.9).collect()}
    assert (1, 2) in pairs
    assert all(a < b for a, b in pairs)


def test_ngram_jaccard_pairs(docs):
    pairs = {(r.id_a, r.id_b): r.jaccard for r in ngram_jaccard_pairs(docs, threshold=0.3).collect()}
    assert pairs[(1, 2)] == 1.0
    assert (1, 3) in pairs  # near dup above 0.3
    assert (1, 4) not in pairs


def test_simhash_close_for_near_dups(docs):
    sh = {r.doc_id: r.simhash for r in simhash(docs).collect()}
    assert sh[1] == sh[2]

    def hamming(a, b):
        return bin((a ^ b) & 0xFFFFFFFFFFFFFFFF).count("1")

    assert hamming(sh[1], sh[3]) < hamming(sh[1], sh[4])


def test_simhash_md5_60_matches_python_reference(docs):
    """md5_60 variant (the oracle-portable token hash) vs a pure-Python
    reimplementation of the same vote — bit-exact."""
    import hashlib
    import re

    sh = {r.doc_id: r.simhash for r in simhash(docs, token_hash="md5_60").collect()}
    rows = docs.select("doc_id", "text").collect()
    for r in rows:
        norm = re.sub(r"\s+", " ", r.text.lower()).strip()
        toks = re.findall(r"[A-Za-z0-9]+(?:'[a-z]+)?", norm)
        if not toks:
            assert r.doc_id not in sh
            continue
        votes = [0] * 60
        for t in toks:
            hv = int(hashlib.md5(t.encode()).hexdigest()[:15], 16)
            for b in range(60):
                votes[b] += 1 if (hv >> b) & 1 else -1
        expect = sum(1 << b for b in range(60) if votes[b] > 0)
        assert sh[r.doc_id] == expect, r.doc_id
    # md5_60 never sets bits 60-63, so it always fits in a non-negative long
    assert all(0 <= v < (1 << 60) for v in sh.values())


def test_connected_components(spark):
    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("d", "e"), ("f", "f")],
        "src string, dst string",
    )
    comp = {r.node: r.component for r in connected_components(edges).collect()}
    assert comp["a"] == comp["b"] == comp["c"] == "a"
    assert comp["d"] == comp["e"] == "d"
    assert comp["f"] == "f"


def test_salted_count_matches_plain(spark):
    df = spark.range(0, 1000).select(
        (F.col("id") % 7).cast("string").alias("k"), F.col("id")
    )
    salted = {r.k: r.n for r in salted_count(df, "k").collect()}
    plain = {r.k: r["count"] for r in df.groupBy("k").count().collect()}
    assert salted == plain


def test_connected_components_small_path_matches_distributed(spark, monkeypatch):
    from shacl_validator_spark.operators import components

    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("d", "e"), ("f", "f"), ("c", "g")],
        "src string, dst string",
    )
    small = {
        r.node: r.component for r in connected_components(edges).collect()
    }
    monkeypatch.setattr(components, "SMALL_GRAPH_EDGES", 0)
    dist = {r.node: r.component for r in connected_components(edges).collect()}
    assert small == dist


def test_connected_components_raises_when_unconverged(spark, monkeypatch):
    """A chain longer than max_iter propagation rounds must raise, not
    silently return split components (distributed path forced)."""
    import pytest

    from shacl_validator_spark.operators import components

    monkeypatch.setattr(components, "SMALL_GRAPH_EDGES", 0)
    chain = [(f"n{i:02d}", f"n{i+1:02d}") for i in range(15)]
    edges = spark.createDataFrame(chain, "src string, dst string")
    with pytest.raises(RuntimeError, match="did not converge"):
        components.connected_components(edges, max_iter=3).collect()
    ok = components.connected_components(edges, max_iter=20)
    assert ok.select("component").distinct().count() == 1

def test_link_mentions_small_path_matches_distributed(spark, monkeypatch):
    from shacl_validator_spark.operators import linking
    from shacl_validator_spark.operators.linking import alias_dict_df, link_mentions
    from shacl_validator_spark.sources.pages import alias_rows

    mentions = spark.createDataFrame(
        [
            ("Acme Corp", "http://example.org/kg#Organization"),
            ("Acme Corpp", "http://example.org/kg#Organization"),
            ("Madrid", "http://example.org/kg#Place"),
            ("Zzyzx Quux Entity", "http://example.org/kg#Organization"),
        ],
        "surface string, ent_class string",
    )
    adict = alias_dict_df(spark, alias_rows())
    small = {
        (r.surface, r.ent_class): r.canonical_id
        for r in link_mentions(spark, mentions, adict).collect()
    }
    monkeypatch.setattr(linking, "SMALL_SURFACE_SET", 0)
    dist = {
        (r.surface, r.ent_class): r.canonical_id
        for r in link_mentions(spark, mentions, adict).collect()
    }
    # exact-Jaccard small path must agree with the LSH path on resolved
    # surfaces; LSH may only MISS candidates (approximate blocking)
    for k, cid in dist.items():
        if not cid.startswith("surface:"):
            assert small[k] == cid
    assert small[("Acme Corp", "http://example.org/kg#Organization")] == "org:acme"
    assert small[("Zzyzx Quux Entity", "http://example.org/kg#Organization")].startswith("surface:")


def test_lsh_hot_bucket_guard(spark):
    """VERDICT r3 #4: a boilerplate bucket (many docs sharing every band)
    is dropped from candidate generation instead of going quadratic."""
    from shacl_validator_spark.operators.dedup import minhash_lsh_pairs

    boiler = [(i, "identical boilerplate header text repeated verbatim " * 5)
              for i in range(200)]
    normal = [
        (1000, "a unique document about spark adaptive execution plans"),
        (1001, "a unique document about spark adaptive execution strategy"),
    ]
    docs = spark.createDataFrame(boiler + normal, "doc_id long, text string")
    pairs = {
        (r.id_a, r.id_b)
        for r in minhash_lsh_pairs(docs, jaccard_threshold=0.5, max_bucket=50).collect()
    }
    # the 200-doc boilerplate bucket (19 900 pairs) is guarded away; the
    # normal near-dup pair survives because its buckets are small
    assert (1000, 1001) in pairs
    assert not any(a < 200 and b < 200 for a, b in pairs)


def test_minhash_big_set_verify_path_equivalent(docs):
    """The exploded posting-join verify (big shingle sets) must produce
    byte-identical jaccard results to the in-row array path."""
    from shacl_validator_spark.operators.dedup import minhash_lsh_pairs

    small = {
        (r.id_a, r.id_b, r.jaccard)
        for r in minhash_lsh_pairs(docs, jaccard_threshold=0.3).collect()
    }
    forced_big = {
        (r.id_a, r.id_b, r.jaccard)
        for r in minhash_lsh_pairs(
            docs, jaccard_threshold=0.3, big_set_threshold=1
        ).collect()
    }
    assert small == forced_big and small


def test_near_dup_clusters_transitive_and_pad_safe(spark):
    # ids straddle a digit-length boundary: a lexicographic (unpadded) min
    # would pick 1000005 over 999 — the operator must return the numeric min
    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa " * 6
    docs = spark.createDataFrame(
        [(999, base), (1000005, base), (2000005, base), (7, "totally unrelated words here " * 8)],
        "doc_id long, text string",
    )
    out = near_dup_clusters(docs, jaccard_threshold=0.999).collect()
    assert len(out) == 1  # the singleton doc 7 is implicitly kept, not listed
    row = out[0]
    assert row["cluster_id"] == 999
    assert row["n_members"] == 3
    assert row["members"] == [999, 1000005, 2000005]
