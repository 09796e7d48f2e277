"""Unit tests for connected components, salted counts, and the
small-path/distributed parity of entity linking and canonicalization."""

from __future__ import annotations

from pyspark.sql import functions as F

from shacl_validator_spark.operators.components import connected_components
from shacl_validator_spark.operators.linking import salted_count


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


def test_canonicalize_small_path_matches_distributed(spark, monkeypatch):
    """``canonicalize``'s driver union-find (below ``SMALL_GRAPH_EDGES``)
    and its distributed branch (connected components + join) return the
    same rows, duplicates included."""
    from collections import Counter

    from shacl_validator_spark.operators import components
    from shacl_validator_spark.operators.linking import alias_dict_df, link_mentions
    from shacl_validator_spark.plans.pipeline import canonicalize
    from shacl_validator_spark.sources.pages import alias_rows

    org, place = "http://example.org/kg#Organization", "http://example.org/kg#Place"
    mentions = spark.createDataFrame(
        [
            ("Acme Corp", org),
            ("ACME", org),
            ("Acme Corpp", org),
            ("Madrid", place),
            ("Lisboa", place),
            ("Zzyzx Quux Entity", org),
        ],
        "surface string, ent_class string",
    )
    linked = link_mentions(spark, mentions, alias_dict_df(spark, alias_rows()))
    # the linker gives one id per surface; the same surface under a second
    # class with a different id joins both ids into one component
    linked = linked.unionByName(
        spark.createDataFrame(
            [("Madrid", org, "org:madrid")],
            "surface string, ent_class string, canonical_id string",
        )
    )
    small = Counter(tuple(r) for r in canonicalize(spark, linked).collect())
    monkeypatch.setattr(components, "SMALL_GRAPH_EDGES", 0)
    dist = Counter(tuple(r) for r in canonicalize(spark, linked).collect())
    assert small == dist
    assert small[("Madrid", place, "org:madrid")] == small[("Madrid", org, "org:madrid")] == 1
    assert small[("Acme Corpp", org, "org:acme")] == 1
    assert small[("Zzyzx Quux Entity", org, "surface:zzyzx quux entity")] == 1


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
