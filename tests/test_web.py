"""URL canonicalization + host-cap operators (operators/web.py).

Covers the hand-written normalization contract on adversarial URLs, the
two-phase salted host_cap's equality with a plain per-host window, and
url_dedup keeper semantics."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from shacl_validator_spark.operators.web import (
    host_cap,
    host_of,
    normalize_url,
    url_dedup,
)

CASES = [
    # (raw, expected canonical)
    ("  HTTP://WWW.Ex.COM:80/a/b/?utm_source=x#f  ", "http://www.ex.com/a/b"),
    ("https://h:443/p?b=1&a=2&utm_campaign=z", "https://h/p?a=2&b=1"),
    ("https://h/?utm_source=1", "https://h"),
    ("http://h:8080/x", "http://h:8080/x"),  # non-default port kept
    ("https://h/p?fbclid=1&gclid=2", "https://h/p"),
    ("https://H", "https://h"),
    ("https://h/p?a=1#frag?not-a-query", "https://h/p?a=1"),
    ("https://h/p?utm_x&a=1", "https://h/p?a=1"),  # valueless tracking param
    ("https://h/P/Q?A=1", "https://h/P/Q?A=1"),  # path/query case significant
    ("http://h:443/x", "http://h:443/x"),  # 443 is not http's default
]


def test_normalize_url_contract(spark):
    df = spark.createDataFrame([(i, r) for i, (r, _) in enumerate(CASES)], "i long, raw string")
    got = {
        r["i"]: r["norm"]
        for r in df.withColumn("norm", normalize_url(F.col("raw"))).collect()
    }
    for i, (raw, want) in enumerate(CASES):
        assert got[i] == want, f"{raw!r}: {got[i]!r} != {want!r}"


def test_host_of(spark):
    df = spark.createDataFrame(
        [("https://a.b.c/x?q=1",), ("http://h:8080/y",)], "u string"
    )
    assert [r["h"] for r in df.withColumn("h", host_of(F.col("u"))).collect()] == [
        "a.b.c",
        "h",
    ]


def _skewed_hosts(spark):
    # one hot host (60 rows), several cold ones (3 rows each — below cap)
    rows = [(i, "hot.example.com") for i in range(60)]
    rows += [(100 + 10 * h + j, f"cold{h}.example.com") for h in range(5) for j in range(3)]
    return spark.createDataFrame(rows, "doc_id long, host string")


def test_host_cap_equals_single_window(spark):
    d = _skewed_hosts(spark)
    got = host_cap(d, cap=5, n_salts=8)
    w = Window.partitionBy("host").orderBy("doc_id")
    want = (
        d.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= 5)
        .drop("_rn")
    )
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))
    # hot host capped at 5 smallest ids; cold hosts untouched
    kept = sorted(r["doc_id"] for r in got.filter(F.col("host") == "hot.example.com").collect())
    assert kept == [0, 1, 2, 3, 4]
    assert got.count() == 5 + 5 * 3


def test_host_cap_cap_one_and_validation(spark):
    d = _skewed_hosts(spark)
    assert host_cap(d, cap=1).count() == 6  # one keeper per host
    with pytest.raises(ValueError):
        host_cap(d, cap=0)


def test_url_dedup_keeper(spark):
    d = spark.createDataFrame(
        [(7, "u1"), (3, "u1"), (9, "u2")], "doc_id long, norm_url string"
    )
    got = {r["norm_url"]: (r["keeper_id"], r["n_docs"]) for r in url_dedup(d).collect()}
    assert got == {"u1": (3, 2), "u2": (9, 1)}


def test_host_of_userinfo_and_port(spark):
    """userinfo must not be mistaken for the host (per-host capping would
    otherwise key on the userinfo token)."""
    df = spark.createDataFrame(
        [
            ("https://alice@example.com/x",),
            ("https://alice:pw@example.com:8443/x",),
            ("http://plain.example.org/y?q=1",),
        ],
        "u string",
    )
    assert [r["h"] for r in df.withColumn("h", host_of(F.col("u"))).collect()] == [
        "example.com",
        "example.com",
        "plain.example.org",
    ]
