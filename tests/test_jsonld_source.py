"""Distributed JSON-LD source (sources/jsonld.py): multi-file mapInPandas
path, JSON-Lines within-file-splittable path, and blank-node scoping —
compared against the driver parser on identical content."""

from __future__ import annotations

import json
import os
import tempfile
from collections import Counter

from shacl_validator_spark.sources.jsonld import read_jsonld
from shacl_validator_spark.sources.rdf_io import triples_from_jsonld

DOC_A = [
    {
        "@id": "http://ex.org/c1",
        "@type": ["http://ex.org/Cust"],
        "http://ex.org/name": [{"@value": "Alice", "@language": "en"}],
        "http://ex.org/bal": [
            {"@value": "10.5", "@type": "http://www.w3.org/2001/XMLSchema#decimal"}
        ],
        "http://ex.org/knows": [{"@id": "http://ex.org/c2"}],
    },
    {
        "@id": "http://ex.org/c2",
        "http://ex.org/name": [{"@value": "Bo\"b"}],
        "http://ex.org/addr": [
            {"@id": "_:a1", "http://ex.org/city": [{"@value": "Paris"}]}
        ],
    },
]

DOC_B = [
    {"@id": "http://ex.org/d1", "@type": ["http://ex.org/Org"],
     "http://ex.org/label": [{"@value": "Órg"}]},
    {"@id": "http://ex.org/d2", "http://ex.org/ref": [{"@id": "http://ex.org/d1"}]},
]


def _key_set(df):
    out = set()
    for r in df.collect():
        s = "<bnode>" if r.subject.startswith("_:") else r.subject
        o = "<bnode>" if r.object_type == "bnode" else r.object_value
        out.add((s, r.predicate, o, r.object_type, r.object_datatype, r.object_lang))
    return out


def test_multi_file_matches_driver(spark):
    d = tempfile.mkdtemp(prefix="jld_multi_")
    with open(os.path.join(d, "a.jsonld"), "w") as f:
        json.dump(DOC_A, f)
    with open(os.path.join(d, "b.jsonld"), "w") as f:
        json.dump(DOC_B, f)
    got = read_jsonld(spark, d, graph="g")
    want = triples_from_jsonld(spark, DOC_A, graph="g").unionByName(
        triples_from_jsonld(spark, DOC_B, graph="g")
    )
    assert _key_set(got) == _key_set(want)
    assert got.count() == want.count()


def test_labeled_bnodes_file_scoped(spark):
    """Same _:x label in two part files → TWO nodes (RDF 1.1 document
    scoping), with within-file linkage preserved."""
    t1 = [{"@id": "_:x", "http://ex.org/p": [{"@value": "one"}]},
          {"@id": "http://ex.org/s1", "http://ex.org/r": [{"@id": "_:x"}]}]
    t2 = [{"@id": "_:x", "http://ex.org/p": [{"@value": "two"}]},
          {"@id": "http://ex.org/s2", "http://ex.org/r": [{"@id": "_:x"}]}]
    d = tempfile.mkdtemp(prefix="jld_bn_")
    with open(os.path.join(d, "a.jsonld"), "w") as f:
        json.dump(t1, f)
    with open(os.path.join(d, "b.jsonld"), "w") as f:
        json.dump(t2, f)
    rows = read_jsonld(spark, d, graph="g").collect()
    bnode_subjects = {r.subject for r in rows if r.subject.startswith("_:")}
    assert len(bnode_subjects) == 2, bnode_subjects
    by_lit = {r.object_value: r.subject for r in rows if r.object_type == "literal"}
    links = {r.object_value for r in rows if r.object_type == "bnode"}
    assert links == bnode_subjects
    assert by_lit["one"] != by_lit["two"]


def test_jsonlines_path(spark):
    """NDJSON layout: one node object per line — splittable within one
    file; results equal the array-form driver parse."""
    d = tempfile.mkdtemp(prefix="jld_nd_")
    p = os.path.join(d, "dump.jsonl")
    nodes = DOC_A + DOC_B
    with open(p, "w") as f:
        for n in nodes:
            f.write(json.dumps(n) + "\n")
    got = read_jsonld(spark, p, graph="g", lines=True)
    want = triples_from_jsonld(spark, nodes, graph="g")
    assert _key_set(got) == _key_set(want)
    assert got.count() == want.count()


def test_jsonlines_bnode_scoping(spark):
    """JSON-Lines: labeled _:x ids MEET across lines of one file; @id-less
    (anonymous) node objects are DISTINCT nodes even when byte-identical."""
    d = tempfile.mkdtemp(prefix="jld_ndb_")
    p = os.path.join(d, "dump.jsonl")
    lines = [
        {"@id": "_:hub", "http://ex.org/p": [{"@value": "hub"}]},
        {"@id": "http://ex.org/s1", "http://ex.org/r": [{"@id": "_:hub"}]},
        {"@id": "http://ex.org/s2", "http://ex.org/r": [{"@id": "_:hub"}]},
        # two identical anonymous nodes → two distinct subjects
        {"http://ex.org/anon": [{"@value": "v"}]},
        {"http://ex.org/anon": [{"@value": "v"}]},
    ]
    with open(p, "w") as f:
        for n in lines:
            f.write(json.dumps(n) + "\n")
    rows = read_jsonld(spark, p, graph="g", distinct=False, lines=True).collect()
    hubs = {r.object_value for r in rows if r.object_type == "bnode"}
    hub_subj = {r.subject for r in rows if r.predicate == "http://ex.org/p"}
    assert len(hubs) == 1 and hubs == hub_subj
    anon_subjects = {r.subject for r in rows if r.predicate == "http://ex.org/anon"}
    assert len(anon_subjects) == 2, anon_subjects


def test_jsonlines_ids_independent_of_split_layout(spark):
    """JSON-Lines: generated bnode ids (and so MERGE keys) must not depend
    on how the file is split — one file read whole and read in many
    ``maxPartitionBytes`` splits yields the identical relation, with
    byte-identical anonymous lines still distinct."""
    d = tempfile.mkdtemp(prefix="jld_split_")
    p = os.path.join(d, "dump.jsonl")
    anon = {"http://ex.org/anon": [{"@value": "v"}]}
    with open(p, "w") as f:
        for i in range(30):
            node = {
                "@id": f"http://ex.org/s{i}",
                "http://ex.org/addr": [{"http://ex.org/n": [{"@value": str(i)}]}],
            }
            f.write(json.dumps(node) + "\n")
            if i % 10 == 0:
                f.write(json.dumps(anon) + "\n")
    key = "spark.sql.files.maxPartitionBytes"
    old = spark.conf.get(key)

    def read():
        df = read_jsonld(spark, p, graph="g", distinct=False, lines=True)
        return Counter(tuple(r) for r in df.collect())

    try:
        spark.conf.set(key, str(os.path.getsize(p) * 2))
        assert spark.read.text(p).rdd.getNumPartitions() == 1
        whole = read()
        spark.conf.set(key, "256")
        assert spark.read.text(p).rdd.getNumPartitions() > 4
        split = read()
    finally:
        spark.conf.set(key, old)
    assert whole == split
    anon_subjects = {r[0] for r in whole if r[1] == "http://ex.org/anon"}
    assert len(anon_subjects) == 3, anon_subjects


def test_array_wrapped_jsonlines(spark):
    """Exporters often wrap NDJSON in '[' … ']' with trailing commas —
    the line kernel strips both."""
    d = tempfile.mkdtemp(prefix="jld_wrap_")
    p = os.path.join(d, "dump.jsonl")
    with open(p, "w") as f:
        f.write("[\n")
        f.write(json.dumps(DOC_B[0]) + ",\n")
        f.write(json.dumps(DOC_B[1]) + "\n")
        f.write("]\n")
    got = read_jsonld(spark, p, graph="g", lines=True)
    want = triples_from_jsonld(spark, DOC_B, graph="g")
    assert _key_set(got) == _key_set(want)


def test_empty_dir(spark):
    d = tempfile.mkdtemp(prefix="jld_empty_")
    assert read_jsonld(spark, d).count() == 0
