"""Structured-Streaming skin smoke: the foreachBatch wrapper runs the same
validate+MERGE per micro-batch with exactly-once via MERGE idempotence
(SURVEY.md §2.9/§7.4)."""

from __future__ import annotations

from shacl_validator_spark.model import PAGES_SCHEMA
from shacl_validator_spark.sources.pages import synthesize_pages
from shacl_validator_spark.streaming import validated_stream_writer


def test_stream_foreachbatch(spark, tmp_path):
    src = str(tmp_path / "pages_src")
    out = str(tmp_path / "kg_out")
    ckpt = str(tmp_path / "ckpt")
    synthesize_pages(spark, 60).write.mode("overwrite").parquet(src)

    stream = spark.readStream.schema(PAGES_SCHEMA).parquet(src)
    q = (
        validated_stream_writer(spark, stream, out, checkpoint_dir=ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    merged = spark.read.parquet(f"{out}/triples")
    n1 = merged.count()
    assert n1 > 0

    # restart over the same source: offsets consumed, nothing re-inserted
    q2 = (
        validated_stream_writer(spark, stream, out, checkpoint_dir=ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q2.awaitTermination(300)
    assert spark.read.parquet(f"{out}/triples").count() == n1


def test_ntriples_stream_validate_merge(spark, tmp_path):
    """Streaming dump ingestion: NT files land → parse (JVM grammar) →
    validate → conformant-only MERGE; re-delivered content inserts nothing
    (MERGE-key idempotence)."""
    from shacl_validator_spark.streaming.stream import (
        ntriples_stream,
        validated_triples_stream_writer,
    )

    landing = tmp_path / "landing"
    landing.mkdir()
    out = str(tmp_path / "nt_out")
    ckpt = str(tmp_path / "nt_ckpt")
    nt = (
        "<http://ex.org/good> <http://www.w3.org/1999/02/22-rdf-syntax-ns#type> <http://ex.org/T> .\n"
        '<http://ex.org/good> <http://ex.org/name> "ok" .\n'
        "<http://ex.org/bad> <http://www.w3.org/1999/02/22-rdf-syntax-ns#type> <http://ex.org/T> .\n"
    )
    (landing / "a.nt").write_text(nt, encoding="utf-8")
    rows = [
        {
            "constraint_id": 1,
            "shape_iri": "ex:TShape",
            "target_class": "http://ex.org/T",
            "path": "http://ex.org/name",
            "path_steps": [["http://ex.org/name"]],
            "min_count": 1,
            "severity": "Violation",
        }
    ]
    stream = ntriples_stream(spark, str(landing), graph="http://src.example/dump")
    q = (
        validated_triples_stream_writer(spark, stream, out, rows, checkpoint_dir=ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    merged = spark.read.parquet(f"{out}/triples")
    subs = {r.subject for r in merged.select("subject").dropDuplicates().collect()}
    assert subs == {"http://ex.org/good"}  # violating focus filtered out
    n1 = merged.count()
    reports = spark.read.parquet(f"{out}/reports/epoch=0")
    assert reports.count() == 1 and reports.collect()[0].focusNode == "http://ex.org/bad"

    # re-deliver the same content as a NEW file: new offsets, zero inserts
    (landing / "b.nt").write_text(nt, encoding="utf-8")
    q2 = (
        validated_triples_stream_writer(spark, stream, out, rows, checkpoint_dir=ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q2.awaitTermination(300)
    assert spark.read.parquet(f"{out}/triples").count() == n1
