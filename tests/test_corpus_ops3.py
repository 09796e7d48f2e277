"""Round-3 corpus operators: chunk-level boilerplate dedup and
cross-corpus (incremental) dedup."""

from __future__ import annotations

from shacl_validator_spark.operators.dedup import chunk_dedup


def test_chunk_dedup_drops_shared_chunks(spark):
    # window=2: docs a/b share the chunk "nav bar" at position 0; doc c is
    # unique; doc d is PURE boilerplate (both its chunks shared with e)
    rows = [
        (1, "nav bar alpha beta"),
        (2, "nav bar gamma delta"),
        (3, "unique text entirely here"),
        (4, "foot er legal text"),
        (5, "foot er legal text extra"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = {
        r["doc_id"]: r
        for r in chunk_dedup(docs, window=2, max_docs=2).collect()
    }
    assert len(out) == 5  # every input doc has an output row
    assert out[1]["n_chunks"] == 2 and out[1]["n_kept"] == 1
    assert out[1]["clean_text"] == "alpha beta"
    assert out[2]["clean_text"] == "gamma delta"
    # unique doc untouched
    assert out[3]["n_kept"] == out[3]["n_chunks"] == 2
    assert out[3]["clean_text"] == "unique text entirely here"
    # doc 4 loses both chunks (shared with doc 5) -> empty survivor
    assert out[4]["n_kept"] == 0 and out[4]["clean_text"] == ""
    # doc 5's trailing PARTIAL chunk "extra" is unique and survives
    assert out[5]["n_kept"] == 1 and out[5]["clean_text"] == "extra"


def test_chunk_dedup_reassembles_in_order(spark):
    # shared chunk sits in the MIDDLE; survivors must rejoin in position order
    rows = [
        (1, "aa bb shared one cc dd"),
        (2, "xx yy shared one zz ww"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r for r in chunk_dedup(docs, window=2, max_docs=2).collect()}
    assert out[1]["clean_text"] == "aa bb cc dd"
    assert out[2]["clean_text"] == "xx yy zz ww"


# --- cross-corpus (incremental) dedup ----------------------------------------


def _snapshot_fixture(spark):
    """Reference corpus + a 'new snapshot' holding exact copies, near
    variants, and novel documents — every expected label is derivable by
    hand."""
    ref = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog near the river bank"),
            (2, "pack my box with five dozen liquor jugs for the annual county fair"),
            (3, "how vexingly quick daft zebras jump across the frozen tundra plains"),
        ],
        "doc_id long, text string",
    )
    new = spark.createDataFrame(
        [
            # exact after normalization (case + whitespace)
            (101, "The  QUICK brown fox jumps over the lazy dog near the river bank"),
            # near: one word appended to ref 2
            (102, "pack my box with five dozen liquor jugs for the annual county fair today"),
            # novel
            (103, "completely unrelated sentence about spark catalyst optimizer internals"),
            # near of ref 3: truncated tail
            (104, "how vexingly quick daft zebras jump across the frozen"),
        ],
        "doc_id long, text string",
    )
    return ref, new


def test_dedup_against_labels_all_methods(spark):
    from shacl_validator_spark.operators.dedup import dedup_against

    ref, new = _snapshot_fixture(spark)
    want = {101: "exact", 102: "near", 103: None, 104: "near"}
    for method in ("jaccard", "lsh"):
        got = {
            r["doc_id"]: r["drop_reason"]
            for r in dedup_against(new, ref, method=method, jaccard_threshold=0.5).collect()
        }
        assert got == want, method
    got_exact = {
        r["doc_id"]: r["drop_reason"]
        for r in dedup_against(new, ref, method="exact").collect()
    }
    assert got_exact == {101: "exact", 102: None, 103: None, 104: None}


def test_dedup_against_lsh_subset_of_jaccard(spark):
    """LSH labels are a subset of the exhaustive-candidate labels: every
    'near' the banded path finds, the posting path finds too (LSH can only
    MISS candidates, never invent them), and 'exact' labels agree always."""
    from shacl_validator_spark.operators.dedup import dedup_against

    # 30 docs: 10 bases, 10 light edits, 10 novel
    base = [
        f"document number {i} talks about topic {i % 3} in several plain words "
        f"plus shared boilerplate header text" for i in range(10)
    ]
    rows = [(i, t) for i, t in enumerate(base)]
    new_rows = (
        [(100 + i, t + " appended tail") for i, t in enumerate(base)]
        + [(200 + i, f"novel text {i} with fully distinct vocabulary item{i} thing{i} widget{i}")
           for i in range(10)]
    )
    ref = spark.createDataFrame(rows, "doc_id long, text string")
    new = spark.createDataFrame(new_rows, "doc_id long, text string")
    jac = {
        r["doc_id"]: r["drop_reason"]
        for r in dedup_against(new, ref, method="jaccard", jaccard_threshold=0.5).collect()
    }
    lsh = {
        r["doc_id"]: r["drop_reason"]
        for r in dedup_against(new, ref, method="lsh", jaccard_threshold=0.5).collect()
    }
    assert set(jac) == set(lsh) == {r[0] for r in new_rows}
    for k, v in lsh.items():
        if v == "exact":
            assert jac[k] == "exact"
        elif v == "near":
            assert jac[k] == "near"  # lsh near ⊆ jaccard near
    # and on this fixture recall is actually total
    assert lsh == jac


def test_dedup_against_empty_sides(spark):
    from shacl_validator_spark.operators.dedup import dedup_against

    ref, new = _snapshot_fixture(spark)
    empty = spark.createDataFrame([], "doc_id long, text string")
    # empty snapshot -> empty result
    assert dedup_against(empty, ref, method="lsh").count() == 0
    # empty reference -> everything kept
    got = {
        r["doc_id"]: r["drop_reason"]
        for r in dedup_against(new, empty, method="jaccard").collect()
    }
    assert got == {101: None, 102: None, 103: None, 104: None}


def test_chunk_dedup_preserves_case_and_null_text(spark):
    """The boilerplate gate must not lowercase the surviving text, must
    match shared chunks case-INsensitively, and must emit a row for
    NULL-text docs (one empty chunk) instead of dropping them."""
    rows = [
        (1, "NAV BAR Alpha Beta"),
        (2, "nav bar Gamma Delta"),   # shares chunk 'nav bar' modulo case
        (3, None),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r for r in chunk_dedup(docs, window=2, max_docs=2).collect()}
    assert len(out) == 3
    assert out[1]["clean_text"] == "Alpha Beta"   # casing intact
    assert out[2]["clean_text"] == "Gamma Delta"
    assert out[1]["n_kept"] == 1 and out[2]["n_kept"] == 1  # shared chunk dropped
    assert out[3]["n_chunks"] == 1 and out[3]["clean_text"] == ""
