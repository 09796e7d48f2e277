"""Property-based differential test for ``chunk_dedup`` vs an independent
pure-Python reference on randomized corpora (tiny alphabet so chunk
collisions actually occur)."""

from __future__ import annotations

import os
import re

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from shacl_validator_spark.operators.dedup import chunk_dedup

word_st = st.sampled_from(["aa", "bb", "cc", "dd", "Aa", "BB"])
text_st = st.lists(word_st, min_size=1, max_size=9).map(" ".join)
corpus_st = st.lists(text_st, min_size=1, max_size=6)


def ref_chunk_dedup(texts: list[str], window: int, max_docs: int):
    # chunk CONTENT case-preserving, frequency KEY lowercased — the
    # operator's contract
    chunks_per_doc = []
    for t in texts:
        toks = re.sub(r"\s+", " ", t).strip().split(" ")
        chunks_per_doc.append(
            [
                " ".join(toks[i * window : (i + 1) * window])
                for i in range((len(toks) - 1) // window + 1)
            ]
        )
    ndocs: dict[str, set[int]] = {}
    for d, chunks in enumerate(chunks_per_doc):
        for c in chunks:
            ndocs.setdefault(c.lower(), set()).add(d)
    out = {}
    for d, chunks in enumerate(chunks_per_doc):
        kept = [c for c in chunks if len(ndocs[c.lower()]) < max_docs]
        out[d] = (len(chunks), len(kept), " ".join(kept))
    return out


@given(corpus=corpus_st, window=st.integers(1, 3), max_docs=st.integers(2, 3))
@settings(
    max_examples=int(os.environ.get("PROP_EXAMPLES", "25")),
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)
def test_chunk_dedup_matches_reference(spark, corpus, window, max_docs):
    docs = spark.createDataFrame(
        list(enumerate(corpus)), "doc_id long, text string"
    )
    got = {
        r["doc_id"]: (r["n_chunks"], r["n_kept"], r["clean_text"])
        for r in chunk_dedup(docs, window=window, max_docs=max_docs).collect()
    }
    assert got == ref_chunk_dedup(corpus, window, max_docs)
