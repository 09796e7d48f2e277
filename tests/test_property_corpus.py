"""Property-based differential tests for the round-3 corpus operators:
``chunk_dedup`` and ``unigram_logprob`` vs independent pure-Python
references on randomized corpora (tiny alphabet so chunk/token collisions
actually occur)."""

from __future__ import annotations

import math
import os
import re

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from shacl_validator_spark.functions.text import TOKEN_PATTERN
from shacl_validator_spark.operators.dedup import chunk_dedup
from shacl_validator_spark.operators.quality import unigram_logprob

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


def ref_unigram_logprob(texts: list[str]):
    tok_re = re.compile(TOKEN_PATTERN)
    doc_toks = [tok_re.findall(t.lower()) for t in texts]
    freq: dict[str, int] = {}
    for toks in doc_toks:
        for t in toks:
            freq[t] = freq.get(t, 0) + 1
    total = sum(freq.values())
    out = {}
    for d, toks in enumerate(doc_toks):
        if not toks:
            continue  # no token rows -> doc absent from the aggregation
        lp = sum(math.log(freq[t] / total) for t in toks) / len(toks)
        out[d] = (len(toks), round(lp, 6))
    return out


@given(corpus=corpus_st)
@settings(
    max_examples=int(os.environ.get("PROP_EXAMPLES", "25")),
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)
def test_unigram_logprob_matches_reference(spark, corpus):
    docs = spark.createDataFrame(
        list(enumerate(corpus)), "doc_id long, text string"
    )
    got = {
        r["doc_id"]: (r["n_tokens"], round(r["logprob"], 6))
        for r in unigram_logprob(docs).collect()
    }
    exp = ref_unigram_logprob(corpus)
    assert set(got) == set(exp)
    for d in exp:
        assert got[d][0] == exp[d][0]
        assert math.isclose(got[d][1], exp[d][1], abs_tol=2e-6)


# --- round-3 late addition: bpe_encode -------------------------------------

merge_st = st.lists(
    st.tuples(
        st.sampled_from(["a", "b", "aa", "ab", "ba", "bb"]),
        st.sampled_from(["a", "b", "aa", "ab", "ba", "bb"]),
    ),
    min_size=1,
    max_size=5,
)
bpe_word_st = st.text(alphabet="ab", min_size=1, max_size=6)
bpe_text_st = st.lists(bpe_word_st, min_size=0, max_size=6).map(" ".join)
bpe_corpus_st = st.lists(bpe_text_st, min_size=1, max_size=4)


def ref_bpe_encode(text: str, merges):
    toks = re.findall(TOKEN_PATTERN, text.lower())
    out = []
    for w in toks:
        syms = list(w)
        for lhs, rhs in merges:
            acc = []
            for x in syms:
                if acc and acc[-1] == lhs and x == rhs:
                    acc[-1] = lhs + rhs
                else:
                    acc.append(x)
            syms = acc
        out += syms
    return out


@given(corpus=bpe_corpus_st, merges=merge_st, batch=st.sampled_from([None, 1, 2]))
@settings(
    max_examples=int(os.environ.get("PROP_EXAMPLES", "15")),
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)
def test_bpe_encode_matches_reference(spark, tmp_path_factory, corpus, merges, batch):
    from shacl_validator_spark.operators.quality import bpe_encode

    docs = spark.createDataFrame(list(enumerate(corpus)), "doc_id long, text string")
    scratch = (
        str(tmp_path_factory.mktemp("bpe_prop")) if batch is not None else None
    )
    got = {
        r["doc_id"]: r["pieces"]
        for r in bpe_encode(
            docs, merges, batch_size=batch, scratch_dir=scratch
        ).collect()
    }
    assert got == {d: ref_bpe_encode(t, merges) for d, t in enumerate(corpus)}
