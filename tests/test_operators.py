"""Unit tests for dedup, similarity, components, salted counts, analytics,
and multimodal plumbing."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from shacl_validator_spark.operators.components import connected_components
from shacl_validator_spark.operators.dedup import (
    exact_duplicates,
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
    simhash,
)
from shacl_validator_spark.operators.linking import salted_count
from shacl_validator_spark.operators.similarity import brute_force_topk, lsh_topk


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


def test_brute_force_topk_and_lsh(spark):
    import math

    rows = []
    for i in range(50):
        angle = i / 50 * math.pi
        rows.append((i, [float(math.cos(angle)), float(math.sin(angle)), 0.0, 0.0]))
    vecs = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    queries = vecs.filter(F.col("vec_id") == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    top = brute_force_topk(vecs.filter(F.col("vec_id") > 0), queries, k=3).collect()
    assert [r.vec_id for r in top] == [1, 2, 3]  # nearest angles
    approx = lsh_topk(vecs.filter(F.col("vec_id") > 0), queries, k=3, dim=4).collect()
    assert len(approx) <= 3
    assert all(r.cos > 0.5 for r in approx)


def test_multimodal_features(spark):
    from shacl_validator_spark.sources.multimodal import (
        extract_features,
        resize_images,
        sample_frames,
    )

    rows = [
        (1, "image", b"\x89PNGfake", {"mime": "image/png", "width": 8, "height": 8, "duration_ms": None}),
        (2, "video", b"\x00\x00ftypfake", {"mime": "video/mp4", "width": 16, "height": 16, "duration_ms": 3500}),
    ]
    media = spark.createDataFrame(
        rows,
        "media_id long, kind string, payload binary, "
        "meta struct<mime:string,width:int,height:int,duration_ms:long>",
    )
    feats = extract_features(media, dim=8).collect()
    assert {f.media_id for f in feats} == {1, 2}
    assert all(len(f.feature) == 8 for f in feats)
    # deterministic
    feats2 = extract_features(media, dim=8).collect()
    assert {f.media_id: f.feature for f in feats} == {f.media_id: f.feature for f in feats2}

    resized = resize_images(media, 4, 4).collect()
    assert all(r.meta.width == 4 for r in resized)

    frames = sample_frames(media, every_ms=1000).collect()
    assert [f.ts_ms for f in frames] == [0, 1000, 2000, 3000]


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


def test_ivf_full_probe_equals_brute_force(spark):
    """nprobe == nlist probes every cell, so IVF must reproduce exact
    brute-force top-k bit-for-bit — pins codebook assignment + probing +
    scoring regardless of k-means quality."""
    from shacl_validator_spark.operators.similarity import brute_force_topk, ivf_topk

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    queries = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    base = emb.filter(F.col("vec_id") >= 3)
    bf = {tuple(r) for r in brute_force_topk(base, queries, k=5).collect()}
    ivf = {
        tuple(r)
        for r in ivf_topk(base, queries, k=5, nlist=4, nprobe=4, iters=1).collect()
    }
    assert ivf == bf


def test_ivf_pruned_probe_scores_correctly(spark):
    """With nprobe < nlist the result is a subset of the scored universe:
    ≤ k rows per query and every returned cosine matches the exact score."""
    from shacl_validator_spark.operators.similarity import brute_force_topk, ivf_topk

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    queries = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    base = emb.filter(F.col("vec_id") >= 3)
    rows = ivf_topk(base, queries, k=5, nlist=8, nprobe=2, iters=2).collect()
    per_q: dict = {}
    for r in rows:
        per_q.setdefault(r.query_id, []).append(r)
    assert per_q and all(len(v) <= 5 for v in per_q.values())
    exact = {
        (r.query_id, r.vec_id): r.cos
        for r in brute_force_topk(base, queries, k=10**6).collect()
    }
    assert all(abs(exact[(r.query_id, r.vec_id)] - r.cos) < 1e-9 for r in rows)


def _len_mod7_kernel(payload: bytes, dim: int) -> list[float]:
    return [float(len(payload) % 7)] * dim


def test_multimodal_kernel_selection_seam(spark):
    """select_kernel picks the real library kernel when importable, the
    deterministic fake otherwise (sandbox: Pillow absent → fake), and an
    injected override flows through the Arrow stage end-to-end."""
    from shacl_validator_spark.sources.multimodal import (
        extract_features,
        select_kernel,
        synthesize_media,
    )

    # default is the deterministic fake EVERYWHERE (oracle contract) —
    # real kernels require the caller's use_real opt-in
    assert select_kernel("image")[0] == "fake"
    assert select_kernel("audio", use_real=True)[0] == "fake"  # no audio factory
    # opt-in resolves to the real kernel iff its library imports (sandbox:
    # no Pillow → fake; a Pillow-equipped host → real)
    assert select_kernel("image", use_real=True)[0] in ("real", "fake")
    assert select_kernel("image", override=_len_mod7_kernel)[0] == "override"

    media = synthesize_media(spark, "/root/testdata/sf0.001").limit(6)
    rows = extract_features(media, dim=4, kernel_override=_len_mod7_kernel).collect()
    assert rows and all(len(r.feature) == 4 for r in rows)
    assert all(abs(r.feature[0] - (r.n_bytes % 7)) < 1e-6 for r in rows)


def test_multimodal_plumbing(spark, tmp_path):
    """Media schema, Arrow batch shapes, and stubbed kernels round-trip;
    decode is a deterministic fake (sandbox has no media libs) but the
    Spark-side plumbing is real (SURVEY.md training-data ops)."""
    from shacl_validator_spark.sources.multimodal import (
        extract_features,
        resize_images,
        sample_frames,
        synthesize_media,
    )

    media = synthesize_media(spark, "/root/testdata/sf0.001").cache()
    feats = extract_features(media, dim=8)
    row = feats.orderBy("media_id").first()
    assert len(row.feature) == 8 and row.n_bytes > 0
    # determinism: same payload → same feature vector
    again = extract_features(media, dim=8).orderBy("media_id").first()
    assert row.feature == again.feature

    resized = resize_images(media.limit(5), 128, 96).collect()
    assert all(r.meta.width == 128 and r.meta.height == 96 for r in resized)

    frames = sample_frames(media)
    per_video = frames.groupBy("media_id").count().collect()
    assert per_video and all(1 <= r["count"] <= 10 for r in per_video)


def test_cosine_near_dup_lsh_blocks_subset_of_exact(spark):
    from shacl_validator_spark.operators.similarity import cosine_near_dup_pairs

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet").select(
        "vec_id", "embedding"
    )
    doubled = emb.unionByName(
        emb.select((F.col("vec_id") + 1000000).alias("vec_id"), "embedding")
    )
    exact = {
        (r.id_a, r.id_b)
        for r in cosine_near_dup_pairs(doubled, 0.9, exact=True).collect()
    }
    blocked = {
        (r.id_a, r.id_b) for r in cosine_near_dup_pairs(doubled, 0.9).collect()
    }
    # LSH blocking may miss pairs but never invents them; identical copies
    # (cos = 1.0) always share every hyperplane bucket
    assert blocked <= exact
    identical = {(r.vec_id, r.vec_id + 1000000) for r in emb.collect()}
    assert identical <= blocked


def test_cosine_near_dup_banded_recall(spark):
    """VERDICT r3 #3 done-criteria: banded multi-table blocking keeps
    embedding near-dup green AND reaches high recall vs exact at 0.95 with
    bounded bucket sizes (expected recall 1-(1-p^r)^b ≈ 0.986)."""
    from shacl_validator_spark.operators.similarity import cosine_near_dup_pairs

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet").select(
        "vec_id", "embedding"
    )
    # perturbed copies: scale each component slightly so cos stays ≈ 1
    near = emb.select(
        (F.col("vec_id") + 1000000).alias("vec_id"),
        F.transform("embedding", lambda x: x * 1.01 + 0.001).alias("embedding"),
    )
    corpus = emb.unionByName(near)
    exact = {
        (r.id_a, r.id_b)
        for r in cosine_near_dup_pairs(corpus, 0.95, exact=True).collect()
    }
    blocked = {
        (r.id_a, r.id_b) for r in cosine_near_dup_pairs(corpus, 0.95).collect()
    }
    assert blocked <= exact
    assert exact, "fixture must produce near-dup pairs"
    recall = len(blocked) / len(exact)
    assert recall >= 0.9, f"banded recall {recall:.3f} below bound"


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


def test_quantize_embeddings_reconstruction_and_topk(spark):
    """int8 quantization: per-component reconstruction error is bounded by
    scale/2, zero vectors survive, and quantized cosine top-1 agrees with
    exact top-1 on well-separated synthetic clusters."""
    import math
    import random

    from shacl_validator_spark.operators.similarity import quantize_embeddings

    rng = random.Random(7)
    rows = []
    for i in range(60):
        base = [0.0] * 8
        base[i % 4] = 1.0  # four well-separated directions
        rows.append((i, [b + rng.uniform(-0.05, 0.05) for b in base]))
    rows.append((999, [0.0] * 8))  # zero vector
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    q = quantize_embeddings(df).collect()
    by_id = {r["vec_id"]: r for r in q}
    assert by_id[999]["q_vec"] == [0] * 8 and by_id[999]["q_scale"] == 0.0
    for r in q:
        if r["vec_id"] == 999:
            continue
        s = r["q_scale"]
        assert s > 0
        for orig, qi in zip(r["embedding"], r["q_vec"]):
            assert abs(orig - qi * s) <= s / 2 + 1e-9
            assert -127 <= qi <= 127
    # top-1 neighbour by quantized dot == by exact dot for a probe vector
    def top1(vecs):
        probe = [1.0, 0, 0, 0, 0, 0, 0, 0]
        scored = [
            (sum(p * v for p, v in zip(probe, vec)) / (math.sqrt(sum(v * v for v in vec)) or 1), i)
            for i, vec in vecs
        ]
        return max(scored)[1]

    exact = top1([(r["vec_id"], list(r["embedding"])) for r in q if r["vec_id"] != 999])
    quant = top1(
        [(r["vec_id"], [x * r["q_scale"] for x in r["q_vec"]]) for r in q if r["vec_id"] != 999]
    )
    assert exact == quant


def test_embedding_hygiene_flags(spark):
    from shacl_validator_spark.operators.similarity import embedding_hygiene

    vecs = spark.createDataFrame(
        [
            (1, [3.0, 4.0]),          # ok, norm 5
            (2, None),                # null_vec
            (3, [1.0]),               # bad_dim
            (4, [float("nan"), 1.0]), # non_finite
            (5, [0.0, 0.0]),          # zero_norm
            (6, [1e20, 1e20]),        # big_norm
        ],
        "vec_id long, embedding array<float>",
    )
    rows = {r["vec_id"]: r for r in embedding_hygiene(vecs, expect_dim=2).collect()}
    assert rows[1]["flag"] == "ok" and abs(rows[1]["norm"] - 5.0) < 1e-9
    assert rows[2]["flag"] == "null_vec" and rows[2]["norm"] is None
    assert rows[3]["flag"] == "bad_dim"
    assert rows[4]["flag"] == "non_finite" and rows[4]["norm"] is None
    assert rows[5]["flag"] == "zero_norm"
    assert rows[6]["flag"] == "big_norm"
    # dim check disabled -> wrong-dim vector falls through to the norm path
    no_dim = {r["vec_id"]: r for r in embedding_hygiene(vecs).collect()}
    assert no_dim[3]["flag"] == "ok"
