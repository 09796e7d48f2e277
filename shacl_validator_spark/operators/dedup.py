"""Deduplication operators for training-data pipelines.

Exact, MinHash-LSH, SimHash, and n-gram-Jaccard near-dup detection over a
document table — the large-scale corpus-hygiene layer on top of the
reference's quad set-semantics (SURVEY.md §2.6 U3/U4).

Scale notes:
- exact dedup is one hash-groupBy (map-side partial agg);
- MinHash signatures are computed as column expressions (one xxhash64 per
  permutation over exploded shingles — JVM-side, no Python); banding turns
  the O(n²) pair space into an equi-join on (band, band_hash);
- SimHash is a weighted-bit-vote over token hashes, again pure columns;
- n-gram Jaccard verifies candidate pairs only (after LSH blocking), never
  all pairs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

TOKEN_PATTERN = r"[A-Za-z0-9]+(?:'[a-z]+)?"


def _normalized(text) -> F.Column:
    # collapse-then-trim: Spark/DuckDB trim() strips spaces only, so newlines
    # must be collapsed to spaces before trimming
    return F.trim(F.regexp_replace(F.lower(text), r"\s+", " "))


def _drop_hot_buckets(df: DataFrame, keys: list[str], max_bucket: int) -> DataFrame:
    """Bucket-size guard for LSH self-joins: buckets holding more than
    ``max_bucket`` members are excluded from candidate generation — a
    bucket of n members contributes n² candidate pairs, so one boilerplate
    bucket (identical headers, zero vectors) turns the join quadratic while
    everything else stays linear.  The count is a map-side-combined groupBy
    on the band key — same shuffle shape as the join itself."""
    if not max_bucket or max_bucket <= 0:
        return df
    sizes = df.groupBy(*keys).agg(F.count(F.lit(1)).alias("_bn"))
    return (
        df.join(sizes, keys)
        .filter(F.col("_bn") <= max_bucket)
        .drop("_bn")
    )


def exact_duplicates(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Exact dedup via content-hash groupBy: returns (content_hash, n_docs,
    doc_ids sorted, keeper = min id). md5 used so the DuckDB oracle can
    reproduce the key byte-for-byte."""
    h = F.md5(_normalized(F.col(text_col)))
    return (
        docs.groupBy(h.alias("content_hash"))
        .agg(
            F.count("*").alias("n_docs"),
            F.sort_array(F.collect_list(F.col(id_col))).alias("doc_ids"),
            F.min(F.col(id_col)).alias("keeper"),
        )
        .filter(F.col("n_docs") > 1)
    )


def shingles(text, n: int = 3) -> F.Column:
    """Word n-gram shingle array (distinct) of normalized text.

    The token array is bound as a LAMBDA VARIABLE (single-element-array
    transform) instead of being referenced from the enclosing scope:
    Catalyst does not common-subexpression-eliminate through higher-order
    lambdas, so a free-variable reference re-runs the tokenizer regex per
    reference per row — measured 5x slower on a web-text corpus."""
    toks = F.regexp_extract_all(_normalized(text), F.lit(TOKEN_PATTERN), 0)
    return F.element_at(
        F.transform(
            F.array(toks),
            lambda t: F.array_distinct(
                F.when(
                    F.size(t) >= n,
                    F.transform(
                        F.sequence(F.lit(0), F.size(t) - n),
                        lambda i: F.concat_ws(" ", F.slice(t, i + 1, n)),
                    ),
                ).otherwise(F.array(F.concat_ws(" ", t)))
            ),
        ),
        1,
    )


def _minhash_agg(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    num_perm: int,
    shingle_n: int,
) -> DataFrame:
    """One tokenize + ONE aggregation producing (_id, h0..h{n-1}, hset).

    Each shingle is string-hashed ONCE (``h0 = xxhash64(sh)``); permutation
    j re-mixes the 8-byte value (``xxhash64(h0, j)``) — 32 long-hashes per
    row instead of 32 string-hashes, ~5x cheaper on KB shingle sets.  The
    same agg also collects the distinct hashed shingle set, so the verify
    stage reuses this relation instead of re-tokenizing the corpus
    (VERDICT round-1 plan audit #2)."""
    ex = docs.select(
        F.col(id_col).alias("_id"),
        F.explode(shingles(F.col(text_col), shingle_n)).alias("sh"),
    ).select("_id", F.xxhash64("sh").alias("h0"))
    aggs = [F.min(F.xxhash64(F.col("h0"), F.lit(j))).alias(f"h{j}") for j in range(num_perm)]
    return ex.groupBy("_id").agg(*aggs, F.collect_set("h0").alias("hset"))


def _banded_sigs(per_doc: DataFrame, num_perm: int, bands: int) -> DataFrame:
    """(_id, band, band_hash) from a ``_minhash_agg`` relation: each band's
    hash is one xxhash64 over its ``num_perm // bands`` signature slots (the
    band index is mixed in so identical slot values in different bands never
    collide).  Shared by the self-join (``minhash_lsh_pairs``) and the
    cross-corpus join (``dedup_against``) — both sides of an LSH join must
    hash with the SAME family for collisions to mean anything."""
    if bands < 1 or num_perm < bands:
        raise ValueError(
            f"need 1 <= bands <= num_perm, got bands={bands} num_perm={num_perm} "
            "(bands > num_perm would hash an EMPTY signature slice — every "
            "doc collides in every band and the LSH join goes quadratic)"
        )
    rows_per_band = num_perm // bands
    sig = F.array(*[f"h{j}" for j in range(num_perm)])
    return per_doc.select(
        F.col("_id"),
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), F.lit(bands - 1)),
                lambda b: F.xxhash64(
                    F.concat_ws(",", F.transform(F.slice(sig, b * rows_per_band + 1, rows_per_band), lambda x: x.cast("string"))),
                    b,
                ),
            )
        ).alias("band", "band_hash"),
    )


def minhash_lsh_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_perm: int = 32,
    bands: int = 8,
    shingle_n: int = 3,
    jaccard_threshold: float = 0.7,
    max_bucket: int = 100_000,
    big_set_threshold: int = 8_192,
) -> DataFrame:
    """MinHash+LSH near-dup pairs: shingle → minhash → band → bucket-join →
    exact-Jaccard verify. Returns (id_a, id_b, jaccard) with id_a < id_b.

    The band bucket join is the only shuffle over candidates; the final
    Jaccard check joins shingle sets for candidate pairs only.

    Scale guards (both exact — results are invariant to them except the
    documented bucket drop):
    - ``max_bucket`` drops band buckets larger than the cap from candidate
      generation (boilerplate bands: n identical-header docs contribute n²
      candidate pairs; exact-content duplicates are still caught by
      ``exact_duplicates``);
    - ``big_set_threshold`` routes candidate pairs where EITHER side's
      shingle set exceeds the cap through an explode-and-count intersection
      (posting-list join, map-side-combined count) instead of carrying the
      full hash arrays through the verify join — same Jaccard, bounded row
      width (VERDICT r2 next-round #7).
    """
    # signatures + hashed shingle sets from ONE tokenize pass, materialized
    # so banding and both verify sides read it instead of re-deriving the
    # corpus (at cluster scale this persist becomes a scratch table, the
    # same pattern the pipeline uses for its typed stream).  Lifetime note:
    # the cache entry outlives this call (the returned DataFrame is lazy),
    # but Spark's cache manager keys on the canonicalized plan, so repeated
    # calls over the same corpus REUSE one entry rather than stacking; one
    # entry persists per distinct (corpus, params) until
    # spark.catalog.clearCache() or session end.
    per_doc = _minhash_agg(docs, id_col, text_col, num_perm, shingle_n).persist()
    banded = _banded_sigs(per_doc, num_perm, bands)
    banded = _drop_hot_buckets(banded, ["band", "band_hash"], max_bucket)
    cand = (
        banded.alias("a")
        .join(
            banded.alias("b"),
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.band_hash") == F.col("b.band_hash"))
            & (F.col("a._id") < F.col("b._id")),
        )
        .select(F.col("a._id").alias("id_a"), F.col("b._id").alias("id_b"))
        .dropDuplicates()
    )
    # exact Jaccard over the distinct HASHED shingle sets — identical to
    # string-set Jaccard modulo 2^-64 collisions, and reuses per_doc.
    # Pairs are split by shingle-set size: small×small pairs verify via the
    # in-row array intersect (no extra shuffle); pairs touching a big set
    # verify via an exploded posting join whose intersection count
    # aggregates map-side — the arrays of long documents never ride a
    # shuffle in full.
    # ONE join per pair side: the shingle array rides only when the doc is
    # under the size cap (nulled at source otherwise), so big arrays never
    # enter the join payload and the small/big routing needs no second
    # sizes-only join pass.
    hs = per_doc.select(
        "_id",
        F.size("hset").alias("_sz"),
        F.when(F.size("hset") <= big_set_threshold, F.col("hset")).alias("hsmall"),
    )
    cand_sized = (
        cand.join(
            hs.withColumnsRenamed({"_id": "id_a", "_sz": "sz_a", "hsmall": "sh_a"}),
            "id_a",
        ).join(
            hs.withColumnsRenamed({"_id": "id_b", "_sz": "sz_b", "hsmall": "sh_b"}),
            "id_b",
        )
    )
    small_pair = F.col("sh_a").isNotNull() & F.col("sh_b").isNotNull()
    verified_small = (
        cand_sized.filter(small_pair)
        .withColumn(
            "jaccard",
            F.size(F.array_intersect("sh_a", "sh_b"))
            / F.size(F.array_union("sh_a", "sh_b")),
        )
        .filter(F.col("jaccard") >= jaccard_threshold)
        .select("id_a", "id_b", F.round("jaccard", 6).alias("jaccard"))
    )
    big_cand = cand_sized.filter(~small_pair).select("id_a", "id_b", "sz_a", "sz_b")
    ex = per_doc.select("_id", F.explode("hset").alias("h"))
    inter = (
        big_cand.select("id_a", "id_b", "sz_a", "sz_b")
        .join(ex.withColumnsRenamed({"_id": "id_a"}), "id_a")
        .join(ex.withColumnsRenamed({"_id": "id_b"}), ["id_b", "h"])
        .groupBy("id_a", "id_b", "sz_a", "sz_b")
        .agg(F.count(F.lit(1)).alias("_inter"))
    )
    verified_big = (
        inter.withColumn(
            "jaccard",
            F.col("_inter") / (F.col("sz_a") + F.col("sz_b") - F.col("_inter")),
        )
        .filter(F.col("jaccard") >= jaccard_threshold)
        .select("id_a", "id_b", F.round("jaccard", 6).alias("jaccard"))
    )
    return verified_small.unionByName(verified_big)


def simhash(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    bits: int = 64,
    token_hash: str = "xxhash64",
) -> DataFrame:
    """64-bit SimHash per document: sign-sum of token-hash bits.

    Implemented as explode(tokens) → per-bit vote aggregation — JVM-side
    only. Returns (id, simhash: bigint).

    ``token_hash`` selects the per-token hash: ``"xxhash64"`` (default —
    the production choice, one JVM hash per token) or ``"md5_60"`` (the
    low 60 bits of md5, engine-portable: DuckDB reproduces it exactly via
    hex-digit arithmetic, so the oracle gate can hash-check the output;
    caps ``bits`` at 60).  Bit semantics are identical — only the token
    hash function differs.
    """
    tokens = F.regexp_extract_all(_normalized(F.col(text_col)), F.lit(TOKEN_PATTERN), 0)
    ex = docs.select(F.col(id_col).alias("_id"), F.explode(tokens).alias("tok"))
    if token_hash == "md5_60":
        # 15 hex chars = 60 bits, always non-negative in a signed long
        h = F.conv(F.substring(F.md5(F.col("tok")), 1, 15), 16, 10).cast("long")
        bits = min(bits, 60)
    elif token_hash == "xxhash64":
        h = F.xxhash64(F.col("tok"))
    else:
        raise ValueError(f"unknown token_hash {token_hash!r}")

    def bit_lit(b: int):
        # signed 64-bit: bit 63 is the sign bit
        return F.lit(1 << b if b < 63 else -(1 << 63)).cast("long")

    votes = ex.groupBy("_id").agg(
        *[
            F.sum(F.when(h.bitwiseAND(bit_lit(b)) != 0, 1).otherwise(-1)).alias(f"b{b}")
            for b in range(bits)
        ]
    )
    sim = F.lit(0).cast("long")
    for b in range(bits):
        sim = sim + F.when(F.col(f"b{b}") > 0, bit_lit(b)).otherwise(F.lit(0).cast("long"))
    return votes.select(F.col("_id").alias(id_col), sim.alias("simhash"))


def ngram_jaccard_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_n: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """Exact n-gram Jaccard over *inverted-index* candidates: pairs sharing
    at least one shingle (posting-list self-join), then exact Jaccard.

    Suits small/medium corpora and oracle checks; at 10^12 scale use
    ``minhash_lsh_pairs`` (same output contract, LSH-blocked).
    """
    sh = docs.select(F.col(id_col).alias("_id"), shingles(F.col(text_col), shingle_n).alias("sh"))
    postings = sh.select("_id", F.explode("sh").alias("g"))
    cand = (
        postings.alias("a")
        .join(postings.alias("b"), (F.col("a.g") == F.col("b.g")) & (F.col("a._id") < F.col("b._id")))
        .select(F.col("a._id").alias("id_a"), F.col("b._id").alias("id_b"))
        .dropDuplicates()
    )
    return (
        cand.join(sh.select(F.col("_id").alias("id_a"), F.col("sh").alias("sh_a")), "id_a")
        .join(sh.select(F.col("_id").alias("id_b"), F.col("sh").alias("sh_b")), "id_b")
        .withColumn(
            "jaccard",
            F.size(F.array_intersect("sh_a", "sh_b")) / F.size(F.array_union("sh_a", "sh_b")),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", F.round("jaccard", 6).alias("jaccard"))
    )


def chunk_dedup(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    window: int = 16,
    max_docs: int = 2,
) -> DataFrame:
    """Sub-document boilerplate removal (the RefinedWeb/CCNet "line-level
    dedup" gate, expressed over fixed token windows because web text loses
    its line structure after extraction): split each document into
    consecutive ``window``-token chunks, drop every chunk that appears in
    ``max_docs`` or more DISTINCT documents (navigation bars, cookie
    banners, license footers), and reassemble the survivors in order.

    Returns one row per input document: ``(id_col, n_chunks, n_kept,
    clean_text)`` — ``n_kept < n_chunks`` marks docs that lost boilerplate,
    ``n_kept = 0`` docs that were pure boilerplate (``clean_text = ''``).

    Chunking contract: chunk CONTENT is whitespace-collapsed but
    case-preserving (a boilerplate gate must not silently lowercase the
    training corpus), split on single spaces, and sliced into
    non-overlapping windows; the final partial window is a chunk too (a
    shared footer shorter than ``window`` still dedups when it lands on
    the same boundary).  The frequency KEY lowercases the chunk, so
    matching stays case-insensitive — the same ``_normalized`` identity
    exact dedup uses.  NULL text is treated as ``''`` (one empty chunk),
    so every input document gets exactly one output row.

    Scale notes (100 TB): chunk rows are ~window tokens each, so the
    explode multiplies row count by ~n_tokens/window without multiplying
    bytes.  The frequency pass groups by md5(chunk) — 16-byte keys, never
    the chunk text — and ``count_distinct(doc)`` is the only corpus-wide
    shuffle; at cluster scale swap it for approx_count_distinct (the gate
    only needs "≥ max_docs", and HLL error at 2 is zero) to make the pass
    fully map-side-combining.  The count-attach join is hash-keyed and
    left to AQE; hyper-frequent boilerplate chunks are single rows on the
    build side, not skewed probe keys.  Reassembly shuffles once keyed by
    doc id; per-doc chunk arrays are bounded by document length, not
    corpus size.
    """
    ws_norm = F.trim(
        F.regexp_replace(F.coalesce(F.col(text_col), F.lit("")), r"\s+", " ")
    )
    tok_arr = F.split(ws_norm, " ")
    # single-element-array binding (see word_ngrams): Catalyst does not CSE
    # through higher-order lambdas, so a free tok_arr reference would re-run
    # the normalize+split once per chunk per row
    chunks_arr = F.element_at(
        F.transform(
            F.array(tok_arr),
            lambda t: F.transform(
                F.sequence(
                    F.lit(0), F.floor((F.size(t) - 1) / window).cast("int")
                ),
                lambda i: F.concat_ws(
                    " ", F.slice(t, i * window + 1, window)
                ),
            ),
        ),
        1,
    )
    # persisted: the relation feeds three consumers (frequency counts, the
    # kept join probe, per-doc stats) — without it the tokenize+explode
    # corpus scan runs three times (the minhash per_doc pattern; same
    # lifetime contract: one plan-keyed entry per (corpus, params) until
    # clearCache()/session end)
    chunked = (
        docs.select(F.col(id_col), F.posexplode(chunks_arr).alias("pos", "chunk"))
        .withColumn("_h", F.md5(F.lower(F.col("chunk"))))
        .persist()
    )
    counts = chunked.groupBy("_h").agg(
        F.count_distinct(F.col(id_col)).alias("_nd")
    )
    kept = (
        chunked.join(counts, "_h")
        .filter(F.col("_nd") < max_docs)
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_kept"),
            F.concat_ws(
                " ",
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "chunk"))),
                    lambda s: s["chunk"],
                ),
            ).alias("clean_text"),
        )
    )
    stats = chunked.groupBy(id_col).agg(F.count(F.lit(1)).alias("n_chunks"))
    return stats.join(kept, id_col, "left").select(
        id_col,
        "n_chunks",
        F.coalesce("n_kept", F.lit(0)).alias("n_kept"),
        F.coalesce("clean_text", F.lit("")).alias("clean_text"),
    )


def near_dup_clusters(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    jaccard_threshold: float = 0.9,
    cc_max_iter: int = 10,
    **lsh_kwargs,
) -> DataFrame:
    """Near-duplicate CONSOLIDATION: MinHash-LSH pairs → connected
    components → one row per multi-member cluster with a deterministic
    keeper.

    Pairwise dedup under-removes: A≈B and B≈C leave {A,C} both "kept" even
    when the chain means all three are variants of one document.  Closing
    the pair relation transitively and keeping min-id per component is the
    standard fix (the same canonicalization step the KG pipeline applies to
    entity mentions — operators/components.py).  Returns
    ``(cluster_id, n_members, members)`` where ``cluster_id`` is the
    numeric-min member id (the keeper) and ``members`` the ascending member
    list; singleton documents (no near-dup pair) are implicitly kept and
    not returned.

    Scale notes — the plan collapses EXACT duplicates before any MinHash
    work (the standard web-corpus design: a large fraction of a crawl is
    byte-identical after normalization, and identical texts need no
    signature comparison):

    1. one hash-groupBy keys every doc by normalized-content md5 and keeps
       (representative = min id, member list) per distinct text;
    2. MinHash/LSH runs over REPRESENTATIVES only — signature cost is paid
       once per distinct text, not once per copy, and boilerplate band
       buckets shrink by the duplication factor (the ``max_bucket`` guard
       fires strictly less often, so recall can only improve);
    3. connected components closes the representative-level pair relation —
       a graph orders of magnitude smaller than the corpus — and collapses
       to a driver union-find below the small-graph gate;
    4. exact-dup groups expand back via their member lists: a group whose
       representative joined no near-dup pair is itself a cluster.

    Output is invariant to the collapse: exact copies have identical
    shingle sets, hence identical Jaccard against every third document, so
    the member-level pair graph's components equal the expanded
    representative-level components, and min-member-id == min-rep-id ==
    the CC label (ids ride zero-padded so the lexicographic min-label is
    the numeric min).
    """
    from .components import connected_components

    groups = (
        docs.groupBy(F.md5(_normalized(F.col(text_col))).alias("_ch"))
        .agg(
            F.min(F.col(id_col)).alias("_rep"),
            F.min_by(F.col(text_col), F.col(id_col)).alias("_text"),
            F.sort_array(F.collect_list(F.col(id_col))).alias("_members"),
        )
        # lifetime: same contract as minhash_lsh_pairs' per_doc persist —
        # the cache manager keys on the canonicalized plan, so repeated
        # calls over one corpus reuse a single entry; one corpus-sized
        # entry (with member arrays) lives per distinct (corpus, params)
        # until spark.catalog.clearCache() or session end.  Long-lived
        # sessions sweeping many corpora/thresholds should clearCache()
        # between sweeps.
        .persist()
    )
    reps = groups.select(F.col("_rep").alias(id_col), F.col("_text").alias(text_col))
    pairs = minhash_lsh_pairs(
        reps,
        id_col=id_col,
        text_col=text_col,
        jaccard_threshold=jaccard_threshold,
        **lsh_kwargs,
    )
    # width 19 = digits of int64 max: lpad TRUNCATES beyond its width, so
    # 15 would silently collide ids sharing a 15-char prefix; ids must be
    # non-negative (a '-' breaks lexicographic==numeric order)
    pad = lambda c: F.lpad(F.col(c).cast("string"), 19, "0")  # noqa: E731
    labels = connected_components(
        pairs.select(pad("id_a").alias("src"), pad("id_b").alias("dst")),
        max_iter=cc_max_iter,
    ).select(
        F.col("node").cast("long").alias("_rep"),
        F.col("component").cast("long").alias("_label"),
    )
    return (
        groups.join(labels, "_rep", "left")
        .filter(F.col("_label").isNotNull() | (F.size("_members") > 1))
        .groupBy(F.coalesce("_label", "_rep").alias("cluster_id"))
        .agg(
            F.sort_array(F.flatten(F.collect_list("_members"))).alias("members"),
        )
        .select(
            "cluster_id",
            F.size("members").cast("long").alias("n_members"),
            "members",
        )
    )


def dedup_against(
    new_docs: DataFrame,
    ref_docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    method: str = "lsh",
    shingle_n: int = 3,
    jaccard_threshold: float = 0.5,
    num_perm: int = 32,
    bands: int = 8,
    max_bucket: int = 100_000,
) -> DataFrame:
    """Incremental (cross-corpus) dedup: label every ``new_docs`` row
    against an existing reference corpus — the continuous-crawl ingestion
    gate (each new CommonCrawl snapshot is deduplicated against the corpus
    already ingested, never re-deduplicating the reference against itself).

    Returns one row per new doc: ``(id_col, drop_reason)`` with
    ``drop_reason`` ∈ {'exact', 'near', NULL}.  'exact' = the normalized
    text (lowercase, whitespace-collapsed — the ``exact_duplicates``
    contract) already exists in the reference; 'near' = not exact, but some
    reference doc's ``shingle_n``-gram Jaccard ≥ ``jaccard_threshold``;
    NULL = keep.  Near-dup checks run only on the non-exact remainder, so
    the reasons are disjoint and priority-ordered.

    ``method`` picks the candidate generator — the verified pairs (and so
    the labels) are the same where both apply:
    - 'exact':   hash anti-join only (no near stage);
    - 'jaccard': inverted-index candidates (posting-list join on string
      shingles) + exact Jaccard — deterministic and oracle-checkable, for
      small/medium corpora (the ``ngram_jaccard_pairs`` scoping);
    - 'lsh':     banded MinHash blocking (``_banded_sigs`` — the SAME hash
      family on both sides) + exact Jaccard over hashed shingle sets — the
      scale path; misses only pairs no band catches (recall
      1-(1-j^r)^b, ~0.9998 at j=0.9 with 8 bands of 4).

    Scale notes (10^12-doc reference, 10^9-doc snapshot):
    - the exact stage reduces the reference to DISTINCT 8-byte hashes (one
      map-side-combined aggregation, ~Zipf-compressed) and the new side
      never shuffles — the semi-join broadcasts when the distinct-hash
      relation fits, else AQE shuffles BOTH sides by hash (the new side is
      the small one in steady state);
    - in 'lsh' mode, reference signatures are the expensive side — compute
      once per snapshot cycle and persist them as a table (the
      ``_minhash_agg`` relation is plain columns, parquet-friendly); the
      per-snapshot cost is then the NEW side's signatures plus a band
      equi-join;
    - Jaccard verification counts intersections via an exploded posting
      join (map-side combine) — shingle arrays never ride a shuffle, so a
      pathological 100 MB doc cannot skew the verify stage (the
      ``minhash_lsh_pairs`` big-set routing, applied unconditionally here
      since cross-corpus candidate counts are small relative to either
      corpus);
    - hot band buckets (boilerplate) are dropped by ``max_bucket`` on each
      side independently, same trade as ``minhash_lsh_pairs``.
    """
    if method not in ("exact", "jaccard", "lsh"):
        raise ValueError(f"method must be exact|jaccard|lsh, got {method!r}")

    nh = F.xxhash64(_normalized(F.col(text_col)))
    new_keyed = new_docs.select(F.col(id_col).alias("_id"), F.col(text_col).alias("_t"), nh.alias("_nh"))
    ref_hashes = ref_docs.select(nh.alias("_nh")).dropDuplicates()
    flagged = new_keyed.join(
        ref_hashes.withColumn("_exact", F.lit(True)), "_nh", "left"
    ).select("_id", "_t", F.coalesce("_exact", F.lit(False)).alias("_exact"))

    near_ids = None
    if method != "exact":
        survivors = flagged.filter(~F.col("_exact")).select("_id", "_t")
        if method == "jaccard":
            # string shingles end-to-end so a SQL oracle can reproduce the
            # numbers byte-for-byte (hashing changes nothing but the label);
            # the posting join IS the candidate generator — pairs sharing no
            # shingle have Jaccard 0 and need no row at all
            sh_new = survivors.select("_id", shingles(F.col("_t"), shingle_n).alias("sh"))
            sh_ref = ref_docs.select(
                F.col(id_col).alias("_rid"), shingles(F.col(text_col), shingle_n).alias("sh")
            )
            sizes_new = sh_new.select("_id", F.size("sh").alias("_sa"))
            sizes_ref = sh_ref.select("_rid", F.size("sh").alias("_sb"))
            inter = (
                sh_new.select("_id", F.explode("sh").alias("g"))
                .join(sh_ref.select("_rid", F.explode("sh").alias("g")), "g")
                .groupBy("_id", "_rid")
                .agg(F.count(F.lit(1)).alias("_i"))
            )
        else:  # lsh
            per_new = _minhash_agg(survivors, "_id", "_t", num_perm, shingle_n).persist()
            per_ref = _minhash_agg(ref_docs, id_col, text_col, num_perm, shingle_n).persist()
            b_new = _drop_hot_buckets(
                _banded_sigs(per_new, num_perm, bands), ["band", "band_hash"], max_bucket
            )
            b_ref = _drop_hot_buckets(
                _banded_sigs(per_ref, num_perm, bands), ["band", "band_hash"], max_bucket
            ).withColumnRenamed("_id", "_rid")
            cand = (
                b_new.join(b_ref, ["band", "band_hash"]).select("_id", "_rid").dropDuplicates()
            )
            sizes_new = per_new.select("_id", F.size("hset").alias("_sa"))
            sizes_ref = per_ref.select(F.col("_id").alias("_rid"), F.size("hset").alias("_sb"))
            inter = (
                cand.join(per_new.select("_id", F.explode("hset").alias("g")), "_id")
                .join(per_ref.select(F.col("_id").alias("_rid"), F.explode("hset").alias("g")), ["_rid", "g"])
                .groupBy("_id", "_rid")
                .agg(F.count(F.lit(1)).alias("_i"))
            )
        near_ids = (
            inter.join(sizes_new, "_id")
            .join(sizes_ref, "_rid")
            .filter(F.col("_i") / (F.col("_sa") + F.col("_sb") - F.col("_i")) >= jaccard_threshold)
            .select("_id")
            .dropDuplicates()
        )

    out = flagged.select("_id", "_exact")
    if near_ids is not None:
        out = out.join(near_ids.withColumn("_near", F.lit(True)), "_id", "left")
    else:
        out = out.withColumn("_near", F.lit(None).cast("boolean"))
    return out.select(
        F.col("_id").alias(id_col),
        F.when(F.col("_exact"), F.lit("exact"))
        .when(F.col("_near"), F.lit("near"))
        .alias("drop_reason"),
    )
