"""Deterministic corpus sampling for training-data mix construction.

Pre-training mixes are built by re-weighting sources/languages (domain
balancing, upsampling rare languages): the primitives are (a) a
reproducible keep/drop decision per document at a target rate and (b) an
exact per-stratum quota.  Both are implemented so the SAME decision is
reproducible in any engine (md5 of the id, not an RNG): re-running the
job, resuming a partition, or auditing a sample in DuckDB all see the
identical row set — the property a pipeline needs for exactly-once
semantics across retries.

Scale notes (100 TB):
- ``hash_sample`` is a narrow map (one md5 + compare per row, no state,
  no shuffle) — it composes with scans and pushes work to the source
  stage; this is the preferred primitive at scale.
- ``stratified_sample`` needs a total order per stratum, i.e. one shuffle
  keyed by the strata columns.  A hot stratum (half the corpus in 'en')
  concentrates on one task; when k ≪ stratum size, pre-thin with
  ``hash_sample`` at a rate that keeps ≥ k rows per stratum with
  overwhelming probability (e.g. 10·k/min_stratum_size), then rank the
  survivors — the window then runs over a k-proportional relation.  The
  ranking key is md5(id), so pre-thinning by md5-prefix keeps EXACTLY the
  rows the full ranking would have chosen (both orderings are the same
  hash order), making the two-phase plan output-identical, not
  approximate.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def _hash_key(id_col: str) -> F.Column:
    return F.md5(F.col(id_col).cast("string"))


def md5_prefix32(col: F.Column) -> F.Column:
    """First 8 hex chars of md5(``col``), base-16-decoded: a deterministic
    uniform 32-bit value.  THE engine-portable hash contract every
    keep/assign/copy decision in the pipeline shares (``hash_sample``,
    ``apply_mix``, ``hashed_gram_buckets``) — DuckDB reproduces it
    verbatim as ``conv(substring(md5(x),1,8),16,10)``, so the sites must
    stay byte-identical; change it here or nowhere."""
    return F.conv(F.substring(F.md5(col), 1, 8), 16, 10).cast("bigint")


def hash_sample(df: DataFrame, fraction: float, id_col: str = "doc_id") -> DataFrame:
    """Deterministic ~``fraction`` sample: keep rows whose md5(id) falls
    below the threshold.  Same id → same decision, forever, in every
    engine (the first 8 hex chars are compared as a uniform 32-bit value).

    Boundary contract: the threshold is ``int(fraction * 2**32)`` —
    binary-double multiply, TRUNCATED.  An auditor re-deriving it in SQL
    must reproduce exactly that (e.g. DuckDB ``CAST(trunc(0.1 * 4294967296)
    AS UBIGINT)``); a decimal-rounding reproduction disagrees on the one
    boundary bucket for non-dyadic fractions.  Safer: read the integer
    threshold from this code and compare against the literal.
    """
    if not 0.0 <= fraction <= 1.0:
        raise ValueError(f"fraction must be in [0,1], got {fraction}")
    threshold = int(fraction * 0x100000000)
    return df.filter(md5_prefix32(F.col(id_col).cast("string")) < F.lit(threshold))


def mix_weights(
    df: DataFrame,
    group_col: str,
    target: dict[str, float],
    weight_cap: float | None = None,
) -> DataFrame:
    """Per-group sampling weights that turn the corpus's natural group mix
    into a ``target`` mix — the domain-reweighting step of training-mix
    construction (e.g. upweight books, downweight boilerplate-heavy web).

    For each group g with n_g rows out of N total and target fraction t_g,
    ``weight = t_g / (n_g / N)``: the expected-repetition factor per row
    (< 1 ⇒ subsample at that rate via ``hash_sample``; > 1 ⇒ repeat docs
    ~weight times, the standard epoch-fraction bookkeeping).  Groups absent
    from ``target`` get weight 0 (dropped from the mix).  ``weight_cap``
    bounds upsampling (repetition hurts past ~4 epochs in published
    scaling studies); capped groups are flagged so the caller can renorm.

    One aggregation keyed by ``group_col`` (map-side combined; group
    cardinality is sources/languages — tiny), then the scalar total is
    broadcast back onto the per-group rows: no unpartitioned window, no
    second shuffle, no driver collect of data rows.
    """
    if not target:
        raise ValueError("target mix must be non-empty")
    tmap = F.create_map(
        *[F.lit(x) for kv in target.items() for x in (kv[0], float(kv[1]))]
    )
    per = df.groupBy(group_col).agg(F.count(F.lit(1)).alias("n_rows"))
    tot = per.agg(F.sum("n_rows").alias("_tot"))
    out = per.crossJoin(F.broadcast(tot)).select(
        group_col,
        "n_rows",
        (F.col("n_rows") / F.col("_tot")).alias("natural_frac"),
        F.coalesce(tmap[F.col(group_col)], F.lit(0.0)).alias("target_frac"),
    ).withColumn(
        "raw_weight",
        F.when(F.col("n_rows") > 0, F.col("target_frac") / F.col("natural_frac")),
    )
    if weight_cap is not None:
        out = out.withColumn(
            "weight", F.least(F.col("raw_weight"), F.lit(float(weight_cap)))
        ).withColumn("capped", F.col("raw_weight") > F.lit(float(weight_cap)))
    else:
        out = out.withColumn("weight", F.col("raw_weight")).withColumn(
            "capped", F.lit(False)
        )
    return out.drop("raw_weight")


def stratified_sample(
    df: DataFrame,
    strata_cols: list[str],
    k: int,
    id_col: str = "doc_id",
) -> DataFrame:
    """Exact ``k`` rows per stratum, chosen deterministically: rank by
    md5(id) within each stratum (id as tiebreak) and keep rank ≤ k.
    Strata smaller than k are kept whole.
    """
    w = Window.partitionBy(*strata_cols).orderBy(_hash_key(id_col), F.col(id_col))
    return (
        df.withColumn("_rk", F.row_number().over(w))
        .filter(F.col("_rk") <= k)
        .drop("_rk")
    )


def hashed_gram_buckets(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_buckets: int = 1024,
) -> DataFrame:
    """Hashed n-gram feature stream: one row per unigram/bigram occurrence,
    reduced to a bucket id in ``[0, n_buckets)`` via the first 8 hex chars
    of md5 (the same engine-portable hash family as ``hash_sample``).

    This is the feature map of DSIR-style importance resampling (Xie et
    al. 2023, public): hashed bag-of-n-grams is the representation both
    the target and raw distributions are fitted on.  Output:
    ``(id_col, _b)`` — exploded, NOT aggregated, so callers choose the
    aggregation key (corpus-level bucket counts vs per-doc counts).

    Scale notes (100 TB): a narrow map + explode (no shuffle here).  The
    token array is bound ONCE as a lambda variable and both gram lengths
    are built inside that binding — two separate ``word_ngrams`` calls
    would each re-run the tokenizer regex per row (Catalyst does not CSE
    through higher-order lambdas), measured 1.7× slower at sf0.1.
    """
    from .quality import TOKEN_PATTERN

    toks = F.regexp_extract_all(
        F.lower(F.col(text_col)), F.lit(TOKEN_PATTERN), 0
    )
    grams = F.element_at(
        F.transform(
            F.array(toks),
            lambda t: F.concat(
                t,
                F.zip_with(
                    F.slice(t, 1, F.greatest(F.size(t) - 1, F.lit(0))),
                    F.slice(t, 2, F.greatest(F.size(t) - 1, F.lit(0))),
                    lambda a, b: F.concat(a, F.lit(" "), b),
                ),
            ),
        ),
        1,
    )
    if n_buckets <= 0:
        raise ValueError(f"n_buckets must be positive, got {n_buckets}")
    bucket = (md5_prefix32(F.col("_g")) % F.lit(n_buckets)).cast("bigint")
    return (
        df.select(F.col(id_col), F.explode(grams).alias("_g"))
        .select(id_col, bucket.alias("_b"))
    )


def dsir_weights(
    docs: DataFrame,
    target: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_buckets: int = 1024,
    smoothing: float = 1.0,
) -> DataFrame:
    """DSIR importance weights: score every raw document by how much more
    likely its hashed-n-gram features are under the TARGET corpus's
    unigram bucket distribution than under the raw corpus's own.

    For bucket ``b`` with add-``smoothing`` estimates
    ``p(b) = (t_b + s) / (T + s·B)`` (target) and
    ``q(b) = (r_b + s) / (R + s·B)`` (raw), a document with per-bucket
    counts ``c_b`` gets ``log_weight = Σ_b c_b · (ln p(b) − ln q(b))`` —
    the log importance ratio DSIR resamples by.  Output:
    ``(id_col, n_feats, log_weight)``, one row per raw document with at
    least one feature; ``log_weight`` is rounded to 6 decimals so the
    value is comparable across engines regardless of summation order
    (the ``unigram_logprob`` contract).

    Selection composes with the existing primitives: rank by
    ``log_weight`` (tie-break md5(id)) and keep the top fraction, or add
    Gumbel noise upstream if the caller wants DSIR's sampled variant.

    Scale notes (100 TB): the two distribution fits aggregate the feature
    streams BY BUCKET — map-side combine collapses each task's grams to
    ≤ B rows, so the shuffles carry O(tasks·B), never O(corpus).  The
    bucket/ratio relations are B rows (a few thousand) → explicit
    broadcast; the only corpus-sized shuffle is the per-doc bucket-count
    aggregation (one row per distinct (doc, bucket) after map-side
    combine, ≤ B per doc).  The target corpus is typically a small
    curated set — its scan is cheap; the raw corpus is tokenized ONCE:
    the raw fit folds out of the per-doc counts instead of re-running
    the feature map, and the per-doc exchange is reused between its two
    consumers.  No Python anywhere.
    """
    if n_buckets <= 0:
        raise ValueError(f"n_buckets must be positive, got {n_buckets}")
    spark = docs.sparkSession
    raw_feats = hashed_gram_buckets(docs, id_col, text_col, n_buckets)
    tgt_feats = hashed_gram_buckets(target, id_col, text_col, n_buckets)
    # the raw corpus feeds BOTH the distribution fit and the per-doc score:
    # fold the fit out of the per-doc counts instead of re-running the
    # tokenize+md5 map over the whole corpus a second time (per_doc is the
    # only corpus-sized shuffle either way; its exchange is reused)
    per_doc = raw_feats.groupBy(id_col, "_b").agg(F.count(F.lit(1)).alias("_c"))
    raw_b = per_doc.groupBy("_b").agg(F.sum("_c").alias("_rc"))
    tgt_b = tgt_feats.groupBy("_b").agg(F.count(F.lit(1)).alias("_tc"))
    spine = spark.range(n_buckets).select(F.col("id").cast("bigint").alias("_b"))
    table = (
        spine.join(tgt_b, "_b", "left")
        .join(raw_b, "_b", "left")
        .select(
            "_b",
            F.coalesce(F.col("_tc"), F.lit(0)).alias("_tc"),
            F.coalesce(F.col("_rc"), F.lit(0)).alias("_rc"),
        )
    )
    totals = table.select(F.sum("_tc").alias("_T"), F.sum("_rc").alias("_R"))
    s = float(smoothing)
    ratio = (
        table.crossJoin(F.broadcast(totals))
        .select(
            "_b",
            (
                F.log((F.col("_tc") + s) / (F.col("_T") + s * n_buckets))
                - F.log((F.col("_rc") + s) / (F.col("_R") + s * n_buckets))
            ).alias("_lr"),
        )
    )
    return (
        per_doc.join(F.broadcast(ratio), "_b")
        .groupBy(id_col)
        .agg(
            F.sum("_c").alias("n_feats"),
            F.round(F.sum(F.col("_c") * F.col("_lr")), 6).alias("log_weight"),
        )
    )


def temperature_weights(df: DataFrame, group_col: str, tau: float) -> DataFrame:
    """Temperature-based mix flattening (the multilingual-sampling rule of
    XLM-R / mT5, public): instead of an explicit target mix, resample
    group g from natural share ``p_g`` to ``q_g = p_g^(1/τ) / Σ p_j^(1/τ)``
    — τ = 1 keeps the natural mix, τ → ∞ approaches uniform, so rare
    languages/domains are upsampled smoothly without hand-written targets.

    Output: ``(group_col, n_rows, natural_frac, sampled_frac, weight)``
    where ``weight = q_g / p_g`` is the per-row expected-repetition factor
    (composes with ``hash_sample``/repetition exactly like ``mix_weights``;
    fractions are full-precision doubles — callers round at the edge).

    Same plan shape as ``mix_weights``: ONE aggregation keyed by
    ``group_col`` (map-side combined, group cardinality is tiny), the two
    scalar totals broadcast back via crossJoin — no unpartitioned window,
    no driver collect.
    """
    if tau <= 0:
        raise ValueError(f"tau must be positive, got {tau}")
    inv = 1.0 / float(tau)
    per = df.groupBy(group_col).agg(F.count(F.lit(1)).alias("n_rows"))
    tot = per.agg(F.sum("n_rows").alias("_tot"))
    base = per.crossJoin(F.broadcast(tot)).select(
        group_col,
        "n_rows",
        (F.col("n_rows") / F.col("_tot")).alias("natural_frac"),
    )
    powsum = base.agg(F.sum(F.pow("natural_frac", F.lit(inv))).alias("_ps"))
    return base.crossJoin(F.broadcast(powsum)).select(
        group_col,
        "n_rows",
        "natural_frac",
        (F.pow("natural_frac", F.lit(inv)) / F.col("_ps")).alias("sampled_frac"),
        (
            F.pow("natural_frac", F.lit(inv))
            / F.col("_ps")
            / F.col("natural_frac")
        ).alias("weight"),
    )


def apply_mix(
    df: DataFrame,
    weights: DataFrame,
    group_col: str,
    id_col: str = "doc_id",
    weight_col: str = "weight",
) -> DataFrame:
    """Realize fractional per-group sampling weights as concrete rows —
    the missing executor between ``mix_weights`` / ``temperature_weights``
    (which COMPUTE expected-repetition factors) and a training corpus
    (which needs actual rows).

    A row in group g with weight w gets ``floor(w)`` guaranteed copies
    plus one more iff ``md5_frac(id) < w - floor(w)`` — deterministic
    per id (same row → same copy count, forever, in every engine; the
    md5-prefix uniform from ``hash_sample``), so the expected group size
    is exactly ``n_g · w_g`` and retries/audits reproduce the identical
    multiset.  Weight 0 (or NULL) drops the group; weight < 1 degrades to
    pure subsampling.  Output: the input columns plus ``copy_idx``
    (0-based) — shuffle downstream by e.g. md5(id, copy_idx) so repeats
    don't sit adjacent.

    Scale notes (100 TB): the weights relation is group-cardinality-sized
    → broadcast; the copy fan-out is a narrow explode (factor = the mix's
    upsample cap); no shuffle introduced here.
    """
    frac32 = md5_prefix32(F.col(id_col).cast("string")) / F.lit(float(0x100000000))
    w = F.coalesce(F.col(weight_col), F.lit(0.0))
    n_copies = (
        F.floor(w).cast("long")
        + F.when(frac32 < (w - F.floor(w)), F.lit(1)).otherwise(F.lit(0))
    )
    return (
        df.join(F.broadcast(weights.select(group_col, weight_col)), group_col)
        .withColumn("_nc", n_copies)
        .filter(F.col("_nc") > 0)
        .withColumn("copy_idx", F.explode(F.sequence(F.lit(0), F.col("_nc") - 1)))
        .drop("_nc", weight_col)
    )
