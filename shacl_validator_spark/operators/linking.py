"""Entity linking: alias-dictionary exact match + MinHash-LSH blocking.

Implements SURVEY.md §2.3 J7 / BASELINE.json north_star: "entity mentions
are linked via MinHash-LSH candidate blocking plus a broadcast alias
dictionary", with hub-entity skew handled by salting.

Scale design:
- linking operates on the **distinct surface set** (deduplicated upstream,
  orders of magnitude smaller than the mention stream); the resulting
  surface→canonical map is broadcast back onto the triple stream — the big
  table is never shuffled for linking;
- the alias dictionary is always broadcast (``F.broadcast``);
- LSH runs only on the residual surfaces that miss the dictionary exactly,
  using ``pyspark.ml.feature.MinHashLSH`` over character-shingle count
  vectors (built-in, SURVEY.md §7.2);
- degree-style aggregations over hub entities use two-phase salted
  aggregation (``salted_count``) so one hot key cannot own a reducer.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..local_df import local_df


def alias_dict_df(spark: SparkSession, rows: list[tuple[str, str]]) -> DataFrame:
    return local_df(spark, rows, "alias string, canonical_id string")


def link_exact(mentions: DataFrame, alias_dict: DataFrame) -> DataFrame:
    """Broadcast alias-dictionary join: lower(surface) == alias.

    Returns (surface, ent_class, canonical_id nullable).
    """
    return (
        mentions.join(
            F.broadcast(alias_dict),
            F.lower(mentions["surface"]) == alias_dict["alias"],
            "left",
        )
        .select("surface", "ent_class", "canonical_id")
    )


def _shingle_col(col: str, n: int = 3):
    """Character n-gram shingles of the lowercased surface (array<string>)."""
    padded = F.concat(F.lit("^^"), F.lower(F.col(col)), F.lit("$$"))
    idx = F.sequence(F.lit(1), F.greatest(F.length(padded) - (n - 1), F.lit(1)))
    return F.array_distinct(F.transform(idx, lambda i: padded.substr(i, F.lit(n))))


def link_lsh(
    spark: SparkSession,
    unresolved: DataFrame,
    alias_dict: DataFrame,
    threshold: float = 0.6,
    num_hash_tables: int = 5,
) -> DataFrame:
    """MinHash-LSH candidate blocking for surfaces with no exact alias hit.

    Jaccard distance over character-3-gram shingles; the best (lowest
    distance, ties broken by canonical_id) candidate within ``threshold``
    wins.  Input/output: (surface) → (surface, canonical_id).
    """
    from pyspark.ml.feature import CountVectorizer, MinHashLSH

    if unresolved.isEmpty():
        return local_df(spark, [], "surface string, canonical_id string")

    cand = alias_dict.select(F.col("alias").alias("key"), "canonical_id").withColumn(
        "shingles", _shingle_col("key")
    )
    probe = unresolved.select(F.col("surface").alias("key")).dropDuplicates().withColumn(
        "shingles", _shingle_col("key")
    )
    both = cand.select("shingles").unionByName(probe.select("shingles"))
    cv = CountVectorizer(inputCol="shingles", outputCol="features", binary=True)
    model = cv.fit(both)
    cand_v = model.transform(cand)
    probe_v = model.transform(probe)

    mh = MinHashLSH(inputCol="features", outputCol="hashes", numHashTables=num_hash_tables, seed=42)
    lsh = mh.fit(cand_v)
    joined = lsh.approxSimilarityJoin(probe_v, cand_v, threshold, distCol="dist")
    best = (
        joined.select(
            F.col("datasetA.key").alias("surface"),
            F.col("datasetB.canonical_id").alias("canonical_id"),
            F.col("dist"),
        )
        .groupBy("surface")
        .agg(F.min_by(F.struct("dist", "canonical_id"), F.struct("dist", "canonical_id")).alias("best"))
        .select("surface", F.col("best.canonical_id").alias("canonical_id"))
    )
    return best


# Below this distinct-surface count the linking problem fits on the driver:
# a dict lookup plus exact shingle-Jaccard in Python replaces ~8 Spark jobs
# (broadcast builds, CountVectorizer/LSH fits, similarity join).  The
# distributed path is unchanged for web-scale surface sets.
SMALL_SURFACE_SET = 100_000


def _shingles(s: str, n: int = 3) -> set[str]:
    padded = "^^" + s.lower() + "$$"
    return {padded[i : i + n] for i in range(max(len(padded) - (n - 1), 1))}


def _link_small(
    rows: list, alias_rows: list, threshold: float
) -> list[tuple[str, str, str]]:
    """Driver-side mirror of exact-dict + Jaccard linking (same semantics:
    distance < threshold, best candidate = min (dist, canonical_id))."""
    # min canonical id wins for an ambiguous alias — MUST match the
    # distributed path's F.min resolution or crossing the small-set
    # threshold would flip canonical ids (MERGE-key drift).  Rows with a
    # NULL alias or canonical are skipped, mirroring F.min's NULL-ignoring
    # aggregation (a None here would otherwise TypeError on the compare).
    alias_rows = [(a, c) for a, c in alias_rows if a is not None and c is not None]
    adict: dict[str, str] = {}
    for a, c in alias_rows:
        if a not in adict or c < adict[a]:
            adict[a] = c
    cand = [(a, c, _shingles(a)) for a, c in alias_rows]
    out = []
    for surface, ent_class in rows:
        cid = adict.get(surface.lower())
        if cid is None:
            sh = _shingles(surface)
            best = None
            for alias, acid, ash in cand:
                inter = len(sh & ash)
                dist = 1.0 - inter / (len(sh) + len(ash) - inter)
                if dist < threshold and (best is None or (dist, acid) < best):
                    best = (dist, acid)
            cid = best[1] if best else "surface:" + surface.lower()
        out.append((surface, ent_class, cid))
    return sorted(set(out), key=lambda t: (t[0], t[1] or "", t[2]))


def link_mentions(
    spark: SparkSession,
    mentions: DataFrame,
    alias_dict: DataFrame,
    lsh_threshold: float = 0.6,
) -> DataFrame:
    """Full linking: exact broadcast join, LSH fallback, surface fallback.

    Surfaces that neither the dictionary nor LSH resolve keep a
    deterministic surface-derived id (``surface:<lower>``) so downstream
    stages (typing, validation, MERGE keys) stay total and stable
    (SURVEY.md §7.3 blank-node determinism).
    Returns the broadcastable map (surface, ent_class, canonical_id).

    Sets of at most ``SMALL_SURFACE_SET`` distinct surfaces short-circuit
    to a driver-side linker with exact Jaccard (a superset of the LSH
    candidate blocking — LSH only approximates it); tests set the constant
    to 0 to force the distributed path.
    """
    if SMALL_SURFACE_SET:
        head = mentions.select("surface", "ent_class").limit(SMALL_SURFACE_SET + 1).collect()
        if len(head) <= SMALL_SURFACE_SET:
            arows = [(r[0], r[1]) for r in alias_dict.collect()]
            linked = _link_small([(r[0], r[1]) for r in head], arows, lsh_threshold)
            return local_df(
                spark, linked, "surface string, ent_class string, canonical_id string"
            )
    # eager materialization: isEmpty() on the unresolved residue is a
    # limit-1 probe and would leave a plain cache only partially filled,
    # forcing the upstream distinct to recompute for later consumers
    exact = link_exact(mentions, alias_dict).localCheckpoint(eager=True)
    unresolved = exact.filter(F.col("canonical_id").isNull()).select("surface", "ent_class")
    lsh = link_lsh(spark, unresolved, alias_dict, threshold=lsh_threshold)
    resolved = (
        exact.join(lsh.withColumnRenamed("canonical_id", "lsh_id"), "surface", "left")
        .select(
            "surface",
            "ent_class",
            F.coalesce(
                F.col("canonical_id"),
                F.col("lsh_id"),
                F.concat(F.lit("surface:"), F.lower(F.col("surface"))),
            ).alias("canonical_id"),
        )
        # min, not dropDuplicates: an ambiguous alias dict (one alias →
        # two canonical ids) must resolve DETERMINISTICALLY or MERGE keys
        # drift between runs
        .groupBy("surface", "ent_class")
        .agg(F.min("canonical_id").alias("canonical_id"))
    )
    return resolved


def salted_count(df: DataFrame, key: str, n_salt: int = 16, out: str = "n") -> DataFrame:
    """Two-phase skew-proof count: partial count per (key, salt), then final.

    The salt is derived from a second column hash when available, else a
    deterministic spread of the row; required for hub-entity degree counts
    (BASELINE.json: "skewed hub entities ... are salted").
    """
    all_cols = df.columns
    spread = F.pmod(F.xxhash64(*[F.col(c) for c in all_cols]), n_salt)
    partial = df.groupBy(F.col(key), spread.alias("_salt")).agg(F.count("*").alias("_partial"))
    return partial.groupBy(key).agg(F.sum("_partial").cast("long").alias(out))
