"""Deterministic hash-order sampling + KMV (bottom-k) distinct sketch.

Training pipelines need samples that are (a) reproducible across runs
and engines, (b) mergeable/scalable, (c) usable as a distinct-count
sketch. Hash-order sampling gives all three: rank every key by a
content hash and keep the k smallest. The k-th smallest hash is the
classic KMV / bottom-k estimator (Bar-Yossef et al. 2002): with D
distinct keys uniformly hashed into [0, 2^60), E[h_(k)] ~ k/D * 2^60,
so D_hat = (k-1) * 2^60 / h_(k).

Everything here is deterministic and cross-engine: the hash is the
first 15 hex chars of md5 (60 bits, fits BIGINT in both engines), so
DuckDB oracles reproduce samples AND estimates bit-for-bit — a sketch
whose output hash-matches an exact SQL oracle.

Scale shape: bottom-k is Spark's TakeOrderedAndProject — each task
keeps its local k, the driver merges P*k rows, no full sort, no big
shuffle. The per-stratum variant shuffles once on the stratum key.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .cache import tie

HASH_BITS = 60
HASH_DOMAIN = 1 << HASH_BITS


def content_hash60(col) -> "F.Column":
    """60-bit content hash of a string column: first 15 hex chars of
    md5, as BIGINT. Identical in DuckDB (see duckdb_hash60)."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")


def duckdb_hash60(expr: str) -> str:
    return f"CAST(('0x' || substr(md5({expr}), 1, 15)) AS BIGINT)"


def bottom_k_sample(df: DataFrame, key_col: str, k: int) -> DataFrame:
    """Deterministic k-row sample: the k rows whose key hashes smallest.
    -> (key, h) ordered by h. Same rows on any engine, any run, any
    partitioning; adding data can only displace rows, never reshuffle
    the survivors' relative order."""
    if k <= 0:
        raise ValueError(f"k must be positive, got {k}")
    return (
        df.select(F.col(key_col).cast("string").alias("key"))
        .select("key", content_hash60(F.col("key")).alias("h"))
        .where(F.col("h").isNotNull())  # NULL keys carry no identity; Spark
        # sorts NULLS FIRST but DuckDB NULLS LAST — filtering keeps parity
        .orderBy("h", "key")
        .limit(k)
    )


def bottom_k_by(df: DataFrame, strata_col: str, key_col: str, k: int) -> DataFrame:
    """Stratified deterministic sample: k smallest-hash keys per
    stratum. One shuffle on the stratum key; window top-k inside.
    -> (stratum, key, h)."""
    hashed = df.select(
        F.col(strata_col).cast("string").alias("stratum"),
        F.col(key_col).cast("string").alias("key"),
    ).select("stratum", "key", content_hash60(F.col("key")).alias("h"))
    hashed = hashed.where(F.col("h").isNotNull())
    w = Window.partitionBy("stratum").orderBy("h", "key")
    return (
        hashed.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .drop("rn")
    )


def weighted_bottom_k(
    df: DataFrame, key_col: str, weight_col: str, k: int
) -> DataFrame:
    """Deterministic weighted sample without replacement (Efraimidis &
    Spirakis 2006, A-ES): every key gets u = (h + 1) / 2^60 in (0, 1]
    from its content hash and score = -ln(u) / w; the k SMALLEST
    scores are the sample, with P(key sampled) proportional to its
    weight — the standard quality-weighted corpus-mixing primitive
    (sample documents ∝ quality score).

    Same properties as bottom_k_sample: reproducible across runs,
    engines, and partitionings (the randomness IS the content hash);
    mergeable (bottom-k of a union = bottom-k of the parts' bottom-ks);
    executes as TakeOrderedAndProject — local k per task, no full sort.
    Rows with NULL keys, NULL/non-positive weights are excluded (a
    weight of 0 means "never sample"; negative weights are undefined).

    -> (key, weight, score) ordered by score asc.
    """
    if k <= 0:
        raise ValueError(f"k must be positive, got {k}")
    hashed = (
        df.select(
            F.col(key_col).cast("string").alias("key"),
            F.col(weight_col).cast("double").alias("weight"),
        )
        .select("key", "weight", content_hash60(F.col("key")).alias("h"))
        .where(F.col("h").isNotNull() & (F.col("weight") > 0))
    )
    u = (F.col("h").cast("double") + F.lit(1.0)) / F.lit(float(HASH_DOMAIN))
    return (
        hashed.select(
            "key", "weight", F.round(-F.log(u) / F.col("weight"), 10).alias("score")
        )
        .orderBy("score", "key")
        .limit(k)
    )


def kmv_group_sketches(df: DataFrame, group_col: str, key_col: str, k: int) -> DataFrame:
    """Per-group KMV sketch rows: the k smallest distinct key hashes of
    each group. -> (grp, h). One shuffle on the group key; window top-k
    inside — the sketch frame is <= k rows per group regardless of
    group size."""
    hashed = (
        df.select(
            F.col(group_col).cast("string").alias("grp"),
            F.col(key_col).cast("string").alias("key"),
        )
        .select("grp", content_hash60(F.col("key")).alias("h"))
        .where(F.col("h").isNotNull())
        .distinct()
    )
    w = Window.partitionBy("grp").orderBy("h")
    return hashed.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") <= k).drop("rn")


def kmv_overlap(df: DataFrame, group_col: str, key_col: str, k: int = 256) -> DataFrame:
    """Pairwise set-operation estimates from per-group KMV sketches
    (Beyer et al. 2007, "On Synopses for Distinct-Value Estimation
    Under Multiset Operations"): for each group pair, X = the k
    smallest hashes of the union of the two bottom-k sketches;
    D_union = (k-1) * 2^60 / max(X); rho = |{h in X present in BOTH
    sketches}| / |X|; D_intersection = rho * D_union; Jaccard = rho.
    Exact (not an estimate) whenever a pair's union has < k distinct
    keys.

    Deterministic — like kmv_distinct, the whole computation renders
    verbatim in SQL, so a DuckDB oracle reproduces the ESTIMATES
    bit-for-bit (contract q_kmv_overlap).

    Scale shape: everything after the first per-group top-k runs on
    <= k rows per group — the pair expansion is O(groups^2 * k) sketch
    rows, never row data.

    -> (source_a, source_b, n_union_sample, est_union,
        est_intersection, est_a_minus_b, est_b_minus_a, jaccard)
    per unordered group pair (the set-difference estimates scale
    D_union by each side's exclusive fraction of the union sample).
    """
    if k < 2:
        raise ValueError(f"KMV needs k >= 2 (estimator uses k-1), got {k}")
    # The sketch frame is referenced three times below (groups, a_side,
    # b_side); without persist the distinct + window top-k shuffle would
    # recompute per reference. Tied to the result for bounded lifetime.
    sk = kmv_group_sketches(df, group_col, key_col, k).persist()
    groups = sk.select("grp").distinct()
    pairs = (
        groups.select(F.col("grp").alias("ga"))
        .join(groups.select(F.col("grp").alias("gb")), F.col("ga") < F.col("gb"))
    )
    a_side = pairs.join(sk.withColumnRenamed("grp", "ga"), "ga").select(
        "ga", "gb", "h", F.lit(1).alias("in_a"), F.lit(0).alias("in_b")
    )
    b_side = pairs.join(sk.withColumnRenamed("grp", "gb"), "gb").select(
        "ga", "gb", "h", F.lit(0).alias("in_a"), F.lit(1).alias("in_b")
    )
    merged = (
        a_side.unionByName(b_side)
        .groupBy("ga", "gb", "h")
        .agg(F.max("in_a").alias("ia"), F.max("in_b").alias("ib"))
    )
    w = Window.partitionBy("ga", "gb").orderBy("h")
    x = merged.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") <= k)
    stats = x.groupBy("ga", "gb").agg(
        F.count("*").alias("n"),
        F.max("h").alias("kth"),
        F.sum(F.col("ia") * F.col("ib")).alias("n_both"),
        F.sum(F.col("ia") * (F.lit(1) - F.col("ib"))).alias("n_a_only"),
        F.sum((F.lit(1) - F.col("ia")) * F.col("ib")).alias("n_b_only"),
    )
    est_union = F.when(F.col("n") < k, F.col("n").cast("double")).otherwise(
        F.lit(float(k - 1)) * F.lit(float(HASH_DOMAIN)) / F.col("kth").cast("double")
    )
    rho = F.col("n_both").cast("double") / F.col("n").cast("double")
    # Set DIFFERENCES from the same union sample (Beyer et al. §4:
    # any multiset-op selector over X scales D_union by its sample
    # fraction): rho_a\b = |{h in X: in A, not in B}| / |X|.
    rho_a = F.col("n_a_only").cast("double") / F.col("n").cast("double")
    rho_b = F.col("n_b_only").cast("double") / F.col("n").cast("double")
    out = stats.select(
        F.col("ga").alias("source_a"),
        F.col("gb").alias("source_b"),
        F.col("n").alias("n_union_sample"),
        F.round(est_union, 6).alias("est_union"),
        F.round(rho * est_union, 6).alias("est_intersection"),
        F.round(rho_a * est_union, 6).alias("est_a_minus_b"),
        F.round(rho_b * est_union, 6).alias("est_b_minus_a"),
        F.round(rho, 6).alias("jaccard"),
    )
    return tie(out, sk)


def kmv_distinct(df: DataFrame, key_col: str, k: int = 256) -> DataFrame:
    """KMV distinct-count estimate: D_hat = (k-1) * 2^60 / h_(k) over
    the k smallest DISTINCT key hashes. Deterministic — the estimate is
    a pure function of the data, so a SQL oracle reproduces it exactly
    (unlike HLL, whose register layout is engine-private).

    -> single row (n_hashes, kth_hash, est_distinct). When the table
    has fewer than k distinct keys the sample IS the distinct set and
    the exact count is returned instead.
    """
    if k < 2:
        raise ValueError(f"KMV needs k >= 2 (estimator uses k-1), got {k}")
    hashes = (
        df.select(F.col(key_col).cast("string").alias("key"))
        .select(content_hash60(F.col("key")).alias("h"))
        .where(F.col("h").isNotNull())
        .distinct()
        .orderBy("h")
        .limit(k)
    )
    agg = hashes.agg(
        F.count("*").alias("n_hashes"), F.max("h").alias("kth_hash")
    )
    return agg.select(
        "n_hashes",
        "kth_hash",
        F.when(
            F.col("n_hashes") < k, F.col("n_hashes").cast("double")
        )
        .otherwise(
            F.lit(float(k - 1)) * F.lit(float(HASH_DOMAIN)) / F.col("kth_hash").cast("double")
        )
        .alias("est_distinct"),
    )


def fixed_width_histogram(
    df: DataFrame,
    col: str,
    width: int,
    group_col: str | None = None,
) -> DataFrame:
    """Fixed-width histogram of an integer column: bin = floor(v/width).

    The distribution-shape pass a packing/curation pipeline runs before
    choosing its context capacity (where does the n_tok mass sit? how
    fat is the tail that pack_sequences will split?). Exact, mergeable
    by construction (bin counts add), and pure Catalyst: one map-side-
    combinable hash aggregate, shuffled rows capped at tasks x bins —
    the histogram analogue of shard_manifest's scale shape.

    -> ([group,] bin, lo, hi, n_rows) with lo/hi the inclusive/
    exclusive bin bounds; empty bins are absent (sparse output).
    """
    if width <= 0:
        raise ValueError(f"width must be positive, got {width}")
    v = F.col(col).cast("bigint")
    binned = df.where(v.isNotNull()).withColumn(
        "bin", F.floor(v / F.lit(int(width))).cast("bigint")
    )
    keys = ([group_col] if group_col else []) + ["bin"]
    return binned.groupBy(*keys).agg(F.count("*").alias("n_rows")).select(
        *keys,
        (F.col("bin") * width).alias("lo"),
        ((F.col("bin") + 1) * width).alias("hi"),
        "n_rows",
    )
