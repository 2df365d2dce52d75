"""Bloom-accelerated ANTI join (NOT IN / NOT EXISTS at corpus scale).

The semi-join direction is classic (q_bloom_join_prune: drop probe
rows that can't match BEFORE the join). The anti direction exploits
the reference's zero-false-negative contract
(/root/reference/src/bloomfilter/mod.rs:199-228) the other way round:

- a probe key that tests NEGATIVE is **certainly absent** from the
  build side — the row is part of the anti-join result and BYPASSES
  the join entirely (no shuffle, no match attempt);
- only probe-positive rows — the true matches plus an FP fraction
  <= p of the rest — go through the exact LEFT ANTI join, which kills
  the false positives.

Result is provably identical to the plain anti join; the exact join's
probe-side input shrinks from |probe| to |matching| + p*|rest|. At
100 TB, "orders NOT in the revoked set", "docs NOT in the previous
snapshot", "users NOT in the opt-out list" all run the anti join over
a small filtered survivor set instead of shuffling the whole fact
table: the filter broadcasts in O(bytes) even when the build side's
ROWS are too big to broadcast-join.

NULL semantics match SQL LEFT ANTI exactly: a NULL probe key never
equals anything, so those rows are routed straight to the certain
(kept) side; NULL build keys are excluded from the filter build (they
can never match either, and the null-fill would otherwise insert a
spurious key 0).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .cache import tie
from .sketches import BlockedBloomSketch, broadcast_probe_udf


def bloom_anti_join(
    probe: DataFrame,
    probe_key: str,
    build: DataFrame,
    build_key: str,
    *,
    p: float = 1e-3,
    n_keys: int | None = None,
) -> DataFrame:
    """Rows of ``probe`` with NO match in ``build`` (LEFT ANTI),
    Bloom-accelerated. ``n_keys`` sizes the filter (default: one
    count() of the build side — the same cost class as the build
    itself); ``p`` bounds the fraction of non-matching rows that still
    pay for exact verification."""
    build_keys = (
        build.select(F.col(build_key).alias("k"))
        .where(F.col("k").isNotNull())
        .persist()  # referenced by count, filter build, AND the verify
    )  # join: without it the build side is scanned three times; tied below
    n = n_keys if n_keys is not None else build_keys.count()
    sk = BlockedBloomSketch.for_np(n=max(int(n), 1024), p=p, col="k", scalar=True)
    payload, _ = sk.build_bytes(build_keys)

    # the disjunction below cannot be split around a Python UDF, so
    # NULL rows still reach it; they probe as key 0 and the result is
    # irrelevant (key_null keeps them)
    pred = broadcast_probe_udf(payload, probe.sparkSession)(F.col(probe_key))
    key_null = F.col(probe_key).isNull()
    certain = probe.filter(key_null | ~pred)  # definitely unmatched: keep
    candidates = probe.filter(~key_null & pred)  # true matches + FP <= p
    verified = candidates.join(
        build_keys.withColumnRenamed("k", "_rbf_bk").distinct(),
        candidates[probe_key] == F.col("_rbf_bk"),
        "left_anti",
    )
    return tie(certain.unionByName(verified), build_keys)


def bloom_inner_join(
    left: DataFrame,
    left_key: str,
    right: DataFrame,
    right_key: str,
    *,
    p: float = 1e-3,
    n_left: int | None = None,
    n_right: int | None = None,
    prune: str = "both",
) -> DataFrame:
    """INNER join with Bloom pre-pruning — the classic distributed
    "Bloom join" (Mackert & Lohman 1986's filter-shipping idea in its
    modern broadcast form): before any row shuffles, each side drops
    rows whose key is provably absent from the other side's filter
    (zero FN ⇒ dropping them cannot lose a join match; FPs merely ride
    along and die in the exact join). The surviving rows then run a
    plain inner join, so the result is bitwise the unpruned join while
    the SHUFFLE carries |matching| + p·|rest| rows per side instead of
    everything — on a 100-TB fact⋈fact join where neither side
    broadcasts as rows, two O(bytes) filters still do.

    ``prune`` selects "both", "left", or "right" (prune that side by
    the OTHER side's filter) — one-sided pruning is right when one
    side is already selective. NULL keys never join: they are filtered
    out with the same predicate (a NULL probes as key 0; the exact
    join would drop them anyway, pruning them early is free).

    Duplicate column names between the two sides are the caller's
    concern, exactly as with a plain ``.join``.

    Cost model, stated honestly: each pruned side is scanned twice —
    once (keys only, pushed-down projection) to build its filter, once
    pruned at the join. That trade wins when the join's SHUFFLE of
    non-matching rows dominates a key-column rescan, the usual case
    for wide fact rows with low match rates; for one selective side,
    ``prune="left"``/``"right"`` halves the filter builds.
    """
    if prune not in ("both", "left", "right"):
        raise ValueError(f"prune must be both|left|right, got {prune!r}")

    def _filter_of(df: DataFrame, key: str, n_hint: int | None) -> bytes:
        keys = df.select(F.col(key).alias("k")).where(F.col("k").isNotNull())
        n = n_hint if n_hint is not None else keys.count()
        sk = BlockedBloomSketch.for_np(n=max(int(n), 1024), p=p, col="k", scalar=True)
        payload, _ = sk.build_bytes(keys)
        return payload

    spark = left.sparkSession

    def _pruned(df: DataFrame, key: str, payload: bytes) -> DataFrame:
        # NULL rows may reach the UDF regardless of the conjunction (UDF
        # filters don't split reliably); they probe as key 0 and are
        # dropped by isNotNull either way
        return df.filter(
            F.col(key).isNotNull() & broadcast_probe_udf(payload, spark)(F.col(key))
        )

    # both filters are built from the ORIGINAL sides: building the left
    # filter from the already-pruned left would re-execute the pruned
    # plan (scan + probe UDF) once for the filter build and again for
    # the join — doubling the dominant cost on the big side (round-4
    # review); original-side filters keep it at one filter-build scan
    # plus one pruned join scan per side, still zero-FN both directions
    right_filter = (
        _filter_of(right, right_key, n_right) if prune in ("both", "left") else None
    )
    left_filter = (
        _filter_of(left, left_key, n_left) if prune in ("both", "right") else None
    )
    if right_filter is not None:
        left = _pruned(left, left_key, right_filter)
    if left_filter is not None:
        right = _pruned(right, right_key, left_filter)
    return left.join(right, left[left_key] == right[right_key])
