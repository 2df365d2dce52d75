"""Trailing-window distinct counts ("7-day actives") — exact and
sketch-merged.

The exact form has no merge: COUNT(DISTINCT) over a trailing window
cannot reuse yesterday's answer (distinct counts don't subtract), so
the scalable exact plan EXPANDS each row map-side into the ≤``days``
window days it contributes to — one shuffle of (window_day, id) pairs,
×``days`` the scan volume, still one pass.

The sketch form exploits HLL's union algebra instead: build ONE HLL
per calendar day (keyed build, map-side combine — only sketch rows
shuffle), then assemble every trailing window by merging ≤``days``
payloads per window day. The corpus is scanned once regardless of the
window length; the window-assembly join runs over |days| sketch rows —
the output size itself. Register-max union means each merged state is
EXACTLY the sketch of the true window union (no compounding), so every
window estimate keeps the plain 1.04/sqrt(2^p) bound. This is the
standard production pattern for "N-day actives" at corpus scale:
per-day sketches are persisted once and every window length is a
payload merge, never a recount.

Reference scope: composition of the reference's merge algebra
(mod.rs:621-761 — associative/commutative union) over calendar
windows; no analogous surface exists in /root/reference.
"""
from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..sketch import HyperLogLog, merge_sketch_payloads
from .aggregate import SketchRows, merge_level

__all__ = ["sliding_distinct_exact", "sliding_distinct_hll"]


def sliding_distinct_exact(
    df: DataFrame, day_col: str, id_col: str, *, days: int = 7
) -> DataFrame:
    """-> (day string, distinct_ids bigint): exact distinct ``id_col``
    over the trailing ``days``-day window ending at each OBSERVED day.

    ``day_col`` must be a DATE column. Each row expands map-side into
    the window days it reaches (sequence(day, day+days-1)); the only
    shuffle is the (window_day, id) aggregate, partially deduplicated
    map-side by Spark's two-phase distinct. Window days with no
    observed activity are dropped (they exist only as other days'
    tails), matching the per-observed-day oracle formulation.
    """
    if days < 1:
        raise ValueError(f"days must be >= 1, got {days}")
    contrib = df.select(
        F.explode(
            F.sequence(F.col(day_col), F.date_add(F.col(day_col), days - 1))
        ).alias("wday"),
        F.col(id_col).alias("_id"),
    )
    observed = df.select(F.col(day_col).alias("wday")).distinct()
    return (
        contrib.join(F.broadcast(observed), "wday", "left_semi")
        .groupBy("wday")
        .agg(F.countDistinct("_id").alias("distinct_ids"))
        .select(F.date_format("wday", "yyyy-MM-dd").alias("day"), "distinct_ids")
    )


def sliding_distinct_hll(
    df: DataFrame, day_col: str, id_col: str, *, days: int = 7, p: int = 14
) -> DataFrame:
    """-> (day string, distinct_est double): HLL estimate of distinct
    ``id_col`` over the trailing ``days``-day window per observed day.

    One corpus scan builds a per-day HLL (keyed build; sketch rows only
    on the shuffle). The trailing windows are assembled by a range join
    over the |days_observed|-row SKETCH frame (broadcast — it IS the
    output size) and a grouped payload merge; estimates keep the plain
    1.04/sqrt(2^p) bound because register-max union is exact on states.
    """
    if days < 1:
        raise ValueError(f"days must be >= 1, got {days}")
    from .cache import tie
    from .sketches import HllSketch, rowwise_udf

    keyed = HllSketch(p=p, col=id_col, scalar=True).build_by_key(
        df.where(F.col(day_col).isNotNull()), day_col
    )
    # the range join references the sketch frame twice (window days +
    # payload side); without a persist the per-day build — and the
    # corpus scan under it — recomputes per reference (CLAUDE.md
    # self-join rule, verified: 4 source scans in the unpersisted plan)
    sk = keyed.select(F.to_date("key").alias("sday"), "payload").persist()
    # build_by_key emits exactly one row per day already — no distinct
    wdays = sk.select(F.col("sday").alias("wday"))
    pairs = sk.join(
        F.broadcast(wdays),
        (F.col("sday") <= F.col("wday"))
        & (F.col("sday") >= F.date_sub(F.col("wday"), days - 1)),
    )
    rows = SketchRows(
        "wday date, payload binary",
        (("payload", merge_sketch_payloads, None),),
        sums=(),
        keys=("wday",),
    )
    merged = merge_level(pairs.select("wday", "payload"), rows, by=["wday"])
    estimate = rowwise_udf("double", lambda b: round(HyperLogLog.from_bytes(b).estimate(), 2))
    return tie(
        merged.select(
            F.col("wday").cast("string").alias("day"),
            estimate("payload").alias("distinct_est"),
        ),
        sk,
    )
