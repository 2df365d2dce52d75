"""Sketch rollup: OLAP cube cells of mergeable summaries, merged
upward instead of rescanned.

The point of a mergeable sketch cube: ONE corpus scan builds the
finest-grain cells (map-side combined, sketch rows only on the
shuffle), and every coarser grouping level — per-dim subtotals up to
the grand total — comes from merging the CELL PAYLOADS, never from
touching the corpus again. An exact GROUPING SETS over distinct counts
re-scans (or at best re-shuffles) the full data once per level; the
sketch rollup moves |cells| x sketch-bytes. At 100 TB with a
types x days cube that is megabytes instead of repeated corpus passes,
and the merge algebra (associative + commutative + canonical bytes,
the reference's axioms, /root/reference/src/bloomfilter/mod.rs:621-761)
guarantees the rolled-up payload is BITWISE the payload a direct build
of the coarser group would have produced — pinned in tests, so every
level's estimate carries the sketch's published error bound, not a
compounding one.

Works for any sketch kind in the registry (magic-dispatch merge); the
HLL front-end ``hll_rollup`` is the common case (distinct counts per
cube cell).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import BinaryType, LongType, StructField, StructType

from ..sketch import merge_sketch_payloads, sketch_from_bytes
from .aggregate import SketchRows, merge_level
from .sketches import HllSketch, rowwise_udf

# unit separator: cannot appear in real dim values (control char); a
# NULL dim value is encoded distinctly from the string "NULL"
_SEP = "\x1f"
_NULL = "\x00"


def sketch_rollup(
    cells: DataFrame,
    dims: list[str],
    *,
    payload_col: str = "payload",
    n_col: str = "n_items",
) -> DataFrame:
    """Finest-grain sketch cells -> every ROLLUP level, by payload
    merge. Level L groups on dims[:L]; rolled-up dims are NULL (like
    SQL ROLLUP), ``level`` disambiguates a real NULL dim value from a
    rolled-up one. Each level is one keyed merge level (payloads
    merged, ``n_col`` summed) over the cell-count-sized frame — the
    corpus is never re-read. Cells with a NULL payload are skipped."""
    for d in dims:
        if d not in cells.columns:
            raise ValueError(f"dim column {d!r} not in cells frame")
    present = cells.where(F.col(payload_col).isNotNull())
    levels = []
    for lvl in range(len(dims), -1, -1):
        keys = dims[:lvl]
        rows = SketchRows(
            StructType(
                [cells.schema[d] for d in keys]
                + [StructField(payload_col, BinaryType()), StructField(n_col, LongType())]
            ),
            ((payload_col, merge_sketch_payloads, None),),
            sums=(n_col,),
            keys=tuple(keys),
        )
        # the finest level groups too (not a pass-through): a cells
        # frame holding >1 row per dim combination (e.g. per-partition
        # sketches that were never key-merged) must merge at EVERY
        # level, or the finest level would emit fragments while
        # subtotals are whole — an internally inconsistent cube. The
        # merge level also sums n_col: an Arrow GROUPED_AGG merge could
        # not share one agg() with a built-in sum.
        agg = merge_level(present.select(*keys, payload_col, n_col), rows, by=keys)
        for d in dims[lvl:]:
            agg = agg.withColumn(d, F.lit(None).cast("string"))
        levels.append(agg.select(*dims, F.lit(lvl).alias("level"), payload_col, n_col))
    out = levels[0]
    for extra in levels[1:]:
        out = out.unionByName(extra)
    return out


def hll_rollup(
    df: DataFrame,
    dims: list[str],
    value_col: str,
    *,
    scalar: bool = True,
    p: int = 14,
) -> DataFrame:
    """Distinct-count cube: one scan builds a per-cell HLL (map-side
    combined via build_by_key on a packed cell key — no per-row Python,
    hot cells never concentrate row data), then sketch_rollup merges
    upward. -> (dims..., level, n_items, est_distinct, payload).

    ``est_distinct`` at EVERY level carries the same 1.04/sqrt(2^p)
    standard error as a direct build of that group (merge-exactness,
    pinned bitwise in tests) — errors do not compound with level.
    """
    packed = df.withColumn(
        "_cell",
        F.concat_ws(
            _SEP,
            *[F.coalesce(F.col(d).cast("string"), F.lit(_NULL)) for d in dims],
        ),
    )
    cells = HllSketch(p=p, col=value_col, scalar=scalar).build_by_key(
        packed.select("_cell", value_col), "_cell"
    )
    parts = F.split(F.col("key"), _SEP, -1)
    for i, d in enumerate(dims):
        cells = cells.withColumn(
            d,
            F.when(parts.getItem(i) == _NULL, F.lit(None)).otherwise(parts.getItem(i)),
        )
    rolled = sketch_rollup(cells.select(*dims, "payload", "n_items"), dims)
    est = rowwise_udf("double", lambda p: float(sketch_from_bytes(p).estimate()))
    return rolled.select(
        *dims, "level", "n_items", est(F.col("payload")).alias("est_distinct"), "payload"
    )
