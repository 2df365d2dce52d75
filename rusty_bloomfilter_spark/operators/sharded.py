"""Sharded Bloom filter: membership at filter sizes no single task
could hold.

The north rule targets 10^12-sequence corpora. A single Bloom filter
for 10^12 distinct items at p=1e-4 is ~2.2 TB of bits — no executor
(or driver broadcast) can hold it. The standard scale-out is hash
sharding: route every token by an independent 64-bit hash into one of
S shards, keep one correctly-sized filter per shard
(n_per_shard = n_total/S), and make BOTH build and probe route by the
same hash:

- build, two plans with an explicit memory/shuffle trade:
  * map-side combine (``routed=False``): each input partition folds
    its tokens into local shard accumulators and a groupBy(shard)
    merge ORs the partials. Zero row shuffle — but uniform hashing
    means every partition touches every shard, so a task holds ALL S
    shard filters (the full filter size). Right only when the total
    filter fits a task: it parallelizes the merge, nothing more.
  * routed (``routed=True``): token hashes shuffle ONCE by shard
    (narrow (shard, h) rows, 12 bytes each) into shard-hash-partitioned
    tasks, and each task folds ONLY the shards that land in it
    (~S/P shards): per-task filter memory = total/(P) — THE plan for
    filters bigger than any executor. No second merge: a shard's rows
    all land in one partition, so the partition's accumulators are
    final.
- probe: tokens shuffle ONCE by shard (same narrow rows) and cogroup
  against the sketch frame — each task decodes exactly one shard's
  filter. Broadcasting the whole filter set would be the same TBs as
  the unsharded filter; the shuffle-by-shard is the only probe plan
  that scales past executor memory.

Zero false negatives survive sharding (a token probes the shard it was
inserted into — same routing hash); the FPR of each shard follows its
own shape, so the configured p holds globally. The routing hash
(splitmix64 of token XOR a fixed salt) is independent of the filter's
K-M index hashes, so shard membership doesn't bias within-shard bit
positions.

Merge algebra is shard-wise OR: two sharded builds with the same
(S, shape) merge by unioning their sketch frames and re-merging per
shard — associative/commutative like every sketch here.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sketch import BlockedBloomFilter, merge_sketch_payloads, sketch_from_bytes
from ..sketch.hashing import splitmix64
from .aggregate import SketchRows, fold_sketches, merge_tree
from .sketches import arrow_flat_tokens, flat_ngram_hashes

SHARD_SALT = np.uint64(0xA076_1D64_78BD_642F)  # splitmix64 increment constant


# OR-merge of sketch rows sharing one shard id: the build fan-in
# (ShardedBloomSketch.build) and the cross-snapshot union
# (plans/incremental.merge_shard_frames) both merge through this one
# layout and aggregate's keyed merge level, so their semantics cannot
# diverge (payload validation, schema, n_items accounting).
SHARDED_SCHEMA = "shard int, payload binary, n_items bigint"
SHARD_ROWS = SketchRows(SHARDED_SCHEMA, (("payload", merge_sketch_payloads, None),), keys=("shard",))


def _add_counted_hashes(acc: BlockedBloomFilter, batch) -> None:
    """Routed-build update over (shard, h, cnt) rows: insert the hashes
    and count n_items as TOKEN insertions (pre-dedup) — the count is
    baked into the wire header, so bitwise parity with the map-side
    build requires it."""
    h = batch.column("h").to_numpy(zero_copy_only=False).view(np.uint64)
    acc.add_hashes(h)
    acc.n_items += int(batch.column("cnt").to_numpy(zero_copy_only=False).sum()) - len(h)


def _shard_filter(sketch: pa.Table):
    """A shard's filter from its sketch rows, or None when the build
    never saw the shard (nothing was inserted). A unioned-but-not-yet-
    remerged sketch frame has several rows per shard: they are merged
    here rather than silently probing one (a false-negative hole)."""
    payloads = sketch.column("payload").to_pylist()
    if not payloads:
        return None
    return sketch_from_bytes(payloads[0] if len(payloads) == 1 else merge_sketch_payloads(payloads))


def shard_of(hashes: np.ndarray, n_shards: int) -> np.ndarray:
    """Routing hash, independent of the filter's index hashes: one
    extra splitmix64 mix of the token hash XOR a fixed salt."""
    return (splitmix64(hashes ^ SHARD_SALT) % np.uint64(n_shards)).astype(np.int64)


class ShardedBloomSketch:
    """S independent blocked Bloom filters keyed by token-hash shard.

    ``n_total`` is the expected TOTAL distinct count; each shard is
    sized for n_total/n_shards (hash routing is uniform, so per-shard
    load concentrates tightly around the mean — at n/S >= 10^6 the
    imbalance is < 1%).
    """

    def __init__(
        self,
        n_total: int,
        p: float,
        n_shards: int,
        *,
        col: str = "tokens",
        ngram: int = 1,
        scalar: bool = False,
    ):
        if n_shards < 1:
            raise ValueError(f"n_shards must be >= 1, got {n_shards}")
        if scalar and ngram != 1:
            raise ValueError("ngram applies to array columns only")
        self.n_shards = int(n_shards)
        self.p = float(p)
        self.n_per_shard = max(1, int(np.ceil(n_total / n_shards)))
        self.col = col
        self.ngram = int(ngram)
        self.scalar = bool(scalar)

    def _empty(self) -> BlockedBloomFilter:
        return BlockedBloomFilter.for_np(n=self.n_per_shard, p=self.p)

    def _flat_hashes(self, batch) -> np.ndarray:
        """Fully-mixed uint64 hashes of every item: each within-row
        n-gram of an array column (ngram=1: splitmix64 per token), or
        each value of a scalar int64 column — the form add_hashes/
        contains_hashes expect."""
        from .sketches import _scalar_values, arrow_row_lengths

        if self.scalar:
            vals = _scalar_values(batch, self.col)
            if vals.size == 0:
                return np.empty(0, dtype=np.uint64)
            return splitmix64(vals.view(np.uint64))
        flat = arrow_flat_tokens(batch, self.col)
        lengths = arrow_row_lengths(batch, self.col)
        return flat_ngram_hashes(flat, lengths, self.ngram)

    # -- build ---------------------------------------------------------

    def build(
        self, df: DataFrame, *, routed: bool = False, shuffle_partitions: int | None = None
    ) -> DataFrame:
        """-> (shard, payload, n_items), one row per shard.

        ``routed=False`` (map-side combine): per-partition fold (sort +
        segment slice, no per-token Python) then groupBy(shard) merge —
        zero row shuffle, but each task holds all S shard accumulators;
        use when the TOTAL filter fits a task.
        ``routed=True``: shuffle narrow (shard, h) rows by shard first,
        fold inside the shard-partitioned tasks — per-task memory is
        one partition's share of the filter; use when it doesn't.
        """
        if routed:
            return self._build_routed(df, shuffle_partitions)
        n_shards = self.n_shards
        make_empty = self._empty
        flat_hashes = self._flat_hashes

        def build_partition(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
            accs: dict[int, BlockedBloomFilter] = {}
            for batch in batches:
                h = flat_hashes(batch)
                if not h.size:
                    continue
                shards = shard_of(h, n_shards)
                order = np.argsort(shards, kind="stable")
                sh = shards[order]
                hh = h[order]
                starts = np.concatenate(([0], np.flatnonzero(sh[1:] != sh[:-1]) + 1))
                bounds = np.concatenate((starts, [len(sh)]))
                for i, s in enumerate(sh[starts]):
                    acc = accs.get(int(s))
                    if acc is None:
                        acc = accs[int(s)] = make_empty()
                    acc.add_hashes(hh[bounds[i] : bounds[i + 1]])
            if accs:
                yield pa.RecordBatch.from_arrays(
                    [
                        pa.array(list(accs.keys()), type=pa.int32()),
                        pa.array([a.to_bytes() for a in accs.values()], type=pa.binary()),
                        pa.array([a.n_items for a in accs.values()], type=pa.int64()),
                    ],
                    names=["shard", "payload", "n_items"],
                )

        partial = df.select(self.col).mapInArrow(build_partition, schema=SHARDED_SCHEMA)
        return merge_tree(partial, SHARD_ROWS)

    def _hash_rows(self, df: DataFrame, *, with_counts: bool = False) -> DataFrame:
        """(shard, h) per token — the narrow routing frame both the
        routed build and the probe shuffle.

        ``with_counts=True`` (build path only): map-side dedup — each
        Arrow batch emits its DISTINCT hashes plus their multiplicity
        (shard, h, cnt). Bloom insertion is idempotent, so dropping
        duplicate hashes before the shuffle changes nothing about the
        filter while cutting shuffled rows by the batch's repeat factor
        (~10x on zipf-ish token streams whose batch size exceeds the
        vocabulary); cnt preserves exact n_items accounting. NOT used
        for probes — probe counts are per-occurrence semantics."""
        n_shards = self.n_shards
        flat_hashes = self._flat_hashes

        def rows(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
            for batch in batches:
                h = flat_hashes(batch)
                if not h.size:
                    continue
                if with_counts:
                    h, cnt = np.unique(h, return_counts=True)
                    yield pa.RecordBatch.from_arrays(
                        [
                            pa.array(shard_of(h, n_shards), type=pa.int32()),
                            pa.array(h.view(np.int64), type=pa.int64()),
                            pa.array(cnt.astype(np.int64), type=pa.int64()),
                        ],
                        names=["shard", "h", "cnt"],
                    )
                else:
                    yield pa.RecordBatch.from_arrays(
                        [
                            pa.array(shard_of(h, n_shards), type=pa.int32()),
                            pa.array(h.view(np.int64), type=pa.int64()),
                        ],
                        names=["shard", "h"],
                    )

        schema = "shard int, h bigint, cnt bigint" if with_counts else "shard int, h bigint"
        return df.select(self.col).mapInArrow(rows, schema=schema)

    def _build_routed(self, df: DataFrame, shuffle_partitions: int | None) -> DataFrame:
        # hash partitioning puts ALL of a shard's rows in one partition,
        # so the keyed stage-1 fold over them is final — no re-merge
        n_parts = int(shuffle_partitions or self.n_shards)
        routedf = self._hash_rows(df, with_counts=True).repartition(n_parts, "shard")
        spec = [("shard", self._empty, _add_counted_hashes, None)]
        return fold_sketches(routedf, spec, key_col="shard").select(
            F.col("key").cast("int").alias("shard"),
            F.col("payload_shard").alias("payload"),
            F.col("n_shard").alias("n_items"),
        )

    # -- probe ---------------------------------------------------------

    def count_contained(
        self, df: DataFrame, sketch_df: DataFrame, spark: SparkSession | None = None
    ) -> tuple[int, int]:
        """(hits, total) over every token of ``df`` probed against the
        sharded filter. Probe hashes shuffle ONCE by shard (narrow
        (shard, h) rows) and cogroup with the sketch frame — each task
        decodes exactly one shard's filter, so probe memory is bounded
        by one shard regardless of the total filter size."""
        probes = self._hash_rows(df)

        def probe_shard(hashes: pa.Table, sketch: pa.Table) -> pa.Table:
            hits, total = 0, hashes.num_rows
            bf = _shard_filter(sketch) if total else None
            if bf is not None:
                hits = int(bf.contains_hashes(hashes.column("h").to_numpy().view(np.uint64)).sum())
            return pa.table(
                {"hits": pa.array([hits], pa.int64()), "total": pa.array([total], pa.int64())}
            )

        out = (
            probes.groupBy("shard")
            .cogroup(sketch_df.select("shard", "payload").groupBy("shard"))
            .applyInArrow(probe_shard, "hits bigint, total bigint")
            .agg(F.sum("hits").alias("hits"), F.sum("total").alias("total"))
            .collect()[0]
        )
        return int(out["hits"] or 0), int(out["total"] or 0)

    def flag_contained(
        self, df: DataFrame, sketch_df: DataFrame, *, id_col: str
    ) -> DataFrame:
        """Per-row membership verdict for a SCALAR sketch: -> (id_col,
        probably_seen boolean). Zero FN: every value that was inserted
        flags True; a True on a novel value is a false positive at the
        configured p. Same shuffle-by-shard shape as count_contained —
        the id rides the narrow probe row, one shard's filter per task.
        """
        if not self.scalar:
            raise ValueError("flag_contained requires a scalar-column sketch")
        n_shards = self.n_shards
        col = self.col

        def hash_rows(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
            from .sketches import _scalar_values

            for batch in batches:
                vals = _scalar_values(batch, col)
                if vals.size == 0:
                    continue
                id_arr = batch.column(id_col)
                if id_arr.null_count:
                    # A NULL id would round-trip through float NaN and
                    # silently cast to INT64_MIN — fail loudly instead.
                    raise ValueError(
                        f"flag_contained: {id_arr.null_count} NULL values in "
                        f"id column {id_col!r}; ids must be non-null"
                    )
                ids = id_arr.to_numpy(zero_copy_only=False)
                h = splitmix64(vals.view(np.uint64))
                yield pa.RecordBatch.from_arrays(
                    [
                        pa.array(shard_of(h, n_shards), type=pa.int32()),
                        pa.array(h.view(np.int64), type=pa.int64()),
                        pa.array(ids.astype(np.int64), type=pa.int64()),
                    ],
                    names=["shard", "h", "rid"],
                )

        probes = df.select(id_col, col).mapInArrow(
            hash_rows, schema="shard int, h bigint, rid bigint"
        )

        def probe_shard(hashes: pa.Table, sketch: pa.Table) -> pa.Table:
            bf = _shard_filter(sketch) if hashes.num_rows else None
            if bf is None:
                seen = np.zeros(hashes.num_rows, bool)
            else:
                seen = bf.contains_hashes(hashes.column("h").to_numpy().view(np.uint64))
            return pa.table({"rid": hashes.column("rid"), "probably_seen": pa.array(seen)})

        out = (
            probes.groupBy("shard")
            .cogroup(sketch_df.select("shard", "payload").groupBy("shard"))
            .applyInArrow(probe_shard, "rid bigint, probably_seen boolean")
        )
        return out.select(F.col("rid").alias(id_col), "probably_seen")

    # -- stats ---------------------------------------------------------

    def stats(self, sketch_df: DataFrame) -> DataFrame:
        """Per-shard (shard, n_items, fill_ratio, bytes) — the
        north-rule sketch-size/fill metrics, one narrow row per shard."""

        def per_shard(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
            for batch in batches:
                shards = batch.column("shard").to_pylist()
                payloads = batch.column("payload").to_pylist()
                items = batch.column("n_items").to_pylist()
                fills, sizes = [], []
                for p in payloads:
                    bf = sketch_from_bytes(bytes(p))
                    fills.append(round(bf.fill_ratio(), 8))
                    sizes.append(len(bytes(p)))
                yield pa.RecordBatch.from_arrays(
                    [
                        pa.array(shards, type=pa.int32()),
                        pa.array(items, type=pa.int64()),
                        pa.array(fills, type=pa.float64()),
                        pa.array(sizes, type=pa.int64()),
                    ],
                    names=["shard", "n_items", "fill_ratio", "n_bytes"],
                )

        return sketch_df.mapInArrow(
            per_shard, schema="shard int, n_items bigint, fill_ratio double, n_bytes bigint"
        )
