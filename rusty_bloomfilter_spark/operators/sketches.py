"""Distributed sketches over DataFrames: Bloom, HLL, CMS, KLL and friends.

Each sketch class is a spec — ``_empty`` / ``_update`` over Arrow batches,
plus its merge — wired into the single fold + tree-merge pipeline of
.aggregate by one shared base (``_ColumnSketch``); the classes add only
their own probe and estimate methods. Updates consume whole Arrow
batches — ragged ``tokens`` arrays are flattened with offsets in C
(np.concatenate), so there is no per-row Python in the hot path
(BASELINE.json input_hint).
"""

from __future__ import annotations

from collections.abc import Callable

import numpy as np
import pandas as pd
import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.functions import arrow_udf

from ..sketch import (
    BlockedBloomFilter,
    BloomFilter,
    CountMinSketch,
    CountSketch,
    DDSketch,
    HyperLogLog,
    KLLSketch,
    MisraGries,
    Shape,
    merge_payloads,
    merge_sketch_payloads,
    ngram_hashes,
    sketch_from_bytes,
    tokens_to_u64,
)
from ..sketch.hashing import splitmix64
from .aggregate import build_by_key, build_sketch, collect_sketch_bytes

# ---------------------------------------------------------------------------
# Batch flattening helpers (ragged array<int> columns -> flat numpy)
# ---------------------------------------------------------------------------


def flatten_tokens(series: pd.Series) -> np.ndarray:
    """Ragged pandas token column -> flat int64 array."""
    vals = [np.asarray(v) for v in series.to_numpy() if v is not None and len(v)]
    if not vals:
        return np.empty(0, dtype=np.int64)
    return np.concatenate(vals).astype(np.int64, copy=False)


def _list_column(batch: pa.RecordBatch, col: str):
    arr = batch.column(col)
    if isinstance(arr, pa.ChunkedArray):  # defensive; RecordBatch gives Array
        arr = arr.combine_chunks()
    return arr


def as_batch(values: pa.Array) -> pa.RecordBatch:
    """One Arrow UDF argument as a one-column batch (column "v"), the
    input the batch helpers and the specs' ``_update`` take."""
    return pa.RecordBatch.from_arrays([values], ["v"])


def arrow_flat_tokens(batch: pa.RecordBatch, col: str) -> np.ndarray:
    """Zero-copy flatten of an Arrow list<int> column."""
    return _list_column(batch, col).flatten().to_numpy(zero_copy_only=False)


def arrow_row_lengths(batch: pa.RecordBatch, col: str) -> np.ndarray:
    lens = _list_column(batch, col).value_lengths().to_numpy(zero_copy_only=False)
    return np.nan_to_num(lens, nan=0.0).astype(np.int64)


def dedup_counts(flat: np.ndarray) -> tuple[np.ndarray, np.ndarray] | None:
    """(distinct values, multiplicities) via bincount when the value
    range is narrow relative to the batch — the shape of a token stream,
    whose values live in a bounded vocabulary (~50k-200k) while a
    partition's batch holds millions of occurrences. Returns None when
    dedup wouldn't pay (small batch, or wide-range values like 64-bit
    ids). O(n + range) sequential passes — no sort (sorting Arrow-batch
    sized arrays is cache-hostile, see CLAUDE.md).

    Sketch updates are either insert-idempotent (Bloom, HLL — callers
    must correct the accumulator's n_items by the dedup delta to keep
    canonical bytes partition-invariant) or accept multiplicity weights
    (CMS), so folding a batch through its distinct values cuts
    hash+update work by the batch's repeat factor (~75x on a 50k-vocab
    4M-token partition) for two linear scans.
    """
    n = flat.size
    if n < (1 << 14) or flat.dtype.kind not in "iu":
        return None  # small batch, or float (nullable flatten) — decline
    if flat.dtype == np.uint64:
        return None  # bincount can't safe-cast uint64 — decline, not crash
    lo = int(flat.min())
    rng = int(flat.max()) - lo + 1
    if rng > (1 << 22) or rng > 4 * n:
        return None
    counts = np.bincount(flat - lo, minlength=rng)
    nz = np.flatnonzero(counts)
    return (nz + lo).astype(flat.dtype, copy=False), counts[nz]


def _scalar_values(batch, col: str) -> np.ndarray:
    """Scalar numeric column -> int64 numpy (nulls -> 0).

    Integer columns must NOT round-trip through float64: pyarrow's
    to_numpy on an int array with nulls produces float64(NaN), which
    silently rounds |v| > 2^53 (e.g. xxhash64 ids) and can turn a
    present value into a different probe value — a false negative.
    Nulls are filled at the Arrow level so the integer path stays exact.
    """
    arr = batch.column(col)
    if isinstance(arr, pa.ChunkedArray):
        arr = arr.combine_chunks()
    if arr.null_count:
        arr = arr.fill_null(0)
    if pa.types.is_floating(arr.type):
        vals = np.nan_to_num(arr.to_numpy(zero_copy_only=False), nan=0.0)
        return vals.astype(np.int64)
    if not pa.types.is_integer(arr.type):
        arr = arr.cast(pa.int64())
    return arr.to_numpy(zero_copy_only=False).astype(np.int64, copy=False)


def _series_probe_values(s: pd.Series) -> np.ndarray:
    """Probe Series -> exact int64 (pandas-side mirror of _scalar_values,
    for the streaming state functions, which receive pandas).

    An int64 probe column WITH NULLs reaches a pandas UDF as float64
    (Arrow->pandas promotion), which silently rounds |v| >= 2^53 — a
    rounded probe can miss its true filter entry, a false negative.
    NaNs probe as 0 (same as _scalar_values' null fill); when floats
    exceed 2^53 the original key is unrecoverable, so fail loudly.
    """
    vals = s.to_numpy()
    if vals.dtype.kind == "f":
        vals = np.nan_to_num(vals, nan=0.0)
        if vals.size and np.abs(vals).max() >= 2.0**53:
            raise ValueError(
                "probe column arrived as float64 (nullable-int64 promotion) "
                "with |value| >= 2^53; the original integer key is "
                "unrecoverable — filter NULLs out of the probe column first"
            )
        return vals.astype(np.int64)
    if vals.dtype.kind in "iu":
        return vals.astype(np.int64, copy=False)
    return vals.astype(np.int64)


_ARROW_TYPES = {
    "binary": pa.binary(),
    "bigint": pa.int64(),
    "double": pa.float64(),
    "array<bigint>": pa.list_(pa.int64()),
    "array<double>": pa.list_(pa.float64()),
}


def rowwise_udf(returns: str, fn: Callable):
    """Scalar Arrow UDF of one or two columns: ``fn(*row)`` per row over
    exact Python values (ints stay ints, binary is bytes); a row with a
    NULL argument is NULL. ``returns`` is a DDL key of _ARROW_TYPES."""
    out_type = _ARROW_TYPES[returns]

    def apply(*cols: pa.Array) -> pa.Array:
        rows = zip(*(c.to_pylist() for c in cols))
        return pa.array([None if None in row else fn(*row) for row in rows], type=out_type)

    if fn.__code__.co_argcount == 1:

        def one(a: pa.Array) -> pa.Array:
            return apply(a)

        return arrow_udf(one, returns)

    def two(a: pa.Array, b: pa.Array) -> pa.Array:
        return apply(a, b)

    return arrow_udf(two, returns)


def _broadcast_sketch(payload: bytes, spark: SparkSession | None) -> Callable:
    """Broadcast a sketch payload -> a getter that deserializes it once
    per python worker. Dispatch is by wire magic INSIDE the worker
    (sketch_from_bytes), never by closing over a sketch class:
    cloudpickle would serialize the class by value and trip on its
    module-level struct.Struct objects."""
    spark = spark or SparkSession.getActiveSession()
    bc = spark.sparkContext.broadcast(payload)
    cache: dict = {}

    def sketch():
        if "sk" not in cache:
            cache["sk"] = sketch_from_bytes(bc.value)
        return cache["sk"]

    return sketch


def broadcast_probe_udf(payload: bytes, spark: SparkSession | None = None):
    """boolean Arrow UDF: probe a scalar int column against a broadcast
    membership-sketch payload (Bloom / blocked / counting). Arrow hands
    over exact int64 values; a NULL probes as key 0 (_scalar_values)."""
    sketch = _broadcast_sketch(payload, spark)

    def probe(keys: pa.Array) -> pa.Array:
        return pa.array(sketch().contains_tokens(_scalar_values(as_batch(keys), "v")))

    return arrow_udf(probe, "boolean")


def count_contained_in(
    df: DataFrame,
    payload: bytes,
    col: str,
    *,
    scalar: bool = False,
    spark: SparkSession | None = None,
) -> tuple[int, int]:
    """(hits, total): probe EVERY token of ``col`` against a broadcast
    membership-sketch payload without exploding rows — Arrow-flatten
    each batch, vectorized membership, per-partition (hits, total)
    rows, tiny final agg. One implementation for every filter kind
    (magic dispatch via sketch_from_bytes — previously a verbatim copy
    per sketch class, round-4 review); per-occurrence semantics via
    dedup multiplicity weighting on token-array columns."""
    sketch = _broadcast_sketch(payload, spark)

    def probe(batches):
        bf = sketch()
        hits = 0
        total = 0
        for batch in batches:
            toks = (
                _scalar_values(batch, col) if scalar else arrow_flat_tokens(batch, col)
            )
            if toks.size:
                dc = None if scalar else dedup_counts(toks)
                if dc is None:
                    hits += int(bf.contains_tokens(toks).sum())
                else:  # per-occurrence semantics via multiplicities
                    hits += int(dc[1][bf.contains_tokens(dc[0])].sum())
                total += int(toks.size)
        yield pa.RecordBatch.from_arrays(
            [pa.array([hits], type=pa.int64()), pa.array([total], type=pa.int64())],
            names=["hits", "total"],
        )

    out = (
        df.select(col)
        .mapInArrow(probe, schema="hits bigint, total bigint")
        .agg(F.sum("hits").alias("h"), F.sum("total").alias("t"))
        .collect()[0]
    )
    return int(out["h"]), int(out["t"])


def flat_ngram_hashes(flat: np.ndarray, lengths: np.ndarray, n: int) -> np.ndarray:
    """All within-row n-gram hashes, vectorized: hash the concatenated
    stream once, then mask out windows that cross row boundaries."""
    if flat.size == 0:
        return np.empty(0, dtype=np.uint64)
    if n == 1:
        return splitmix64(tokens_to_u64(flat))
    h = ngram_hashes(flat, n)  # windows over the whole stream
    if h.size == 0:
        return h
    row_of = np.repeat(np.arange(len(lengths)), lengths)
    starts = np.arange(len(h))
    keep = row_of[starts] == row_of[starts + n - 1]
    return h[keep]


# ---------------------------------------------------------------------------
# Shared build surface and dedup updates
# ---------------------------------------------------------------------------


def add_idempotent(acc, toks: np.ndarray) -> None:
    """Insert-idempotent update (Bloom, blocked Bloom, HLL): insert the
    batch's distinct values — they set the same bits/registers — and
    correct n_items to the occurrence count (baked into the wire header:
    partition invariance)."""
    dc = dedup_counts(toks)
    if dc is None:
        acc.add_tokens(toks)
    else:
        acc.add_tokens(dc[0])
        acc.n_items += toks.size - dc[0].size


def add_weighted(acc, toks: np.ndarray) -> None:
    """Multiplicity-weighted update (CMS, AMS, Misra-Gries): the sketch
    consumes (distinct value, count) natively; bincount weights stay
    small exact ints, so the table bits are identical to a per-token
    insert and n_items needs no correction."""
    dc = dedup_counts(toks)
    if dc is None:
        acc.add_tokens(toks)
    else:
        acc.add_u64(tokens_to_u64(dc[0]), dc[1])


class _ColumnSketch:
    """A sketch over one column, built through .aggregate: subclasses
    set ``col`` and define ``_empty()`` and ``_update(acc, batch)``."""

    col: str
    _merge = staticmethod(merge_sketch_payloads)

    def build(self, df: DataFrame, *, fanout: int = 16) -> DataFrame:
        """-> single-row DataFrame (payload binary, n_items bigint)."""
        return build_sketch(
            df, self._empty, self._update, self._merge, columns=[self.col], fanout=fanout
        )

    def build_bytes(self, df: DataFrame, *, fanout: int = 16) -> tuple[bytes, int]:
        return collect_sketch_bytes(self.build(df, fanout=fanout))

    def build_by_key(self, df: DataFrame, key_col: str, *, salt: int = 0) -> DataFrame:
        """-> DataFrame (key, payload, n_items), one sketch per key (map-side
        combine; sketch rows only on the shuffle)."""
        return build_by_key(
            df, key_col, self._empty, self._update, self._merge,
            columns=[key_col, self.col], salt=salt,
        )


class _TokenSketch(_ColumnSketch):
    """A sketch over a token-array column, or a scalar int column when
    ``scalar`` (exact int64 values, no float64 rounding of full-range
    ids; no dedup fold). ``ngram`` > 1 inserts within-row n-gram hashes
    through ``_add_hashes`` (membership sketches only)."""

    scalar: bool = False
    ngram: int = 1
    _add = staticmethod(add_idempotent)

    def _update(self, acc, batch) -> None:
        if self.scalar:
            vals = _scalar_values(batch, self.col)
            if vals.size:
                acc.add_tokens(vals)
        elif self.ngram == 1:
            toks = arrow_flat_tokens(batch, self.col)
            if toks.size:
                self._add(acc, toks)
        else:
            flat = arrow_flat_tokens(batch, self.col)
            lengths = arrow_row_lengths(batch, self.col)
            h = flat_ngram_hashes(flat, lengths, self.ngram)
            if h.size:
                self._add_hashes(acc, h)


class _MembershipSketch(_TokenSketch):
    """A membership filter (Bloom, blocked, counting): probes decode
    the payload by its wire magic inside the worker."""

    def might_contain_udf(self, payload: bytes, spark: SparkSession | None = None):
        """Vectorized membership probe for a scalar int column.
        Deserializes the broadcast filter once per python worker."""
        return broadcast_probe_udf(payload, spark)

    def count_contained(self, df: DataFrame, payload: bytes, spark: SparkSession | None = None) -> tuple[int, int]:
        """Probe EVERY token of the column against the filter without
        exploding rows; returns (hits, total)."""
        return count_contained_in(df, payload, self.col, scalar=self.scalar, spark=spark)


class _ValueSketch(_ColumnSketch):
    """A quantile sketch over a numeric scalar column."""

    def _update(self, acc, batch) -> None:
        vals = batch.column(self.col).to_numpy(zero_copy_only=False)
        acc.update_batch(np.asarray(vals, dtype=np.float64))

    def quantiles(self, df: DataFrame, qs: list[float], *, fanout: int = 16) -> list[float]:
        payload, _ = self.build_bytes(df, fanout=fanout)
        sk = sketch_from_bytes(payload)
        return [float(sk.quantile(q)) for q in qs]

    def quantiles_by_key(
        self, df: DataFrame, key_col: str, qs: list[float], *, salt: int = 0
    ) -> DataFrame:
        """-> (key, q, value) per-key quantile estimates."""
        keyed = self.build_by_key(df, key_col, salt=salt)
        qs_list = [float(q) for q in qs]

        def stats(batches):
            for b in batches:
                keys, qcol, vals = [], [], []
                for key, payload in zip(
                    b.column("key").to_pylist(), b.column("payload").to_pylist()
                ):
                    sk = sketch_from_bytes(bytes(payload))
                    for q in qs_list:
                        keys.append(key)
                        qcol.append(q)
                        vals.append(float(sk.quantile(q)))
                yield pa.RecordBatch.from_pydict(
                    {
                        "key": pa.array(keys, type=pa.string()),
                        "q": pa.array(qcol, type=pa.float64()),
                        "value": pa.array(vals, type=pa.float64()),
                    }
                )

        return keyed.mapInArrow(stats, schema="key string, q double, value double")


# ---------------------------------------------------------------------------
# Bloom
# ---------------------------------------------------------------------------


class BloomSketch(_MembershipSketch):
    """Distributed Bloom filter over a token-array (or scalar) column.

    ``ngram`` > 1 inserts within-row token n-grams instead of single
    tokens (the north star's "token n-grams and doc_ids").
    """

    _merge = staticmethod(merge_payloads)

    def __init__(self, shape: Shape, *, col: str = "tokens", ngram: int = 1, scalar: bool = False):
        self.shape = shape
        self.col = col
        self.ngram = ngram
        self.scalar = scalar  # True: `col` is a scalar int (e.g. xxhash64(doc_id))

    @classmethod
    def for_np(cls, n: int, p: float, **kw) -> "BloomSketch":
        return cls(Shape.for_np(n, p), **kw)

    @staticmethod
    def _add_hashes(acc: BloomFilter, h: np.ndarray) -> None:
        # the canonical pair derivation — must stay bit-identical
        # to BloomFilter.add_ngrams / every contains_u64 probe
        from ..sketch import hash_pair

        h1, h2 = hash_pair(h)
        acc.add_hashes(h1, h2)

    def _empty(self):
        # adaptive accumulator: O(set bits) memory until the index
        # buffer would out-weigh the dense array, then promotes — per-key
        # builds with huge m and tiny fill never allocate m bits, and the
        # canonical output bytes are identical to a dense build
        from ..sketch.bloom import SparseBloomBuilder

        return SparseBloomBuilder(self.shape)
    # -- probing -----------------------------------------------------------

    def contained_fraction_udf(self, payload: bytes, spark: SparkSession | None = None):
        """For an array<int> column: fraction of the row's tokens present
        in the filter (1.0 => every token seen; semi-join strength); a
        NULL or empty row is 0.0."""
        sketch = _broadcast_sketch(payload, spark)

        def probe(tokens: pa.Array) -> pa.Array:
            batch = as_batch(tokens)
            lengths = arrow_row_lengths(batch, "v")
            out = np.zeros(len(lengths))
            flat = arrow_flat_tokens(batch, "v")
            if flat.size:
                hits = sketch().contains_tokens(flat).astype(np.float64)
                # per-row segment sums via prefix-sum differences: exact for
                # zero-length rows anywhere (clamped reduceat dropped the
                # last row's trailing hits when empty rows ended the batch)
                c = np.concatenate(([0.0], np.cumsum(hits)))
                ends = np.cumsum(lengths)
                sums = c[ends] - c[ends - lengths]
                np.divide(sums, lengths, out=out, where=lengths > 0)
            return pa.array(out)

        return arrow_udf(probe, "double")

    def semi_join_filter(self, probe_df: DataFrame, payload: bytes, col: str) -> DataFrame:
        """Bloom-filtered semi join: keep rows whose `col` might be in the
        build side — zero false negatives, FPR <= shape bound."""
        return probe_df.filter(self.might_contain_udf(payload)(F.col(col)))

    def register_sql_probe(
        self, spark: SparkSession, name: str, payload: bytes
    ) -> None:
        """Expose the membership probe to SQL users:
        ``SELECT * FROM t WHERE <name>(tok)``. Same broadcast +
        per-worker deserialization as might_contain_udf."""
        spark.udf.register(name, self.might_contain_udf(payload, spark))


# ---------------------------------------------------------------------------
# Blocked Bloom (scale path: 1 cache line per token, compute-bound)
# ---------------------------------------------------------------------------


class BlockedBloomSketch(_MembershipSketch):
    """Distributed split-block Bloom filter (see ..sketch.blocked for
    the published design). Same pipeline as BloomSketch; ~3x per-core
    build/probe throughput and cache-friendly under full parallelism —
    prefer it for 100 TB builds when bitwise parity with the reference
    filter layout is not required."""

    def __init__(self, filt: BlockedBloomFilter, *, col: str = "tokens", ngram: int = 1, scalar: bool = False):
        self.proto = filt
        self.col = col
        self.ngram = ngram
        self.scalar = scalar

    @classmethod
    def for_np(cls, n: int, p: float, **kw) -> "BlockedBloomSketch":
        return cls(BlockedBloomFilter.for_np(n, p), **kw)

    def _empty(self) -> BlockedBloomFilter:
        return BlockedBloomFilter(self.proto.n_blocks)

    @staticmethod
    def _add_hashes(acc: BlockedBloomFilter, h: np.ndarray) -> None:
        acc.add_hashes(h)


# ---------------------------------------------------------------------------
# HyperLogLog
# ---------------------------------------------------------------------------


class HllSketch(_TokenSketch):
    """Distributed distinct-count over tokens (array col) or a scalar col."""

    def __init__(self, p: int = 14, *, col: str = "tokens", scalar: bool = False):
        self.p = p
        self.col = col
        self.scalar = scalar

    def _empty(self) -> HyperLogLog:
        return HyperLogLog(self.p)

    def estimate(self, df: DataFrame, *, fanout: int = 16) -> float:
        payload, _ = self.build_bytes(df, fanout=fanout)
        return HyperLogLog.from_bytes(payload).estimate()


# ---------------------------------------------------------------------------
# Count-min
# ---------------------------------------------------------------------------


class CmsSketch(_TokenSketch):
    """Distributed token-frequency sketch (count-min). ``scalar=True``
    sketches a scalar key column (join-size estimation via
    ``CountMinSketch.inner_product``) instead of an array column."""

    _add = staticmethod(add_weighted)

    def __init__(self, d: int = 5, w: int = 65536, *, col: str = "tokens", scalar: bool = False):
        self.d = d
        self.w = w
        self.col = col
        self.scalar = scalar

    def _empty(self) -> CountMinSketch:
        return CountMinSketch(self.d, self.w)

    def estimate_counts(self, payload: bytes, tokens: np.ndarray) -> np.ndarray:
        return CountMinSketch.from_bytes(payload).query_tokens(tokens)


# ---------------------------------------------------------------------------
# Count sketch (AMS)
# ---------------------------------------------------------------------------


class AmsSketch(_TokenSketch):
    """Distributed count sketch (AMS): UNBIASED two-sided frequency
    estimates plus the F2 second-moment estimate — the skew oracle
    behind operators/skew.key_skew_profile. ``scalar=True`` sketches a
    scalar shuffle/join-key column (the primary use); default sketches
    a token-array column like CmsSketch."""

    _add = staticmethod(add_weighted)

    def __init__(self, d: int = 5, w: int = 8192, *, col: str = "tokens", scalar: bool = False):
        self.d = d
        self.w = w
        self.col = col
        self.scalar = scalar

    def _empty(self) -> CountSketch:
        return CountSketch(self.d, self.w)

    def estimate_counts(self, payload: bytes, tokens: np.ndarray) -> np.ndarray:
        return CountSketch.from_bytes(payload).query_tokens(tokens)


# ---------------------------------------------------------------------------
# Misra–Gries heavy hitters
# ---------------------------------------------------------------------------


class MgSketch(_TokenSketch):
    """Distributed Misra–Gries heavy-hitter summary (the DETERMINISTIC
    frequency sibling: counter lower bounds with a tracked undercount
    cap, so summary keys are a provable superset of every key with
    frequency > n_items/(capacity+1) — no distributional assumption,
    unlike the local top-k margin contract)."""

    _add = staticmethod(add_weighted)

    def __init__(self, capacity: int = 1024, *, col: str = "tokens"):
        self.capacity = capacity
        self.col = col

    def _empty(self) -> MisraGries:
        return MisraGries(self.capacity)


# ---------------------------------------------------------------------------
# Quantiles: t-digest, KLL, DDSketch
# ---------------------------------------------------------------------------


class TDigestQuantiles(_ValueSketch):
    """Distributed t-digest quantiles over a numeric scalar column
    (tail-accurate alternative to KLL; both named by the north rule)."""

    def __init__(self, compression: int = 200, *, col: str = "n_tok"):
        self.compression = compression
        self.col = col

    def _empty(self):
        from ..sketch import TDigest

        return TDigest(self.compression)


class KllQuantiles(_ValueSketch):
    """Distributed quantile sketch over a numeric scalar column."""

    def __init__(self, k: int = 200, *, col: str = "n_tok"):
        self.k = k
        self.col = col

    def _empty(self) -> KLLSketch:
        return KLLSketch(self.k)


class DDQuantiles(_ValueSketch):
    """Distributed RELATIVE-error quantile sketch over a numeric scalar
    column (sketch/ddsketch.py). Same tree-merge topology as
    KllQuantiles but with the stronger algebra: DDSketch bucket counts
    are a pure function of the inserted multiset, so the merged payload
    bytes are bitwise-identical under ANY partitioning (the reference's
    Bloom-merge canonical-bytes contract, extended to quantiles) and
    the estimate at quantile q is within ``alpha * |x_q|`` of the true
    item — tail percentiles (p99 of a heavy-tailed latency/value
    column) keep their precision where KLL's uniform RANK error blurs
    them. At 100 TB: O(buckets) state per group, sketch rows only
    shuffle."""

    def __init__(self, alpha: float = 0.01, *, col: str):
        self.alpha = float(alpha)
        self.col = col

    def _empty(self) -> DDSketch:
        return DDSketch(self.alpha)

    def _update(self, acc: DDSketch, batch) -> None:
        vals = batch.column(self.col).to_numpy(zero_copy_only=False)
        vals = np.asarray(vals, dtype=np.float64)
        vals = vals[np.isfinite(vals)]  # NULL floats arrive as NaN: skip rows
        acc.add(vals)


# ---------------------------------------------------------------------------
# Counting Bloom (deletable membership)
# ---------------------------------------------------------------------------


class CountingBloomSketch(_MembershipSketch):
    """Distributed counting Bloom filter over a scalar int64 column —
    the deletable membership sketch (sketch/counting.py). Build the
    corpus filter AND the revoke-set filter with the same mergeable
    pipeline, then ``subtract`` once on two payloads; remaining items
    keep the zero-false-negative guarantee (saturated counters are
    sticky, never lowered). Always ``scalar``: the update takes no dedup
    fold, since multiplicity IS the counter state."""

    scalar = True

    def __init__(self, shape: Shape, *, col: str):
        self.shape = shape
        self.col = col

    @classmethod
    def for_np(cls, n: int, p: float, **kw) -> "CountingBloomSketch":
        return cls(Shape.for_np(n, p), **kw)

    def _empty(self):
        from ..sketch.counting import CountingBloomFilter

        return CountingBloomFilter.empty(self.shape)
