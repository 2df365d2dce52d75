"""Sketches as SQL aggregate/scalar functions.

``register_sketch_sql(spark)`` registers 22 functions (optionally
name-prefixed) in the session's SQL function registry, so every
mergeable summary in the library is usable from pure SQL:

    SELECT source,
           hll_estimate(hll_agg(tokens))      AS distinct_est,
           bloom_estimate_n(bloom_agg(tokens)) AS distinct_est2
    FROM sequences GROUP BY source

Aggregates, each returning the canonical serialized payload:
``hll_agg``, ``bloom_agg``, ``cms_agg``, ``ams_agg`` and ``mg_agg``
over an array<int> token column; ``kll_agg`` and ``dd_agg`` (DDSketch
relative-error quantiles) over a scalar numeric column; ``cbf_agg``
(counting Bloom, deletable membership) and ``iblt_agg`` (invertible
difference table, SET semantics) over a scalar int64 key; ``gram_agg``
over an array<double> column of width ``gram_dim``; and
``sketch_merge``, a payload merge for ANY registry kind, so
finest-grain sketch cells roll up to coarser groups in pure SQL
without re-scanning the source.

Scalar functions, NULL in -> NULL out: ``hll_estimate``,
``bloom_estimate_n``, ``cms_query(payload, token)``,
``kll_quantile(payload, q)``, ``dd_quantile(payload, q)``,
``ams_f2`` and ``ams_query(payload, token)`` (unbiased signed
frequencies + the F2 skew oracle), ``mg_candidates(payload,
threshold)``, ``gram_eigvals``, ``cbf_subtract(corpus, revoked)`` and
``iblt_diff(a, b)`` (entry key+1 means only-in-a, -(key+1) only-in-b —
shifted because key 0 has no sign).

All of them are Arrow UDFs: BIGINT arguments arrive as exact int64
(NULLs are real nulls, never float64 NaN), and every ``*_agg`` except
``iblt_agg`` runs the build spec of operators/sketches.py (its
``_empty`` / ``_update``) over the group's non-NULL values — the same
update the tree-merge builders fold, so canonical bytes are a pure
function of the inserted set.

Scale note: a GROUPED_AGG UDF materializes each group on one worker —
there is NO partial aggregation, unlike the tree-merge pipeline
(operators/aggregate.py), which is the right tool for huge groups.
These SQL functions are the convenience surface for ad-hoc queries and
moderate group sizes; the docstring contract mirrors Spark's own
grouped-agg limitation.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
from pyspark.sql import SparkSession
from pyspark.sql.functions import arrow_udf

from ..operators.sketches import (
    AmsSketch,
    BloomSketch,
    CmsSketch,
    CountingBloomSketch,
    DDQuantiles,
    HllSketch,
    KllQuantiles,
    MgSketch,
    _scalar_values,
    as_batch,
    rowwise_udf,
)
from ..operators.spectral import GramSketch
from ..sketch import (
    BloomFilter,
    CountingBloomFilter,
    CountSketch,
    GramMatrix,
    HyperLogLog,
    MisraGries,
    Shape,
    merge_sketch_payloads,
    sketch_from_bytes,
)
from ..sketch.iblt import IBLT

_CACHE_CAP = 32  # distinct payloads per python worker before reset


def _cached_sketch(cache: dict, payload):
    """Deserialize a sketch payload once per distinct bytes (the usual
    shape is N rows sharing one aggregated payload — per-row from_bytes
    would copy the whole table N times)."""
    key = bytes(payload)
    sk = cache.get(key)
    if sk is None:
        if len(cache) >= _CACHE_CAP:
            cache.clear()
        sk = cache[key] = sketch_from_bytes(key)
    return sk


def _spec_agg(spec):
    """GROUPED_AGG Arrow UDF of one build spec (its ``col`` is "v"):
    the group's non-NULL values as one batch through the spec's own
    ``_empty`` / ``_update`` -> payload bytes."""

    def agg(values: pa.Array) -> bytes:
        acc = spec._empty()
        values = values.drop_null()
        if len(values):
            spec._update(acc, as_batch(values))
        return acc.to_bytes()

    return arrow_udf(agg, "binary")


def _query_token(cache: dict):
    # estimated count of one token per row; payloads deserialize once
    # per distinct bytes, not per row
    return lambda p, t: int(
        _cached_sketch(cache, p).query_tokens(np.asarray([int(t)], np.int64))[0]
    )


def _iblt_diff(a: bytes, b: bytes) -> list[int]:
    # exact two-sided diff of two iblt_agg payloads: entry (key + 1)
    # means key only in a, -(key + 1) only in b; keys must be
    # < 2^62 - 1 (md5-60-bit and id keys are). Raises on decode
    # failure, never truncates.
    add, rem, ok = IBLT.from_bytes(a).subtract(IBLT.from_bytes(b)).peel()
    if not ok:
        raise ValueError(
            "iblt_diff: decode incomplete — difference exceeds the "
            "table's max_diff; rebuild iblt_agg with a larger bound"
        )
    hi = max(int(add.max()) if add.size else 0, int(rem.max()) if rem.size else 0)
    if hi >= 2**62 - 1:
        raise ValueError("iblt_diff: key >= 2^62-1 breaks the sign encoding")
    return sorted(int(x) + 1 for x in add.astype(np.int64)) + sorted(
        -(int(x) + 1) for x in rem.astype(np.int64)
    )


def _cbf_subtract(a: bytes, b: bytes) -> bytes:
    # filter-level revocation: corpus payload minus revoke payload
    # (sticky-saturation contract, sketch/counting.py)
    f = CountingBloomFilter.from_bytes(a)
    f.subtract_in_place(CountingBloomFilter.from_bytes(b))
    return f.to_bytes()


def register_sketch_sql(
    spark: SparkSession,
    *,
    hll_p: int = 14,
    bloom_n: int = 200_000,
    bloom_p: float = 1e-4,
    mg_capacity: int = 1024,
    gram_dim: int = 64,
    cms_d: int = 5,
    cms_w: int = 8192,
    kll_k: int = 200,
    dd_alpha: float = 0.01,
    ams_d: int = 5,
    ams_w: int = 8192,
    iblt_max_diff: int = 4096,
    prefix: str = "",
) -> None:
    """Register the 22 sketch SQL functions of the module docstring,
    each name prefixed by ``prefix``; the keyword arguments size the
    sketches the ``*_agg`` functions build."""
    shape = Shape.for_np(n=bloom_n, p=bloom_p)

    @arrow_udf("binary")
    def iblt_agg(keys: pa.Array) -> bytes:
        # SET semantics — duplicate keys within the group would
        # XOR-cancel, so the group's keys are made distinct first
        t = IBLT.for_diff(iblt_max_diff)
        vals = _scalar_values(as_batch(keys.drop_null()), "v")
        if vals.size:
            t.add_u64(np.unique(vals).astype(np.uint64))
        return t.to_bytes()

    @arrow_udf("binary")
    def sketch_merge(payloads: pa.Array) -> bytes | None:
        # SQL aggregate semantics: a group with no non-NULL payloads
        # yields NULL, never a task-crashing ValueError
        present = payloads.drop_null().to_pylist()
        return merge_sketch_payloads(present) if present else None

    cms_cache: dict = {}
    ams_cache: dict = {}
    kll_cache: dict = {}
    dd_cache: dict = {}

    def dd_quantile(p: bytes, q: float) -> float | None:
        sk = _cached_sketch(dd_cache, p)
        return None if sk.n_items == 0 else float(sk.quantile(float(q)))

    functions = {
        "hll_agg": _spec_agg(HllSketch(hll_p, col="v")),
        "hll_estimate": rowwise_udf("double", lambda p: HyperLogLog.from_bytes(p).estimate()),
        "bloom_agg": _spec_agg(BloomSketch(shape, col="v")),
        "bloom_estimate_n": rowwise_udf(
            "double", lambda p: BloomFilter.from_bytes(p).estimate_n()
        ),
        "cbf_agg": _spec_agg(CountingBloomSketch(shape, col="v")),
        "cbf_subtract": rowwise_udf("binary", _cbf_subtract),
        "iblt_agg": iblt_agg,
        "iblt_diff": rowwise_udf("array<bigint>", _iblt_diff),
        "cms_agg": _spec_agg(CmsSketch(cms_d, cms_w, col="v")),
        # >= true count; overshoot <= eps*N with prob 1-delta
        "cms_query": rowwise_udf("bigint", _query_token(cms_cache)),
        "kll_agg": _spec_agg(KllQuantiles(kll_k, col="v")),
        "kll_quantile": rowwise_udf(
            "double", lambda p, q: float(_cached_sketch(kll_cache, p).quantile(float(q)))
        ),
        "dd_agg": _spec_agg(DDQuantiles(dd_alpha, col="v")),
        "dd_quantile": rowwise_udf("double", dd_quantile),
        "sketch_merge": sketch_merge,
        "ams_agg": _spec_agg(AmsSketch(ams_d, ams_w, col="v")),
        # second frequency moment estimate (per-row rel-std sqrt(2/w))
        "ams_f2": rowwise_udf("bigint", lambda p: int(CountSketch.from_bytes(p).f2())),
        # unbiased two-sided frequency estimate of one token per row
        "ams_query": rowwise_udf("bigint", _query_token(ams_cache)),
        "mg_agg": _spec_agg(MgSketch(mg_capacity, col="v")),
        # tokens possibly above the per-row threshold (guaranteed
        # superset when threshold >= n_items/(capacity+1))
        "mg_candidates": rowwise_udf(
            "array<bigint>",
            lambda p, t: MisraGries.from_bytes(p).candidates_above(int(t)).view(np.int64).tolist(),
        ),
        # exact Gram (NULL / wrong-width rows skipped, same contract as
        # the spectral operators)
        "gram_agg": _spec_agg(GramSketch(gram_dim, vec_col="v")),
        "gram_eigvals": rowwise_udf(
            "array<double>", lambda p: GramMatrix.from_bytes(p).eigh()[0].tolist()
        ),
    }
    for name, fn in functions.items():
        spark.udf.register(prefix + name, fn)
