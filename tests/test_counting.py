"""CountingBloomFilter (sketch/counting.py): saturating-add merge
algebra, delete semantics, sticky-saturation contract, canonical
bytes, and codec validation."""

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from rusty_bloomfilter_spark.sketch import (
    CountingBloomFilter,
    Shape,
    merge_sketch_payloads,
    sketch_from_bytes,
)

SHAPE = Shape.for_np(n=5000, p=1e-3)


def _f(values, shape=SHAPE):
    return CountingBloomFilter.empty(shape).add_tokens(
        np.asarray(values, dtype=np.int64)
    )


def test_zero_false_negatives_and_fpr_bound():
    f = _f(range(5000))
    assert f.contains_tokens(np.arange(5000)).all()
    absent = np.arange(10**7, 10**7 + 20000)
    fpr = f.contains_tokens(absent).mean()
    assert fpr <= 3 * 1e-3  # configured p with slack


def test_merge_saturating_add_assoc_comm():
    a, b, c = _f(range(100)), _f(range(50, 150)), _f(range(120, 200))
    ab_c = a.merge(b).merge(c)
    a_bc = a.merge(b.merge(c))
    c_ba = c.merge(b).merge(a)
    assert ab_c == a_bc == c_ba
    assert ab_c.to_bytes() == a_bc.to_bytes() == c_ba.to_bytes()


def test_merge_counts_multiplicity_not_idempotent():
    f = _f([1, 2, 3])
    doubled = f.merge(f)
    assert doubled != f  # counters doubled — multiset semantics
    assert doubled.cardinality() == f.cardinality()
    assert doubled.n_items == 2 * f.n_items


def test_merge_identity_and_shape_mismatch():
    f = _f(range(10))
    empty = CountingBloomFilter.empty(SHAPE)
    assert f.merge(empty) == f
    with pytest.raises(ValueError, match="shape mismatch"):
        f.merge(CountingBloomFilter.empty(Shape.for_np(n=100, p=1e-3)))


def test_add_then_remove_is_noop():
    base = _f(range(200))
    snapshot = base.to_bytes()
    extra = np.arange(10**6, 10**6 + 50)
    base.add_tokens(extra)
    sticky = base.remove_tokens(extra)
    assert sticky == 0
    assert base.to_bytes() == snapshot  # counters AND n_items restored


def test_remove_preserves_remaining_membership():
    rng = np.random.default_rng(3)
    keep = rng.integers(0, 2**62, 3000)
    drop = rng.integers(2**62, 2**63, 2000)
    f = _f(np.concatenate([keep, drop]))
    f.remove_tokens(drop)
    assert f.contains_tokens(keep).all()  # zero FN after deletes
    # most dropped items now probe absent (collisions allowed)
    assert f.contains_tokens(drop).mean() < 0.05


def test_saturated_counters_are_sticky():
    # tiny m so one hot index saturates fast
    sh = Shape(m=64, k=2)
    f = CountingBloomFilter.empty(sh)
    same = np.full(300, 7, dtype=np.int64)  # one item, 300 times
    f.add_tokens(same)
    assert f.saturation_ratio() > 0
    sticky = f.remove_tokens(same)
    assert sticky > 0  # decrements were skipped at saturated positions
    # sticky counters never go DOWN: the item still probes present
    assert f.contains_tokens(np.array([7])).all()


def test_partition_invariant_bytes():
    vals = np.arange(4000, dtype=np.int64)
    whole = _f(vals).to_bytes()
    rng = np.random.default_rng(11)
    shuffled = vals.copy()
    rng.shuffle(shuffled)
    parts = np.array_split(shuffled, 7)
    payloads = [_f(p).to_bytes() for p in parts]
    assert merge_sketch_payloads(payloads) == whole
    assert merge_sketch_payloads(payloads[::-1]) == whole


def test_codec_roundtrip_and_magic_dispatch():
    f = _f(range(123))
    back = sketch_from_bytes(f.to_bytes())
    assert isinstance(back, CountingBloomFilter)
    assert back == f and back.n_items == 123


def test_codec_rejects_garbage_and_truncation():
    f = _f(range(10))
    b = f.to_bytes()
    with pytest.raises(ValueError, match="counter bytes"):
        CountingBloomFilter.from_bytes(b[:-5])
    with pytest.raises(ValueError):
        CountingBloomFilter.from_bytes(b"RXXX" + b[4:])


@settings(max_examples=25, deadline=None)
@given(
    st.lists(
        st.lists(st.integers(min_value=0, max_value=2**40), max_size=30),
        min_size=1,
        max_size=5,
    )
)
def test_hypothesis_merge_equals_single_build(parts):
    sh = Shape.for_np(n=500, p=1e-2)
    merged = CountingBloomFilter.empty(sh)
    for p in parts:
        merged.merge_in_place(
            CountingBloomFilter.empty(sh).add_tokens(np.asarray(p, dtype=np.int64))
        )
    flat = [v for p in parts for v in p]
    single = CountingBloomFilter.empty(sh).add_tokens(np.asarray(flat, dtype=np.int64))
    assert merged.to_bytes() == single.to_bytes()


def test_spark_build_partition_invariant_and_revoke(spark):
    from pyspark.sql import functions as F

    from rusty_bloomfilter_spark.operators.sketches import CountingBloomSketch

    df = spark.range(3000).select("id", F.xxhash64("id").alias("key"))
    sk = CountingBloomSketch.for_np(n=10_000, p=1e-6, col="key")
    p1, n1 = sk.build_bytes(df.repartition(3))
    p2, n2 = sk.build_bytes(df.repartition(11))
    assert p1 == p2 and n1 == n2 == 3000  # canonical bytes

    revoke_payload, nr = sk.build_bytes(df.filter("id % 3 = 0"))
    cbf = CountingBloomFilter.from_bytes(p1)
    sticky = cbf.subtract_in_place(CountingBloomFilter.from_bytes(revoke_payload))
    assert sticky == 0 and cbf.n_items == 3000 - nr

    probe = sk.might_contain_udf(cbf.to_bytes(), spark)
    flags = df.withColumn("revoked", F.expr("id % 3 = 0")).withColumn(
        "present", probe(F.col("key"))
    )
    rows = flags.groupBy("revoked").agg(
        F.count("*").alias("n"), F.sum(F.col("present").cast("long")).alias("p")
    ).collect()
    by = {bool(r.revoked): r for r in rows}
    assert by[False].p == by[False].n  # zero FN for survivors
    assert by[True].p <= 0.01 * by[True].n  # revoked gone (p=1e-6 slack)


def test_sql_cbf_agg_and_subtract(spark):
    """SQL surface: cbf_agg over a scalar key column + cbf_subtract for
    revocation, matching the python-level filter bit for bit."""
    import pandas as pd
    from pyspark.sql import functions as F

    from rusty_bloomfilter_spark.functions.sql_sketches import register_sketch_sql

    register_sketch_sql(spark, bloom_n=10_000, bloom_p=1e-4, prefix="t_")
    df = spark.range(500).select(
        F.xxhash64("id").alias("key"), F.expr("id % 5 = 0").alias("revoked")
    )
    df.createOrReplaceTempView("cbf_keys")
    row = spark.sql(
        """
        WITH corpus AS (SELECT t_cbf_agg(key) AS c FROM cbf_keys),
             revoked AS (SELECT t_cbf_agg(key) AS r FROM cbf_keys WHERE revoked)
        SELECT t_cbf_subtract(c, r) AS remaining FROM corpus CROSS JOIN revoked
        """
    ).collect()[0]
    cbf = CountingBloomFilter.from_bytes(bytes(row["remaining"]))
    keys = df.toPandas()
    keep = keys[~keys.revoked]["key"].to_numpy(dtype=np.int64)
    assert cbf.contains_tokens(keep).all()
    assert cbf.n_items == len(keep)
    # bitwise parity with the python-level build/subtract
    oracle = CountingBloomFilter.empty(Shape.for_np(n=10_000, p=1e-4))
    oracle.add_tokens(keys["key"].to_numpy(dtype=np.int64))
    rev = CountingBloomFilter.empty(Shape.for_np(n=10_000, p=1e-4))
    rev.add_tokens(keys[keys.revoked]["key"].to_numpy(dtype=np.int64))
    oracle.subtract_in_place(rev)
    assert cbf.to_bytes() == oracle.to_bytes()


def test_sql_cbf_agg_null_keys_small_ids_exact(spark):
    """NULL keys drop out and small ids survive the float64 promotion
    exactly (Arrow int64-with-nulls -> pandas float64 is lossless
    below 2^53)."""
    from pyspark.sql import functions as F

    from rusty_bloomfilter_spark.functions.sql_sketches import register_sketch_sql

    register_sketch_sql(spark, bloom_n=10_000, bloom_p=1e-4, prefix="n_")
    df = spark.range(200).select(
        F.when(F.col("id") % 7 == 0, None).otherwise(F.col("id")).alias("key")
    )
    df.createOrReplaceTempView("cbf_null_keys")
    row = spark.sql(
        "SELECT n_cbf_agg(key) AS c FROM cbf_null_keys"
    ).collect()[0]
    cbf = CountingBloomFilter.from_bytes(bytes(row["c"]))
    present = np.array([i for i in range(200) if i % 7 != 0], dtype=np.int64)
    assert cbf.contains_tokens(present).all()
    assert cbf.n_items == len(present)


def test_sql_cbf_agg_null_plus_xxhash_keys_exact(spark):
    """A NULL alongside |key| >= 2^53 (xxhash64 ids) builds exactly:
    Arrow hands the aggregate and the probe exact int64 keys plus a
    real NULL (no float64 promotion), so the payload equals a driver
    build over the non-null keys and every key probes True — through
    cbf_agg, and through might_contain_udf on the uncoalesced column."""
    from pyspark.sql import functions as F

    from rusty_bloomfilter_spark.functions.sql_sketches import register_sketch_sql
    from rusty_bloomfilter_spark.operators.sketches import CountingBloomSketch

    register_sketch_sql(spark, bloom_n=10_000, bloom_p=1e-4, prefix="u_")
    df = spark.range(50).select(
        F.when(F.col("id") == 0, None).otherwise(F.xxhash64("id")).alias("key")
    )
    df.createOrReplaceTempView("cbf_big_keys")
    payload = bytes(spark.sql("SELECT u_cbf_agg(key) AS c FROM cbf_big_keys").collect()[0]["c"])
    keys = np.array([r["key"] for r in df.collect() if r["key"] is not None], dtype=np.int64)
    assert len(keys) == 49 and np.abs(keys).max() >= 2**53
    oracle = CountingBloomFilter.empty(Shape.for_np(n=10_000, p=1e-4))
    oracle.add_tokens(keys)
    assert payload == oracle.to_bytes()
    assert CountingBloomFilter.from_bytes(payload).contains_tokens(keys).all()

    sk = CountingBloomSketch.for_np(n=10_000, p=1e-4, col="key")
    rows = df.withColumn("hit", sk.might_contain_udf(payload, spark)(F.col("key"))).collect()
    assert all(r["hit"] for r in rows if r["key"] is not None)


def test_series_probe_values_nullable_promotion_guard():
    """_series_probe_values: ints pass through exactly; NaNs (null
    promotion) probe as 0 like _scalar_values; float values >= 2^53
    are unrecoverable and must raise, not round (round-4 review
    finding — shared by all three might_contain_udf paths)."""
    import pandas as pd
    import pytest

    from rusty_bloomfilter_spark.operators.sketches import _series_probe_values

    ints = pd.Series(np.array([1, -5, 2**62], dtype=np.int64))
    out = _series_probe_values(ints)
    assert out.dtype == np.int64 and out.tolist() == [1, -5, 2**62]

    nullable = pd.Series([1.0, float("nan"), 9007199254740991.0])  # 2^53-1
    out = _series_probe_values(nullable)
    assert out.tolist() == [1, 0, 2**53 - 1]

    too_big = pd.Series([float(2**53)])
    with pytest.raises(ValueError, match="2\\^53"):
        _series_probe_values(too_big)


def test_probe_udf_nullable_column_probes_null_as_zero(spark):
    """A nullable probe column (small ids) must not crash the probe
    UDF: NULL probes behave as key 0, non-null flags stay exact."""
    from pyspark.sql import functions as F

    from rusty_bloomfilter_spark.operators.sketches import CountingBloomSketch

    df = spark.range(300).select(F.col("id").alias("key"))
    sk = CountingBloomSketch.for_np(n=10_000, p=1e-6, col="key")
    payload, _ = sk.build_bytes(df.filter("key >= 100"))
    probe_df = spark.range(300).select(
        F.when(F.col("id") % 11 == 0, None).otherwise(F.col("id")).alias("key")
    )
    rows = probe_df.withColumn(
        "hit", sk.might_contain_udf(payload, spark)(F.col("key"))
    ).collect()
    for r in rows:
        if r.key is not None and r.key >= 100:
            assert r.hit  # zero FN
