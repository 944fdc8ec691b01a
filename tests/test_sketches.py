"""Mergeable-sketch semantics: HLL union over pre-aggregated partitions
must answer the coarser rollup without rescanning, inside the error
envelope, and identically to sketching the raw column directly."""

from __future__ import annotations

from pyspark.sql import functions as F


def test_hll_daily_merge_matches_direct_sketch_and_exact(spark):
    from amazon_kinesis_analytics_streaming_etl_spark.schemas import load_events

    ev = load_events(spark, "/root/testdata/sf0.001")
    daily = ev.groupBy("event_type", F.to_date("ts").alias("day")).agg(
        F.hll_sketch_agg("user_id", F.lit(14)).alias("sketch")
    )
    merged = daily.groupBy("event_type").agg(
        F.hll_sketch_estimate(F.hll_union_agg("sketch")).alias("est")
    )
    direct = ev.groupBy("event_type").agg(
        F.hll_sketch_estimate(F.hll_sketch_agg("user_id", F.lit(14))).alias("direct")
    )
    exact = ev.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("exact")
    )
    rows = {
        r.event_type: r
        for r in merged.join(direct, "event_type").join(exact, "event_type").collect()
    }
    assert rows
    for r in rows.values():
        # merging partial sketches loses nothing vs sketching the raw rows
        assert r.est == r.direct
        assert abs(r.est - r.exact) <= 0.05 * r.exact


def test_hll_rollup_gate_query(spark):
    from amazon_kinesis_analytics_streaming_etl_spark.plans.catalog import QUERIES

    rows = QUERIES["hll_sketch_rollup"](spark, "/root/testdata/sf0.001").collect()
    assert rows and all(r.merged_est_ok for r in rows)


# --------------------------------------------------------------------------
# Misra-Gries heavy hitters (operators/sketch.py)
# --------------------------------------------------------------------------


def test_mg_partition_bounded_and_no_false_negatives():
    """Pure-python MG step: counters never exceed k, and any key with
    frequency > n/k survives the per-partition summary."""
    import pandas as pd

    from amazon_kinesis_analytics_streaming_etl_spark.operators.sketch import (
        _mg_partition,
    )

    # zipf-ish: key0 x 500, key1 x 300, then 1200 singletons
    keys = ["hot0"] * 500 + ["hot1"] * 300 + [f"cold{i}" for i in range(1200)]
    k = 5  # threshold n/k = 400 -> only hot0 is guaranteed
    batches = [pd.DataFrame({"key": keys[i : i + 97]}) for i in range(0, len(keys), 97)]
    (out,) = list(_mg_partition(iter(batches), k))
    survivors = set(out.loc[out["key"].notna(), "key"])
    assert len(survivors) <= k
    assert "hot0" in survivors
    assert int(out.loc[out["key"].isna(), "part_n"].iloc[0]) == len(keys)


def test_heavy_hitters_exact_on_skewed_data(spark):
    """End-to-end: exact answer on a skewed frame across many partitions,
    matching a plain groupBy-HAVING recomputation."""
    from pyspark.sql import functions as F

    from amazon_kinesis_analytics_streaming_etl_spark.operators.sketch import (
        heavy_hitters,
    )

    # 10_000 rows: id%97 gives ~103 each; ids<3000 remapped to 'heavy'
    df = (
        spark.range(10_000)
        .select(
            F.when(F.col("id") < 3000, F.lit("heavy"))
            .otherwise(F.concat(F.lit("k"), (F.col("id") % 97)))
            .alias("key")
        )
        .repartition(8)
    )
    k = 10  # threshold 1000 -> only 'heavy' (3000) qualifies
    got = {(r.key, r.cnt) for r in heavy_hitters(df, "key", k).collect()}
    n = df.count()
    expect = {
        (r.key, r.cnt)
        for r in df.groupBy("key")
        .agg(F.count("*").alias("cnt"))
        .where(F.col("cnt") > n / k)
        .collect()
    }
    assert got == expect == {("heavy", 3000)}


def test_heavy_hitters_leaves_no_cached_summaries(spark):
    from amazon_kinesis_analytics_streaming_etl_spark.operators.sketch import (
        heavy_hitters,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    before = spark.sparkContext._jsc.getPersistentRDDs().size()
    result = heavy_hitters(docs, "lang", 6)
    result.collect()
    # the merged-summary persist must be released before return; the
    # localCheckpoint of the (<=k-row) result is the only new block.
    after = spark.sparkContext._jsc.getPersistentRDDs().size()
    assert after <= before + 1


def test_heavy_hitters_null_keys_count_into_threshold(spark):
    """Null contract (ADVICE r5): n is count(*) over ALL rows — null keys
    raise the n/k bar even though NULL itself is never reported. Without
    len(pdf)-based totals, the nulls-dropped threshold would wrongly
    admit 'warm' here."""
    from pyspark.sql import functions as F

    from amazon_kinesis_analytics_streaming_etl_spark.operators.sketch import (
        heavy_hitters,
    )

    # 1000 rows: 300 'heavy', 150 'warm', 400 NULL, 150 spread over k50..k99.
    # k=3 -> threshold n/3 = 333.33 with nulls counted (only nothing or
    # 'heavy' under it: 300 < 333 -> EMPTY); nulls-dropped would make the
    # threshold 600/3 = 200 and wrongly report heavy (300) and possibly warm.
    df = (
        spark.range(1000)
        .select(
            F.when(F.col("id") < 300, F.lit("heavy"))
            .when(F.col("id") < 450, F.lit("warm"))
            .when(F.col("id") < 850, F.lit(None).cast("string"))
            .otherwise(F.concat(F.lit("k"), (F.col("id") % 50) + 50))
            .alias("key")
        )
        .repartition(4)
    )
    assert heavy_hitters(df, "key", 3).collect() == []
    # with k=2 nothing qualifies either (500 bar); with k=4 (250 bar)
    # exactly 'heavy' qualifies, counted exactly
    got = {(r.key, r.cnt) for r in heavy_hitters(df, "key", 4).collect()}
    assert got == {("heavy", 300)}


# --- t-digest ---------------------------------------------------------------


def test_tdigest_compress_quantile_accuracy():
    """Pure-function tier: rank error < 1% at delta=200 on smooth and
    heavy-tailed data, and merging 16 shard digests loses nothing
    measurable vs digesting directly."""
    import numpy as np

    from amazon_kinesis_analytics_streaming_etl_spark.operators.sketch import (
        _td_compress,
        _td_quantile,
    )

    rng = np.random.default_rng(5)
    for vals in (rng.uniform(0, 100, 100_000), rng.lognormal(0, 2, 100_000)):
        m, w = _td_compress(vals, np.ones(len(vals)), 200.0)
        assert len(m) <= 4 * 200  # O(delta) centroids
        assert w.sum() == len(vals)  # weight conservation
        for q in (0.01, 0.5, 0.95, 0.99):
            est = _td_quantile(m, w, q)
            rank = float((vals < est).mean())
            assert abs(rank - q) < 0.01, (q, rank)
    vals = rng.lognormal(0, 2, 160_000)
    parts = [_td_compress(s, np.ones(len(s)), 200.0) for s in np.split(vals, 16)]
    mm = np.concatenate([p[0] for p in parts])
    ww = np.concatenate([p[1] for p in parts])
    m2, w2 = _td_compress(mm, ww, 200.0)
    assert w2.sum() == len(vals)
    for q in (0.5, 0.95, 0.99):
        rank = float((vals < _td_quantile(m2, w2, q)).mean())
        assert abs(rank - q) < 0.01


def test_tdigest_spark_rollup_matches_numpy_quantiles(spark):
    """End-to-end through the Spark operators: per-(grp,sub) partials,
    rolled up to grp — estimates within 1% rank error of numpy's exact
    quantiles, exact n per group, and NULL values excluded like SQL
    percentile."""
    import numpy as np

    from amazon_kinesis_analytics_streaming_etl_spark.operators.sketch import (
        tdigest_partials,
        tdigest_rollup,
    )

    rng = np.random.default_rng(9)
    rows = []
    data = {"a": [], "b": []}
    for grp, mu in (("a", 0.0), ("b", 3.0)):
        for sub in range(4):
            vals = rng.lognormal(mu, 1.0, 5000)
            data[grp].extend(vals)
            rows += [(grp, str(sub), float(v)) for v in vals]
    rows.append(("a", "0", None))  # NULL must not count or crash
    df = spark.createDataFrame(rows, "grp string, sub string, value double")
    partials = tdigest_partials(df, "value", ["grp", "sub"], delta=200.0)
    out = {
        r["grp"]: r
        for r in tdigest_rollup(
            partials, ["grp"], [0.5, 0.95], delta=200.0
        ).collect()
    }
    for grp in ("a", "b"):
        vals = np.array(data[grp])
        assert out[grp]["n"] == len(vals)
        for q, col in ((0.5, "est_p50"), (0.95, "est_p95")):
            rank = float((vals < out[grp][col]).mean())
            assert abs(rank - q) < 0.01, (grp, q, rank)


def test_tdigest_rollup_gate_query(spark):
    from amazon_kinesis_analytics_streaming_etl_spark.plans.advanced import (
        sketch_tdigest_rollup,
    )

    rows = sketch_tdigest_rollup(spark, "/root/testdata/sf0.001").collect()
    assert rows
    for r in rows:
        assert r["p50_ok"] and r["p95_ok"], r
        assert r["n"] > 0


def test_tdigest_unit_fast_path_matches_greedy_reference():
    """The vectorized unit-weight build path must produce bit-identical
    cluster BOUNDARIES to the scalar greedy loop (the absorb condition
    reduces to exact-integer float compares — see _td_compress_unit),
    and means within last-ulp (reduceat pairwise sum vs the loop's
    incremental mean)."""
    import numpy as np
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from amazon_kinesis_analytics_streaming_etl_spark.operators.sketch import (
        _td_compress,
        _td_compress_greedy,
    )

    def greedy_unit(vals, delta):
        v = np.sort(np.asarray(vals, dtype=float), kind="stable")
        W = float(len(v))

        def k(q):
            return delta / (2.0 * np.pi) * np.arcsin(2.0 * q - 1.0)

        def k_inv(y):
            return (
                np.sin(np.clip(y, k(0.0), k(1.0)) * 2.0 * np.pi / delta) + 1.0
            ) / 2.0

        return _td_compress_greedy(v, np.ones(len(v)), W, k, k_inv)

    @settings(max_examples=60, deadline=None)
    @given(
        vals=st.lists(
            st.floats(
                min_value=-1e6, max_value=1e6, allow_nan=False, allow_infinity=False
            ),
            min_size=1,
            max_size=500,
        ),
        delta=st.sampled_from([20.0, 50.0, 200.0]),
    )
    def prop(vals, delta):
        v = np.array(vals, dtype=float)
        m1, w1 = _td_compress(v, np.ones(len(v)), delta)
        m2, w2 = greedy_unit(v, delta)
        assert np.array_equal(w1, w2)  # boundaries bit-identical
        assert np.allclose(m1, m2, rtol=1e-12, atol=1e-9)

    prop()
    # and at scale, off the hypothesis size budget
    rng = np.random.default_rng(7)
    for vals in (rng.lognormal(0, 2, 60_000), rng.uniform(0, 1, 60_000)):
        m1, w1 = _td_compress(vals, np.ones(len(vals)), 200.0)
        m2, w2 = greedy_unit(vals, 200.0)
        assert np.array_equal(w1, w2)
        assert np.allclose(m1, m2, rtol=1e-12, atol=1e-9)


def test_tdigest_properties_hypothesis():
    """Property-based invariants of the pure digest functions: exact
    weight conservation, O(delta) centroid count, sorted centroid means,
    estimates clamped to the data range, and quantile monotonicity in q
    — across random value distributions, weights, and deltas."""
    import numpy as np
    from hypothesis import example, given, settings
    from hypothesis import strategies as st

    from amazon_kinesis_analytics_streaming_etl_spark.operators.sketch import (
        _td_compress,
        _td_quantile,
    )

    @settings(max_examples=60, deadline=None)
    # centroid means an ulp apart: the two-sided lerp put q=0.10 above q=0.25
    @example(vals=[-999999.9999999999, -1e6, 0.0, 0.0], wexp=[8, 5, 4, 9], delta=20.0)
    @given(
        vals=st.lists(
            st.floats(
                min_value=-1e6, max_value=1e6, allow_nan=False, allow_infinity=False
            ),
            min_size=1,
            max_size=400,
        ),
        wexp=st.lists(st.integers(min_value=1, max_value=9), min_size=1, max_size=400),
        delta=st.sampled_from([20.0, 50.0, 200.0]),
    )
    def prop(vals, wexp, delta):
        n = min(len(vals), len(wexp))
        v = np.array(vals[:n], dtype=float)
        w = np.array(wexp[:n], dtype=float)
        m, cw = _td_compress(v, w, delta)
        assert abs(float(cw.sum()) - float(w.sum())) <= 1e-6 * max(1.0, w.sum())
        assert len(m) <= max(8, 4 * int(delta))
        assert np.all(np.diff(m) >= 0)  # centroids stay sorted
        qs = [0.0, 0.1, 0.25, 0.5, 0.75, 0.9, 1.0]
        ests = [_td_quantile(m, cw, q) for q in qs]
        assert all(v.min() <= e <= v.max() for e in ests)
        assert all(a <= b + 1e-12 for a, b in zip(ests, ests[1:]))

    prop()


def test_tdigest_partials_vectorized_matches_groupby_reference(spark):
    """r12 vectorized-build guard: the lexsort + boundary-scan batch
    build must emit exactly the digests the per-group pandas-groupby
    form did — same group set (including NaN/None group keys kept as
    SQL NULL, never the strings 'nan'/'None'), same per-group sorted
    values, same unit-weight compress boundaries — for a frame mixing
    null values, NaN group keys, and multi-row groups."""
    import pandas as pd
    from pyspark.sql import functions as F

    from amazon_kinesis_analytics_streaming_etl_spark.operators.sketch import (
        _td_compress,
        tdigest_partials,
    )

    rows = [
        ("a", "h1", 3.0), ("a", "h1", 1.0), ("a", "h1", 2.0),
        ("a", "h2", 5.0), ("b", "h1", 7.0), ("b", "h1", None),
        (None, "h1", 9.0), (None, None, 11.0), ("None", "h1", 13.0),
        ("b", "h2", None),  # all-null group: must not be emitted
    ]
    df = spark.createDataFrame(rows, "grp string, sub string, value double")
    got = {
        (r.grp, r.sub): (r.td_means, r.td_weights, r.td_n)
        for r in tdigest_partials(
            df.coalesce(1), "value", ["grp", "sub"], delta=200.0
        ).collect()
    }
    pdf = pd.DataFrame(rows, columns=["grp", "sub", "value"])
    ref = {}
    for key, grp in pdf.groupby(["grp", "sub"], dropna=False, sort=True):
        vals = grp["value"].dropna().to_numpy(dtype=float)
        if len(vals) == 0:
            continue
        m, w = _td_compress(vals, [1.0] * len(vals), 200.0)
        key = tuple(None if k != k or k is None else str(k) for k in key)
        ref[key] = (list(m), list(w), len(vals))
    assert got == ref
    # the planted literal 'None' STRING group must stay distinct from
    # the SQL NULL group
    assert ("None", "h1") in got and (None, "h1") in got
