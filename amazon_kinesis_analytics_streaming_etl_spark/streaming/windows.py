"""Streaming analytics beyond the reference: watermarks, event-time
windows, stateful dedup, stream-static enrichment.

The reference has none of these (SURVEY.md §2A bottom: no windows/
watermarks anywhere; README.md:35 even replays with -noWatermark) — this
module is the north-star streaming surface, built directly on Structured
Streaming primitives so state stores, late-data handling and checkpoint
recovery are engine-managed.

``replay_to_memory`` runs any bounded streaming plan deterministically
(file source + availableNow trigger -> memory sink) — the test/oracle
harness for every operator here.
"""

from __future__ import annotations

import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def _flatten_window(df: DataFrame) -> DataFrame:
    """Flatten the ``win`` struct to window_start/window_end columns,
    keeping every other column once."""
    rest = [c for c in df.columns if c != "win"]
    return df.select(
        F.col("win.start").alias("window_start"),
        F.col("win.end").alias("window_end"),
        *rest,
    )


def tumbling_window_agg(
    events: DataFrame,
    ts_col: str = "ts",
    window_size: str = "1 hour",
    watermark: str = "1 hour",
    group_cols: list[str] | None = None,
    aggs: list | None = None,
) -> DataFrame:
    """Tumbling event-time window aggregation with late-data drop."""
    group_cols = group_cols or []
    aggs = aggs or [F.count("*").alias("n")]
    return _flatten_window(
        events.withWatermark(ts_col, watermark)
        .groupBy(F.window(F.col(ts_col), window_size).alias("win"), *group_cols)
        .agg(*aggs)
    )


def sliding_window_agg(
    events: DataFrame,
    ts_col: str = "ts",
    window_size: str = "1 hour",
    slide: str = "30 minutes",
    watermark: str = "1 hour",
    group_cols: list[str] | None = None,
    aggs: list | None = None,
) -> DataFrame:
    group_cols = group_cols or []
    aggs = aggs or [F.count("*").alias("n")]
    return _flatten_window(
        events.withWatermark(ts_col, watermark)
        .groupBy(F.window(F.col(ts_col), window_size, slide).alias("win"), *group_cols)
        .agg(*aggs)
    )


def session_window_agg(
    events: DataFrame,
    ts_col: str = "ts",
    gap: str = "10 minutes",
    watermark: str = "1 hour",
    group_cols: list[str] | None = None,
    aggs: list | None = None,
) -> DataFrame:
    """Session windows (gap-based) — state merges as events arrive."""
    group_cols = group_cols or []
    aggs = aggs or [F.count("*").alias("n")]
    return _flatten_window(
        events.withWatermark(ts_col, watermark)
        .groupBy(F.session_window(F.col(ts_col), gap).alias("win"), *group_cols)
        .agg(*aggs)
    )


def streaming_dedup(
    events: DataFrame, key_cols: list[str], ts_col: str = "ts", watermark: str = "1 hour"
) -> DataFrame:
    """Stateful once-per-key dedup with bounded state (generalizes K4's
    idempotent doc id, StreamingEtl.java:250-258, to arbitrary keys):
    duplicates of a key are suppressed for as long as the watermark delay
    keeps the key in state, regardless of their event time —
    ``dropDuplicatesWithinWatermark`` keys state on ``key_cols`` alone,
    unlike ``dropDuplicates(key + ts)`` which would let the same key
    through once per distinct event time."""
    return events.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(
        key_cols
    )


def stream_static_join(
    stream: DataFrame, dim: DataFrame, on, how: str = "inner"
) -> DataFrame:
    """Stream-static enrichment join. The static side is broadcast when
    small (Catalyst decides; hint with F.broadcast at call sites for
    guaranteed map-side join at scale)."""
    return stream.join(dim, on, how)


def stream_stream_interval_join(
    left: DataFrame,
    right: DataFrame,
    key,
    left_ts: str,
    right_ts: str,
    interval: str,
    watermark: str = "1 hour",
    how: str = "inner",
) -> DataFrame:
    """Stream-stream join: right events within [left_ts, left_ts +
    interval] per key. Both sides carry watermarks (required — they bound
    the join state: a buffered left row can be dropped once the right
    watermark passes its interval end, and vice versa). Inner results
    emit as soon as both sides arrive; outer results wait for the
    watermark. State is O(events within the watermark+interval horizon)
    per key — bounded, unlike an unwatermarked stream join."""
    lw = left.withWatermark(left_ts, watermark)
    rw = right.withWatermark(right_ts, watermark)
    cond = (
        key
        & (F.col(right_ts) >= F.col(left_ts))
        & (F.col(right_ts) <= F.col(left_ts) + F.expr(f"INTERVAL {interval}"))
    )
    return lw.join(rw, cond, how)


def replay_to_memory(
    spark: SparkSession,
    plan: DataFrame,
    output_mode: str = "append",
    shuffle_partitions: int = 2,
) -> DataFrame:
    """Run a bounded streaming plan to completion (availableNow) into an
    in-memory table; return the result as a batch DataFrame.

    Deterministic: drains everything available, then stops. This is the
    bridge that lets streaming operators be checked against a batch SQL
    oracle.

    ``shuffle_partitions`` is applied only while the replay runs: each
    stateful operator materializes one state store per shuffle partition
    per micro-batch, so a small bounded replay at the session default
    (32+) pays ~10x state-store bookkeeping for no parallelism gain.
    Production streams size this to the cluster, not to the replay.
    Default 2 (r12; was 4): still multi-partition — cross-partition
    watermark propagation and shuffle semantics stay exercised — while
    halving the per-batch store commits; measured ~0.3 s per streaming
    query at sf0.1 (chained agg 1.68 -> 1.32, tumbling 1.18 -> 0.85
    median-of-5), uniform across the replay family. Results are
    partitioning-independent (event-time windows + watermarks), pinned
    by every stream oracle gate at three SFs.
    """
    name = "mem_" + uuid.uuid4().hex[:12]
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", str(shuffle_partitions))
    try:
        q = (
            plan.writeStream.format("memory")
            .queryName(name)
            .outputMode(output_mode)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    return spark.table(name)
