"""Crash-window tests for the staged, resumable file-sink publish
(write_file_sink_batch_idempotent) — the X1 hardening that closes the
write-then-crash duplicate window the plain append write had.

Windows exercised:
  (a) crash mid-staging (no _STAGED marker) -> replay discards, rewrites
  (b) crash mid-publish (_STAGED present, files partially moved) ->
      replay resumes the moves without rewriting
  (c) crash after publish, before ledger commit (_STAGED present,
      staging empty) -> replay is a no-op publish, still no duplicates
"""

from __future__ import annotations

import glob
import json
import os

from amazon_kinesis_analytics_streaming_etl_spark.operators.parse import parse_trip_events
from amazon_kinesis_analytics_streaming_etl_spark.streaming import sinks as sk


def _events(spark, n=12, loc_mod=3):
    base = {
        "vendor_id": 1, "pickup_datetime": "2018-11-23T20:30:14",
        "dropoff_datetime": "2018-11-23T20:41:02", "passenger_count": 1,
        "trip_distance": 2.3, "ratecode_id": 1, "store_and_fwd_flag": "N",
        "pickup_location_id": 1, "dropoff_location_id": 2, "payment_type": 1,
        "fare_amount": 10.5, "extra": 0.5, "mta_tax": 0.5, "tip_amount": 2.0,
        "tolls_amount": 0.0, "improvement_surcharge": 0.3, "total_amount": 14.0,
        "trip_id": 1, "type": "trip", "padding": "",
    }
    rows = [
        (json.dumps({**base, "trip_id": 1000 + i, "pickup_location_id": 1 + i % loc_mod}),)
        for i in range(n)
    ]
    return parse_trip_events(spark.createDataFrame(rows, ["value"]))


def _published_rows(spark, path):
    files = [
        f
        for f in glob.glob(f"{path}/**/*.parquet", recursive=True)
        if "/_staging/" not in f
    ]
    if not files:
        return []
    return spark.read.parquet(*files).select("trip_id").collect()


def test_happy_path_publishes_and_cleans_staging(spark, tmp_path):
    out = str(tmp_path / "out")
    cleanup = sk.write_file_sink_batch_idempotent(_events(spark), out, batch_id=0)
    assert len(_published_rows(spark, out)) == 12
    # layout unchanged: partition dirs directly under the sink path
    assert glob.glob(f"{out}/pickup_location=*/year=2018/month=11")
    assert os.path.isdir(f"{out}/_staging/batch-0")  # survives until commit
    cleanup()
    assert not os.path.exists(f"{out}/_staging/batch-0")


def test_staged_layout_publishes_the_plain_write_layout(spark, tmp_path):
    # staging is one dir per output dir with no .crc sidecars (fewer
    # files and dirs for Hadoop to create); publish expands it to the
    # nested layout, and every file holds what the plain write's holds
    import pyarrow.parquet as pq

    events = _events(spark, n=12, loc_mod=3)
    plain, staged = str(tmp_path / "plain"), str(tmp_path / "staged")
    sk.write_file_sink_batch(events, plain, parquet=True)
    sk.write_file_sink_batch_idempotent(events, staged, batch_id=0)  # no cleanup
    staging = f"{staged}/_staging/batch-0"
    assert sorted(d for d in os.listdir(staging) if os.path.isdir(f"{staging}/{d}")) == [
        "dir=001+2018+11", "dir=002+2018+11", "dir=003+2018+11"
    ]
    assert not glob.glob(f"{staging}/dir=*/.*.crc")

    def by_dir(base):
        out = {}
        for f in glob.glob(f"{base}/pickup_location=*/year=*/month=*/*.parquet"):
            rows = pq.read_table(f).to_pylist()
            out[os.path.relpath(os.path.dirname(f), base)] = sorted(
                rows, key=lambda r: r["trip_id"]
            )
        return out

    published = by_dir(staged)
    assert len(published) == 3
    assert published == by_dir(plain)


def test_replay_after_incomplete_staging_rewrites_once(spark, tmp_path):
    # window (a): first attempt died mid-write -> staging has data but no
    # _STAGED marker; replay must discard it, not publish it
    out = str(tmp_path / "out")
    staging = f"{out}/_staging/batch-7"
    sk.write_file_sink_batch(_events(spark, n=5), staging, parquet=True)  # orphan
    cleanup = sk.write_file_sink_batch_idempotent(_events(spark), out, batch_id=7)
    cleanup()
    assert len(_published_rows(spark, out)) == 12  # not 12+5


def test_replay_after_staged_marker_does_not_rewrite(spark, tmp_path):
    # window (b): staging is complete (_STAGED) but publish hasn't run;
    # replay must publish the STAGED files and ignore the new batch df —
    # proven by passing a different (empty) batch on replay
    out = str(tmp_path / "out")
    staging = f"{out}/_staging/batch-3"
    sk.write_file_sink_batch(_events(spark, n=9), staging, parquet=True)
    open(f"{staging}/_STAGED", "w").close()
    empty = _events(spark).limit(0)
    cleanup = sk.write_file_sink_batch_idempotent(empty, out, batch_id=3)
    cleanup()
    assert len(_published_rows(spark, out)) == 9


def test_replay_after_full_publish_is_noop(spark, tmp_path):
    # window (c): publish finished, ledger commit (and cleanup) didn't run
    out = str(tmp_path / "out")
    sk.write_file_sink_batch_idempotent(_events(spark), out, batch_id=5)  # no cleanup
    cleanup = sk.write_file_sink_batch_idempotent(_events(spark), out, batch_id=5)
    cleanup()
    assert len(_published_rows(spark, out)) == 12  # replay added nothing


def test_distinct_batches_both_land(spark, tmp_path):
    out = str(tmp_path / "out")
    sk.write_file_sink_batch_idempotent(_events(spark, n=4), out, batch_id=0)()
    sk.write_file_sink_batch_idempotent(_events(spark, n=6), out, batch_id=1)()
    assert len(_published_rows(spark, out)) == 10
    assert not glob.glob(f"{out}/_staging/*")


def test_spark_readers_ignore_staging(spark, tmp_path):
    # underscore-prefixed staging must be invisible to a plain read of
    # the sink path even before cleanup runs
    out = str(tmp_path / "out")
    sk.write_file_sink_batch_idempotent(_events(spark, n=4), out, batch_id=0)()
    sk.write_file_sink_batch_idempotent(_events(spark, n=6), out, batch_id=1)  # staged+published, not cleaned
    df = spark.read.option("basePath", out).parquet(out)
    assert df.count() == 10


def test_rolling_policy_max_records_per_file(spark, tmp_path):
    # DefaultRollingPolicy size-cap analog (StreamingEtl.java:237): one
    # partition dir's batch splits into ceil(40/10) files under the cap
    out = str(tmp_path / "out")
    events = _events(spark, n=40, loc_mod=1)
    sk.write_file_sink_batch(events, out, parquet=True, max_records_per_file=10)
    files = glob.glob(f"{out}/pickup_location=001/year=2018/month=11/*.parquet")
    assert len(files) == 4
    uncapped = str(tmp_path / "out2")
    sk.write_file_sink_batch(events, uncapped, parquet=True)
    assert len(glob.glob(f"{uncapped}/pickup_location=001/year=2018/month=11/*.parquet")) == 1


def test_pipeline_config_rolling_cap(spark, tmp_path):
    import json as _json

    from amazon_kinesis_analytics_streaming_etl_spark.plans.pipeline import Pipeline

    src = tmp_path / "src"
    src.mkdir()
    base = {
        "vendor_id": 1, "pickup_datetime": "2018-11-23T20:30:14",
        "dropoff_datetime": "2018-11-23T20:41:02", "passenger_count": 1,
        "trip_distance": 2.3, "ratecode_id": 1, "store_and_fwd_flag": "N",
        "pickup_location_id": 1, "dropoff_location_id": 2, "payment_type": 1,
        "fare_amount": 10.5, "extra": 0.5, "mta_tax": 0.5, "tip_amount": 2.0,
        "tolls_amount": 0.0, "improvement_surcharge": 0.3, "total_amount": 14.0,
        "trip_id": 1, "type": "trip", "padding": "",
    }
    with open(src / "ev.json", "w") as f:
        for i in range(30):
            f.write(_json.dumps({**base, "trip_id": i}) + "\n")
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    Pipeline.from_config(spark, args=[
        "--InputFilePath", str(src), "--OutputBucket", out,
        "--ParquetConversion", "true", "--CheckpointLocation", ckpt,
        "--OutputMaxRecordsPerFile", "10",
    ]).run_available_now()
    files = glob.glob(f"{out}/job_start=*/pickup_location=001/year=2018/month=11/*.parquet")
    assert len(files) == 3  # 30 rows / 10-record cap


def test_hadoop_publish_path_equivalent_to_local(spark, tmp_path):
    """The Hadoop-API publish (the hdfs/s3a branch) moves exactly the
    same files to the same places as the local fast path — unit-tested
    against the local FileSystem, which speaks the same API."""
    import os

    from amazon_kinesis_analytics_streaming_etl_spark.streaming.sinks import (
        _hadoop_fs,
        _publish_staged_hadoop,
        _publish_staged_local,
    )

    def stage(base):
        staging = os.path.join(base, "_staging", "batch-0")
        for part in ("pickup_location=001/year=2024/month=01",
                     "pickup_location=002/year=2024/month=02",
                     "dir=003+2024+03"):
            d = os.path.join(staging, part)
            os.makedirs(d)
            with open(os.path.join(d, "part-0000.parquet"), "w") as f:
                f.write(part)
        open(os.path.join(staging, "_STAGED"), "w").close()
        open(os.path.join(staging, "_SUCCESS"), "w").close()
        return staging

    def published(base):
        out = {}
        for dirpath, _d, files in os.walk(base):
            if "_staging" in dirpath:
                continue
            for n in files:
                fp = os.path.join(dirpath, n)
                out[os.path.relpath(fp, base)] = open(fp).read()
        return out

    a = str(tmp_path / "local"); os.makedirs(a)
    sa = stage(a)
    _publish_staged_local(sa, a)

    b = str(tmp_path / "hadoop"); os.makedirs(b)
    sb = stage(b)
    df = spark.range(1)
    jvm, fs = _hadoop_fs(df, b)
    _publish_staged_hadoop(jvm, fs, sb, b)

    assert published(a) == published(b)
    assert "pickup_location=003/year=2024/month=03/part-0000.parquet" in published(a)
    assert len(published(a)) == 3  # markers/_SUCCESS never published
    # staging retains only markers after either publish
    for s in (sa, sb):
        left = [f for _, _, fs_ in os.walk(s) for f in fs_]
        assert sorted(left) == ["_STAGED", "_SUCCESS"]
