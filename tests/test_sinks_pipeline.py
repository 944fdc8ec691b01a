"""K1-K8 + X1 sink/pipeline tests: partition layout, parquet/json modes,
idempotent keyed upsert, Kinesis batching, fan-out, exactly-once restart."""

from __future__ import annotations

import glob
import json
import os

from pyspark.sql import functions as F

from amazon_kinesis_analytics_streaming_etl_spark.config import ConfigError
from amazon_kinesis_analytics_streaming_etl_spark.operators.parse import parse_trip_events
from amazon_kinesis_analytics_streaming_etl_spark.plans.pipeline import Pipeline
from amazon_kinesis_analytics_streaming_etl_spark.streaming import sinks as sk


def _events_df(spark, n=40, loc_mod=4):
    payloads = []
    base = {
        "vendor_id": 1, "pickup_datetime": "2018-11-23T20:30:14",
        "dropoff_datetime": "2018-11-23T20:41:02", "passenger_count": 1,
        "trip_distance": 2.3, "ratecode_id": 1, "store_and_fwd_flag": "N",
        "pickup_location_id": 1, "dropoff_location_id": 2, "payment_type": 1,
        "fare_amount": 10.5, "extra": 0.5, "mta_tax": 0.5, "tip_amount": 2.0,
        "tolls_amount": 0.0, "improvement_surcharge": 0.3, "total_amount": 14.0,
        "trip_id": 1, "type": "trip", "padding": "",
    }
    for i in range(n):
        r = dict(base)
        r["trip_id"] = 1000 + i
        r["pickup_location_id"] = 1 + (i % loc_mod)
        payloads.append((json.dumps(r),))
    return parse_trip_events(spark.createDataFrame(payloads, ["value"]))


def test_partition_layout_matches_reference_format(spark, tmp_dirs):
    # TripEventBucketAssigner.java:35-40: pickup_location=%03d/year=%04d/month=%02d
    events = _events_df(spark)
    sk.write_file_sink_batch(events, tmp_dirs["out"], parquet=True)
    dirs = sorted(
        os.path.relpath(p, tmp_dirs["out"])
        for p in glob.glob(f"{tmp_dirs['out']}/pickup_location=*/year=*/month=*")
    )
    assert dirs == [
        "pickup_location=001/year=2018/month=11",
        "pickup_location=002/year=2018/month=11",
        "pickup_location=003/year=2018/month=11",
        "pickup_location=004/year=2018/month=11",
    ]
    # one file per partition dir (repartition-by-partition-cols, R1)
    for d in dirs:
        assert len(glob.glob(f"{tmp_dirs['out']}/{d}/*.parquet")) == 1


def test_json_row_mode_writes_p3_projection(spark, tmp_dirs):
    # K2: row sink stores the 18-field JSON lines (StreamingEtl.java:227-239)
    events = _events_df(spark, n=8)
    sk.write_file_sink_batch(events, tmp_dirs["out"], parquet=False)
    lines = []
    for p in sorted(set(glob.glob(f"{tmp_dirs['out']}/**/part-*", recursive=True))):
        if os.path.isfile(p) and not p.endswith("_SUCCESS"):
            lines += [l for l in open(p).read().splitlines() if l.strip()]
    assert len(lines) == 8
    obj = json.loads(lines[0])
    assert len(obj) == 18 and "payment_type" not in obj


def test_es_upsert_idempotent_by_trip_id(spark):
    # K4: doc id = trip_id -> re-delivery overwrites (StreamingEtl.java:250-258)
    import tempfile

    events = _events_df(spark, n=10)
    store_dir = tempfile.mkdtemp()

    def transport(index, doc_id, body, _d=store_dir):
        # executor-side: emulate a keyed document store on shared disk
        with open(os.path.join(_d, f"{index}__{doc_id}.json"), "w") as f:
            f.write(body)

    sk.es_upsert_batch(events, "http://fake:9200", transport=transport)
    first = sorted(os.listdir(store_dir))
    sk.es_upsert_batch(events, "http://fake:9200", transport=transport)  # redeliver
    second = sorted(os.listdir(store_dir))
    assert first == second and len(first) == 10  # idempotent, keyed by trip_id
    assert all(name.startswith("trip__") for name in first)  # index = type field


def test_kinesis_put_batches_of_500_fixed_partition_key(spark, tmp_path):
    # K5: PutRecords batches capped at 500; fixed partition key "0"
    # (StreamingEtl.java:199).
    events = _events_df(spark, n=1200, loc_mod=1).coalesce(1)
    log = str(tmp_path / "calls.jsonl")

    class FakeClient:
        def put_records(self, StreamName, Records):
            with open(log, "a") as f:
                f.write(json.dumps({"n": len(Records), "keys": list({r["PartitionKey"] for r in Records})}) + "\n")

    sk.kinesis_put_batch(events, "out-stream", client_factory=FakeClient)
    calls = [json.loads(l) for l in open(log)]
    assert sum(c["n"] for c in calls) == 1200
    assert max(c["n"] for c in calls) <= 500
    assert all(c["keys"] == ["0"] for c in calls)


def _write_source(tmp_dirs, n=30):
    rows = []
    base = {
        "vendor_id": 1, "pickup_datetime": "2018-11-23T20:30:14",
        "dropoff_datetime": "2018-11-23T20:41:02", "passenger_count": 1,
        "trip_distance": 2.3, "ratecode_id": 1, "store_and_fwd_flag": "N",
        "pickup_location_id": 7, "dropoff_location_id": 2, "payment_type": 1,
        "fare_amount": 10.5, "extra": 0.5, "mta_tax": 0.5, "tip_amount": 2.0,
        "tolls_amount": 0.0, "improvement_surcharge": 0.3, "total_amount": 14.0,
        "trip_id": 1, "type": "trip", "padding": "",
    }
    for i in range(n):
        r = dict(base)
        r["trip_id"] = i
        rows.append(json.dumps(r))
    with open(os.path.join(tmp_dirs["src"], "batch1.json"), "w") as f:
        f.write("\n".join(rows))


def test_pipeline_exactly_once_restart(spark, tmp_dirs):
    # X1: same checkpoint -> already-committed input is not reprocessed.
    _write_source(tmp_dirs)
    args = [
        "--InputFilePath", tmp_dirs["src"],
        "--OutputBucket", tmp_dirs["out"],
        "--ParquetConversion", "true",
        "--CheckpointLocation", tmp_dirs["ckpt"],
    ]
    Pipeline.from_config(spark, args=args).run_available_now()
    paths = glob.glob(f"{tmp_dirs['out']}/job_start=*")
    count1 = sum(spark.read.parquet(p).count() for p in paths)
    Pipeline.from_config(spark, args=args).run_available_now()
    paths = glob.glob(f"{tmp_dirs['out']}/job_start=*")
    count2 = sum(spark.read.parquet(p).count() for p in paths)
    assert count1 == 30 and count2 == 30


def test_pipeline_fanout_multiple_sinks(spark, tmp_dirs):
    # K8: one source read feeds every configured sink.
    _write_source(tmp_dirs, n=12)
    seen = []
    pipe = Pipeline.from_config(
        spark,
        args=[
            "--InputFilePath", tmp_dirs["src"],
            "--OutputBucket", tmp_dirs["out"],
            "--ParquetConversion", "true",
            "--OutputDiscarding",
            "--CheckpointLocation", tmp_dirs["ckpt"],
        ],
    )
    pipe.extra_sinks.append(("probe", lambda batch: seen.append(batch.count())))
    pipe.run_available_now()
    assert seen == [12]
    paths = glob.glob(f"{tmp_dirs['out']}/job_start=*")
    assert sum(spark.read.parquet(p).count() for p in paths) == 12


def test_source_config_validation(spark, tmp_dirs):
    # S3: exactly one source; >=1 sink (StreamingEtl.java:87-103,147-149)
    import pytest

    with pytest.raises(ConfigError, match="Ambiguous input"):
        Pipeline.from_config(
            spark,
            args=["--InputFilePath", tmp_dirs["src"], "--InputKinesisStream", "s",
                  "--OutputDiscarding", "--CheckpointLocation", tmp_dirs["ckpt"]],
        ).start()
    with pytest.raises(ConfigError, match="Missing output"):
        Pipeline.from_config(
            spark,
            args=["--InputFilePath", tmp_dirs["src"], "--CheckpointLocation", tmp_dirs["ckpt"]],
        ).start()
    with pytest.raises(ConfigError, match="Missing input"):
        Pipeline.from_config(
            spark, args=["--OutputDiscarding", "--CheckpointLocation", tmp_dirs["ckpt"]]
        ).start()


def test_config_properties_override_args():
    # C1: application properties win (ParameterToolUtils.java:44-47)
    from amazon_kinesis_analytics_streaming_etl_spark.config import (
        from_args_and_properties,
    )

    cfg = from_args_and_properties(
        ["--InputKafkaTopic", "from-args", "--OutputDiscarding"],
        {"InputKafkaTopic": "from-props"},
    )
    assert cfg.get("InputKafkaTopic") == "from-props"
    assert cfg.get_bool("OutputDiscarding")


def test_batch_ledger_skips_committed_sinks_on_replay(spark, tmp_dirs):
    """Mid-batch crash simulation: sink A lands, sink B throws, the batch
    is replayed with the same batch_id -> A must NOT double-write."""
    from amazon_kinesis_analytics_streaming_etl_spark.plans.pipeline import BatchLedger

    events = _events_df(spark, n=10)
    writes: list[str] = []

    def sink_a(batch):
        writes.append("a")
        sk.write_file_sink_batch(batch, tmp_dirs["out"], parquet=True)

    fail_once = {"armed": True}

    def sink_b(batch):
        if fail_once["armed"]:
            fail_once["armed"] = False
            raise RuntimeError("transient sink outage")
        writes.append("b")

    pipe = Pipeline.from_config(
        spark,
        args=["--InputFilePath", "unused", "--OutputDiscarding", "true",
              "--CheckpointLocation", tmp_dirs["ckpt"]],
    )
    ledger = BatchLedger(os.path.join(tmp_dirs["ckpt"], "sink_ledger"))
    write_all = pipe._foreach_batch(
        [("a", sink_a), ("b", sink_b)], ledger
    )

    try:
        write_all(events, batch_id=7)  # b fails -> batch marked failed
        raise AssertionError("expected sink failure to propagate")
    except RuntimeError as e:
        assert "transient sink outage" in str(e)
    assert ledger.committed("a", 7) and not ledger.committed("b", 7)

    write_all(events, batch_id=7)  # replay: a skipped, b retried
    assert writes == ["a", "b"]
    assert spark.read.parquet(tmp_dirs["out"]).count() == 10  # no duplicates
    assert ledger.committed("b", 7)


def test_pipeline_kinesis_sink_via_replay_dir(spark, tmp_path, valid_event):
    """Full pipeline with OutputKinesisReplayDir: the K5 sink writes
    through the Kinesis write model into a local stream dir that the S1
    replay source can read back — no AWS."""
    import json

    from amazon_kinesis_analytics_streaming_etl_spark.plans.pipeline import Pipeline
    from amazon_kinesis_analytics_streaming_etl_spark.sources.kinesis_replay import (
        register_kinesis_replay,
    )

    src = tmp_path / "src"
    src.mkdir()
    with open(src / "in.jsonl", "w") as f:
        for i in range(20):
            ev = dict(valid_event, trip_id=i)
            f.write(json.dumps(ev) + "\n")

    pipe = Pipeline.from_config(
        spark,
        args=[
            "--InputFilePath", str(src),
            "--OutputKinesisStream", "trips",
            "--OutputKinesisReplayDir", str(tmp_path / "out"),
            "--CheckpointLocation", str(tmp_path / "ckpt"),
        ],
    )
    pipe.run_available_now()

    register_kinesis_replay(spark)
    back = (
        spark.read.format("kinesis-replay")
        .option("path", str(tmp_path / "out" / "trips"))
        .load()
        .collect()
    )
    assert len(back) == 20
    # reference default: fixed partition key "0" -> one shard
    assert len({r.shardId for r in back}) == 1
    payloads = [json.loads(bytes(r.data).decode()) for r in back]
    assert {p["trip_id"] for p in payloads} == {str(i) for i in range(20)}


def test_pipeline_kafka_sink_via_replay_dir(spark, tmp_path, valid_event):
    """Full pipeline with OutputKafkaReplayDir: the K6 sink produces P3
    JSON through the kafka-replay native sink; the S2 replay source reads
    it back — no broker."""
    import json

    from amazon_kinesis_analytics_streaming_etl_spark.plans.pipeline import Pipeline
    from amazon_kinesis_analytics_streaming_etl_spark.sources.kafka_replay import (
        register_kafka_replay,
    )

    src = tmp_path / "src"
    src.mkdir()
    with open(src / "in.jsonl", "w") as f:
        for i in range(15):
            f.write(json.dumps(dict(valid_event, trip_id=i)) + "\n")

    pipe = Pipeline.from_config(
        spark,
        args=[
            "--InputFilePath", str(src),
            "--OutputKafkaBootstrapServers", "unused:9092",
            "--OutputKafkaTopic", "trips",
            "--OutputKafkaReplayDir", str(tmp_path / "out"),
            "--CheckpointLocation", str(tmp_path / "ckpt"),
        ],
    )
    pipe.run_available_now()

    register_kafka_replay(spark)
    back = (
        spark.read.format("kafka-replay")
        .option("path", str(tmp_path / "out" / "trips"))
        .load()
        .collect()
    )
    assert len(back) == 15
    payloads = [json.loads(bytes(r.value).decode()) for r in back]
    assert {p["trip_id"] for p in payloads} == {str(i) for i in range(15)}
    # P3 contract holds on the produced payloads
    assert all("payment_type" not in p and "padding" not in p for p in payloads)


def test_kinesis_put_retries_partial_failures_then_raises(spark, tmp_path):
    """failOnError parity (StreamingEtl.java:197): PutRecords reports
    per-record failures WITHOUT raising; the sink must retry exactly the
    failed subset and fail the task if records never land."""
    import pytest

    events = _events_df(spark, n=10, loc_mod=1).coalesce(1)
    log = str(tmp_path / "calls.jsonl")

    class FlakyClient:
        """First call: last 3 records fail; retry call: all succeed."""

        def put_records(self, StreamName, Records):
            with open(log, "a") as f:
                f.write(json.dumps({"n": len(Records)}) + "\n")
            calls = sum(1 for _ in open(log))
            if calls == 1:
                recs = [{} for _ in Records]
                for r in recs[-3:]:
                    r["ErrorCode"] = "ProvisionedThroughputExceededException"
                return {"FailedRecordCount": 3, "Records": recs}
            return {"FailedRecordCount": 0, "Records": [{} for _ in Records]}

    sk.kinesis_put_batch(events, "s", client_factory=FlakyClient)
    calls = [json.loads(l) for l in open(log)]
    assert [c["n"] for c in calls] == [10, 3]  # retry = failed subset only

    class AlwaysFailing:
        def put_records(self, StreamName, Records):
            return {
                "FailedRecordCount": len(Records),
                "Records": [{"ErrorCode": "InternalFailure"} for _ in Records],
            }

    with pytest.raises(Exception, match="still failing"):
        sk.kinesis_put_batch(events, "s", client_factory=AlwaysFailing)


def test_fanout_per_sink_isolation_and_partial_replay(spark, tmp_path, valid_event):
    """X1 failure semantics: one sink failing mid-batch doesn't poison the
    others — their ledger commits survive, the batch raises, and the
    replay re-delivers ONLY to the failed sink."""
    import pytest

    from amazon_kinesis_analytics_streaming_etl_spark.plans.pipeline import (
        BatchLedger,
        Pipeline,
    )

    batch = spark.createDataFrame([(1,), (2,), (3,)], ["x"])
    ledger = BatchLedger(str(tmp_path / "ledger"))
    calls = {"a": 0, "flaky": 0, "b": 0}

    def sink_a(df):
        calls["a"] += df.count()

    def sink_flaky(df):
        calls["flaky"] += 1
        if calls["flaky"] == 1:
            raise RuntimeError("endpoint down")

    def sink_b(df):
        calls["b"] += df.count()

    pipe = Pipeline(spark=spark, cfg=None)
    specs = [("a", sink_a), ("flaky", sink_flaky), ("b", sink_b)]
    fb = pipe._foreach_batch(specs, ledger)

    with pytest.raises(RuntimeError, match="flaky"):
        fb(batch, 0)
    assert calls == {"a": 3, "flaky": 1, "b": 3}  # isolation: b still ran
    assert ledger.committed("a", 0) and ledger.committed("b", 0)
    assert not ledger.committed("flaky", 0)

    # replay of batch 0: committed sinks skipped, failed sink retried
    fb(batch, 0)
    assert calls == {"a": 3, "flaky": 2, "b": 3}
    assert ledger.committed("flaky", 0)


def test_es_sink_spec_wires_all_reference_tunables():
    """Config-glue parity (the round-6 bug class: ElasticsearchRegion was
    read nowhere): every reference ES parameter reaches the sink closure —
    region, max actions, max size (MB), and the interval converted from
    the reference's milliseconds to seconds."""
    import inspect

    from amazon_kinesis_analytics_streaming_etl_spark.config import (
        from_args_and_properties,
    )
    from amazon_kinesis_analytics_streaming_etl_spark.plans.pipeline import (
        _sink_specs,
    )

    cfg = from_args_and_properties([
        "--OutputElasticsearchEndpoint", "https://search-x.example",
        "--ElasticsearchRegion", "eu-west-1",
        "--ElasticsearchBulkFlushMaxActions", "77",
        "--ElasticsearchBulkFlushMaxSizeMb", "2.5",
        "--ElasticsearchBulkFlushInterval", "1500",
    ])
    specs = dict(_sink_specs(cfg))
    es = specs["elasticsearch"]
    bound = {
        k: v.default
        for k, v in inspect.signature(es).parameters.items()
        if v.default is not inspect.Parameter.empty
    }
    assert bound["endpoint"] == "https://search-x.example"
    assert bound["es_region"] == "eu-west-1"
    assert bound["max_actions"] == 77
    assert bound["max_size_mb"] == 2.5
    assert bound["flush_interval_s"] == 1.5  # reference millis -> seconds

    # defaults when the optional tunables are absent
    cfg2 = from_args_and_properties(
        ["--OutputElasticsearchEndpoint", "https://y"]
    )
    es2 = dict(_sink_specs(cfg2))["elasticsearch"]
    bound2 = {
        k: v.default
        for k, v in inspect.signature(es2).parameters.items()
        if v.default is not inspect.Parameter.empty
    }
    assert bound2["max_actions"] == 1000
    assert bound2["max_size_mb"] is None and bound2["flush_interval_s"] is None


def test_package_main_runs_the_job(spark, tmp_path, valid_event):
    """Runnable-job parity (StreamingEtl.main): python -m <package> with
    the reference's parameter names runs the pipeline end to end;
    --AvailableNow true drains and exits 0."""
    import json

    from amazon_kinesis_analytics_streaming_etl_spark.__main__ import main

    src = tmp_path / "src"
    src.mkdir()
    with open(src / "in.jsonl", "w") as f:
        for i in range(12):
            f.write(json.dumps(dict(valid_event, trip_id=i)) + "\n")
    out = tmp_path / "out"

    rc = main([
        "--InputFilePath", str(src),
        "--OutputBucket", str(out),
        "--ParquetConversion", "true",
        "--CheckpointLocation", str(tmp_path / "ckpt"),
        "--AvailableNow", "true",
    ])
    assert rc == 0
    back = spark.read.option("recursiveFileLookup", "true").parquet(str(out))
    assert back.count() == 12


def test_fanout_of_many_partition_batch_delivers_each_record_once(
    spark, tmp_path, valid_event
):
    """A batch with more partitions than cores (one per source shard) is
    cached at one partition per core before the fan-out; every valid
    record still lands exactly once in the file, kinesis-replay and
    kafka-replay sinks, and malformed lines land nowhere."""
    from amazon_kinesis_analytics_streaming_etl_spark.operators.parse import (
        split_corrupt,
    )
    from amazon_kinesis_analytics_streaming_etl_spark.plans.pipeline import (
        BatchLedger,
        _sink_specs,
    )
    from amazon_kinesis_analytics_streaming_etl_spark.sources.kafka_replay import (
        register_kafka_replay,
    )
    from amazon_kinesis_analytics_streaming_etl_spark.sources.kinesis_replay import (
        register_kinesis_replay,
    )

    n = 200
    lines = [
        json.dumps(dict(valid_event, trip_id=i, pickup_location_id=1 + i % 37))
        for i in range(n)
    ] + ["{not json", '{"trip_id": 5}']
    raw = spark.createDataFrame([(line,) for line in lines], ["value"])
    valid, _corrupt = split_corrupt(raw)
    batch = valid.repartition(16)
    assert batch.rdd.getNumPartitions() == 16

    out = tmp_path / "out"
    pipe = Pipeline.from_config(
        spark,
        args=[
            "--InputFilePath", "unused",
            "--OutputBucket", str(out / "file"),
            "--ParquetConversion", "true",
            "--OutputKinesisStream", "trips",
            "--OutputKinesisReplayDir", str(out / "kinesis"),
            "--OutputKafkaBootstrapServers", "unused:9092",
            "--OutputKafkaTopic", "trips",
            "--OutputKafkaReplayDir", str(out / "kafka"),
            "--CheckpointLocation", str(tmp_path / "ckpt"),
        ],
    )
    specs = _sink_specs(pipe.cfg)
    assert [name for name, _ in specs] == ["file", "kinesis", "kafka"]
    ledger = BatchLedger(str(tmp_path / "ckpt" / "sink_ledger"))
    pipe._foreach_batch(specs, ledger)(batch, 0)

    expected = list(range(n))
    file_ids = [
        r.trip_id
        for r in spark.read.parquet(*glob.glob(f"{out}/file/job_start=*"))
        .select("trip_id")
        .collect()
    ]
    assert sorted(file_ids) == expected

    register_kinesis_replay(spark)
    kin = (
        spark.read.format("kinesis-replay")
        .option("path", str(out / "kinesis" / "trips"))
        .load()
        .collect()
    )
    assert sorted(int(json.loads(bytes(r.data))["trip_id"]) for r in kin) == expected

    register_kafka_replay(spark)
    kaf = (
        spark.read.format("kafka-replay")
        .option("path", str(out / "kafka" / "trips"))
        .load()
        .collect()
    )
    assert sorted(int(json.loads(bytes(r.value))["trip_id"]) for r in kaf) == expected
