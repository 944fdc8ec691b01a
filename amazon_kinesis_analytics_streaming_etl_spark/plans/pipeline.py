"""Pipeline assembly — config -> source -> parse -> sink fan-out (K8).

Reference topology (StreamingEtl.java:78-151): one source (exactly one of
Kinesis/Kafka), the TripEventSchema deserializer inside the connector, and
every configured sink attached to the same stream; >=1 sink required.

Spark-first design decision (SURVEY.md §7): instead of N independent
streaming queries (which would read the source N times and desynchronize
offsets), the fan-out runs as ONE streaming query whose ``foreachBatch``
persists each micro-batch and writes all configured sinks from the cached
batch. One source read, shared offset log, per-batch atomicity for the
file sink, idempotent-key delivery for the others.
"""

from __future__ import annotations

import os
import tempfile
from dataclasses import dataclass, field
from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..config import ConfigError, JobConfig, from_args_and_properties
from ..operators.parse import split_corrupt
from ..streaming import sinks as sk
from ..streaming.sources import resolve_source


class BatchLedger:
    """Batch-id commit ledger for foreachBatch sinks (SURVEY.md §7).

    Structured Streaming replays a micro-batch after failure with the
    SAME batch_id. Idempotent-key sinks (ES upsert) absorb that for
    free; append-style sinks (file, Kinesis, Kafka) would double-write.
    The ledger records ``<sink>/<batch_id>`` markers AFTER each sink's
    write succeeds; a replayed batch skips sinks already marked — the
    same effectively-once recipe as the reference's idempotent doc id
    (StreamingEtl.java:250-258), applied at batch granularity.

    Delivery guarantees per sink class:

    - **File**: truly exactly-once — the write itself is a staged,
      resumable publish (``write_file_sink_batch_idempotent``), so even
      a crash between a completed write and the ledger commit replays
      without duplicates (the staged marker survives the crash).
    - **ES**: effectively-once via deterministic doc ids (re-upsert
      overwrites).
    - **Kinesis/Kafka (append, no keys)**: at-least-once — a crash in
      the write→commit window replays and double-sends. This matches
      the reference, whose Kinesis/Kafka producers are also
      at-least-once across checkpoint recovery; consumers needing
      exactly-once must dedup on trip_id downstream (or, for Kafka, a
      transactional producer would be the upgrade path).

    Markers are written atomically (tmp + rename). Driver-side only —
    one tiny file per (sink, batch), no executor coordination. On object
    stores, point the ledger at the checkpoint volume (same durability
    domain as the offset log: a lost ledger + surviving offset log can't
    disagree).
    """

    def __init__(self, path: str):
        self.path = path
        os.makedirs(path, exist_ok=True)

    def _marker(self, sink: str, batch_id: int) -> str:
        return os.path.join(self.path, f"{sink}-{batch_id}")

    def committed(self, sink: str, batch_id: int) -> bool:
        return os.path.exists(self._marker(sink, batch_id))

    def commit(self, sink: str, batch_id: int) -> None:
        fd, tmp = tempfile.mkstemp(dir=self.path)
        os.close(fd)
        os.rename(tmp, self._marker(sink, batch_id))


def _sink_specs(cfg: JobConfig) -> list[tuple[str, Callable[[DataFrame], None]]]:
    """Build (name, batch-writer) pairs for every configured sink
    (mirrors the conditional addSink chain, StreamingEtl.java:106-145)."""
    specs: list[tuple[str, Callable[[DataFrame], None]]] = []

    if cfg.has("OutputBucket"):
        parquet = cfg.get_bool("ParquetConversion", default=False)  # code default, StreamingEtl.java:219
        path = sk.job_start_prefix(cfg.get_required("OutputBucket"), cfg.get("OutputPrefix", ""))
        # rolling-policy size cap analog (DefaultRollingPolicy 128 MB,
        # StreamingEtl.java:237); records, since Spark caps by row count
        max_rpf = cfg.get("OutputMaxRecordsPerFile")
        max_rpf = int(max_rpf) if max_rpf is not None else None

        def _file(batch: DataFrame, batch_id: int, path=path, parquet=parquet, max_rpf=max_rpf):
            # staged publish; returns post-ledger-commit cleanup
            return sk.write_file_sink_batch_idempotent(
                batch, path, batch_id, parquet=parquet, max_records_per_file=max_rpf
            )

        specs.append(("file", _file))

    if cfg.has("OutputElasticsearchEndpoint"):
        endpoint = cfg.get_required("OutputElasticsearchEndpoint")
        # the reference's three bulk-flush tunables + signing region
        # (StreamingEtl.java:243-244, 270-280; interval arrives in MILLIS,
        # Flink's setBulkFlushInterval contract)
        es_region = cfg.get("ElasticsearchRegion", "us-east-1")
        max_actions = int(cfg.get("ElasticsearchBulkFlushMaxActions", "1000"))
        raw_mb = cfg.get("ElasticsearchBulkFlushMaxSizeMb")
        max_size_mb = float(raw_mb) if raw_mb is not None else None
        raw_iv = cfg.get("ElasticsearchBulkFlushInterval")
        flush_interval_s = float(raw_iv) / 1000.0 if raw_iv is not None else None

        def _es(
            batch: DataFrame,
            endpoint=endpoint,
            es_region=es_region,
            max_actions=max_actions,
            max_size_mb=max_size_mb,
            flush_interval_s=flush_interval_s,
        ) -> None:
            sk.es_upsert_batch(
                batch,
                endpoint,
                bulk_max_actions=max_actions,
                region=es_region,
                bulk_max_size_mb=max_size_mb,
                bulk_flush_interval_s=flush_interval_s,
                # Flink parity: setBulkFlushInterval is a background
                # timer that flushes an idle buffer on wall-clock; arm
                # it whenever the interval is configured (round 8)
                bulk_flush_interval_timer=flush_interval_s is not None,
            )

        specs.append(("elasticsearch", _es))

    if cfg.has("OutputKinesisStream"):
        stream = cfg.get_required("OutputKinesisStream")
        region = cfg.get("OutputStreamRegion", "us-east-1")
        replay_dir = cfg.get("OutputKinesisReplayDir")

        if replay_dir:
            # write-model twin (sources/kinesis_replay.KinesisReplayClient):
            # same K5 sink code, MD5 hash-range routing into a local
            # stream dir — the AWS-free leg of the S1+K5 loop
            def _kinesis(batch: DataFrame, stream=stream, d=replay_dir) -> None:
                from ..sources.kinesis_replay import KinesisReplayClient

                sk.kinesis_put_batch(
                    batch,
                    stream,
                    client_factory=lambda: KinesisReplayClient(d),
                )

        else:

            def _kinesis(batch: DataFrame, stream=stream, region=region) -> None:
                sk.kinesis_put_batch(batch, stream, region=region)

        specs.append(("kinesis", _kinesis))

    if cfg.has("OutputKafkaBootstrapServers") and cfg.has("OutputKafkaTopic"):
        servers = cfg.get_required("OutputKafkaBootstrapServers")
        topic = cfg.get_required("OutputKafkaTopic")
        kafka_replay_dir = cfg.get("OutputKafkaReplayDir")

        if kafka_replay_dir:
            # write-model twin: P3 JSON produced through the native
            # kafka-replay sink (keyless -> round-robin, matching the
            # reference's unkeyed producer, StreamingEtl.java:207-212)
            def _kafka(batch: DataFrame, topic=topic, d=kafka_replay_dir) -> None:
                from ..operators.serialize import trip_event_to_json
                from ..sources.kafka_replay import register_kafka_replay

                register_kafka_replay(batch.sparkSession)
                (
                    trip_event_to_json(batch)
                    .select(F.col("value").cast("binary").alias("value"))
                    .write.format("kafka-replay")
                    .option("path", os.path.join(d, topic))
                    .mode("append")
                    .save()
                )

        else:

            def _kafka(batch: DataFrame, servers=servers, topic=topic) -> None:
                sk.kafka_sink_batch(batch, servers, topic)

        specs.append(("kafka", _kafka))

    if cfg.has("OutputDiscarding"):
        specs.append(("discarding", sk.noop_sink_batch))

    if not specs:
        # Mirrors the >=1-sink rule (StreamingEtl.java:147-149).
        raise ConfigError(
            "Missing output configuration: configure at least one of "
            "OutputBucket, OutputElasticsearchEndpoint, OutputKinesisStream, "
            "OutputKafka{BootstrapServers,Topic}, OutputDiscarding"
        )
    return specs


@dataclass
class Pipeline:
    """A configured streaming-ETL topology (the engine's 'query')."""

    spark: SparkSession
    cfg: JobConfig
    extra_sinks: list[tuple[str, Callable[[DataFrame], None]]] = field(default_factory=list)

    @classmethod
    def from_config(
        cls,
        spark: SparkSession,
        args: list[str] | None = None,
        properties: dict[str, str] | None = None,
    ) -> "Pipeline":
        cfg = from_args_and_properties(args, properties)
        return cls(spark=spark, cfg=cfg)

    # -- plan assembly -------------------------------------------------------

    def source(self) -> DataFrame:
        return resolve_source(self.spark, self.cfg)

    def parsed(self) -> tuple[DataFrame, DataFrame]:
        """P1/P2 parse + dead-letter split, format chosen by
        ``InputEncoding``: JSON (default) or Avro — the reference's
        native wire format (TripEvent.avsc); both paths share the same
        validity rule and defaults."""
        if (self.cfg.get("InputEncoding", "json") or "json").lower() == "avro":
            from ..operators.avro_interop import parse_trip_events_avro

            return parse_trip_events_avro(self.source())
        return split_corrupt(self.source())

    def _foreach_batch(
        self, specs, ledger: BatchLedger | None = None
    ) -> Callable[[DataFrame, int], None]:
        def _call(write, batch: DataFrame, batch_id: int):
            # sink writers take (batch) or (batch, batch_id); the latter
            # may return a post-commit cleanup callable (staged publish).
            # Count only REQUIRED positional params: spec closures carry
            # bound config as defaulted params (stream=..., region=...),
            # and counting those once routed batch_id into the kinesis
            # writer's stream argument.
            import inspect

            required = [
                p
                for p in inspect.signature(write).parameters.values()
                if p.default is inspect.Parameter.empty
                and p.kind
                in (
                    inspect.Parameter.POSITIONAL_ONLY,
                    inspect.Parameter.POSITIONAL_OR_KEYWORD,
                )
            ]
            return write(batch, batch_id) if len(required) >= 2 else write(batch)

        def write_all(batch: DataFrame, batch_id: int) -> None:
            # One materialization shared by every sink (K8 single-read
            # semantics; the reference reads the source once and fans out,
            # StreamingEtl.java:106-149). Cached at one partition per core:
            # the source's partitioning (one per shard) would run every
            # sink at one small Python task per shard. A narrow coalesce,
            # and a no-op when cores >= source partitions.
            batch = batch.coalesce(batch.sparkSession.sparkContext.defaultParallelism)
            batch.persist()
            try:
                errors: list[str] = []
                for name, write in specs:
                    if ledger is not None and ledger.committed(name, batch_id):
                        continue  # replayed batch: this sink already landed
                    try:
                        on_committed = _call(write, batch, batch_id)
                        if ledger is not None:
                            ledger.commit(name, batch_id)
                        if callable(on_committed):
                            on_committed()  # e.g. drop the staging dir
                    except Exception as e:  # per-sink isolation
                        errors.append(f"{name}: {e}")
                if errors:
                    raise RuntimeError(
                        f"batch {batch_id}: sink failures: {'; '.join(errors)}"
                    )
            finally:
                batch.unpersist()

        return write_all

    # -- execution -----------------------------------------------------------

    def attach_metrics(self):
        """Register and return a PipelineMetricsListener — the dashboard
        analog (reference: cdk/lib/streaming-etl.ts:245-388). Per-batch
        throughput and the observed ``valid_rows`` arrive in progress
        events; ``snapshot()`` rolls them up. Call before ``start``."""
        from ..streaming.metrics import PipelineMetricsListener

        listener = PipelineMetricsListener()
        self.spark.streams.addListener(listener)
        return listener

    def start(self, available_now: bool = False):
        """Assemble and start the streaming query (the ``env.execute()``
        analog, StreamingEtl.java:151). Returns the StreamingQuery."""
        from ..streaming.metrics import OBSERVATION_NAME

        if available_now and (
            self.cfg.has("InputMaxRecordsPerBatch")
            or self.cfg.has("InputMaxOffsetsPerTrigger")
        ):
            # A capped replay source under Trigger.AvailableNow would
            # otherwise drain one cap's worth and stop (the AvailableNow
            # wrapper snapshots latestOffset once) — auto-arm snapshot
            # drain so the backfill runs to the prepare-time end offsets
            # with the cap honored as a per-task slice bound.
            self.cfg.params.setdefault("InputAvailableNowSnapshot", "true")
        specs = _sink_specs(self.cfg) + self.extra_sinks
        valid, _corrupt = self.parsed()
        # P2 health metric: per-batch valid-row count computed inside the
        # running plan (no second pass); corrupt = numInputRows - valid.
        valid = valid.observe(
            OBSERVATION_NAME, F.count(F.lit(1)).alias("valid_rows")
        )
        checkpoint = self.cfg.get("CheckpointLocation")
        if checkpoint is None:
            raise ConfigError("CheckpointLocation is required (exactly-once commit log)")
        ledger = BatchLedger(os.path.join(checkpoint, "sink_ledger"))

        writer = valid.writeStream.foreachBatch(
            self._foreach_batch(specs, ledger)
        ).option("checkpointLocation", checkpoint)
        if available_now:
            writer = writer.trigger(availableNow=True)
        elif self.cfg.has("TriggerInterval"):
            writer = writer.trigger(processingTime=self.cfg.get("TriggerInterval"))
        return writer.queryName("streaming-etl").start()

    def run_available_now(self) -> None:
        """Drain all currently-available input and stop (deterministic
        test/replay mode)."""
        q = self.start(available_now=True)
        q.awaitTermination()
