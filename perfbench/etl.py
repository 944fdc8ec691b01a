"""ETL workload: the paper's fan-out pipeline under an open-loop stream.

``Pipeline.from_config`` runs one streaming query with the default
trigger and four sinks: Parquet files, kinesis-replay, kafka-replay and
discarding. Its kinesis-replay stream (16 shard files) first holds a
small warm-up backlog; once that is delivered, a separate generator
process (``tripgen.py``) appends seeded TripEvent JSON at a fixed rate,
whatever the pipeline is doing. A record's latency runs from its
scheduled creation time to the end of the micro-batch that delivered it.
The query keeps running from warm-up to the end of the run, as a
production stream would, so no per-query start-up cost lands in the
measured batches.
"""

from __future__ import annotations

import contextlib
import functools
import glob
import json
import os
import subprocess
import sys
import time
from collections import Counter
from dataclasses import dataclass, field

import tripgen
from common import BENCH_DIR, median, percentile
from progress import data_batches
from spans import Tracer, session_storage, stage_totals

#: records per second the generator appends
RATE = 8000
#: the warm-up backlog: enough records to reach every code path of the
#: four sinks, the many-partition Parquet write included
WARMUP_RECORDS = 512
LADDER_RECORDS = 5000
#: a generator later than this behind its schedule makes the run invalid
MAX_GENERATOR_LATE_S = 1.0
#: trip ids of the warm-up backlog and of a traced run's second live
#: phase start here; the measured live phase uses ids from 0
WARM_ID_BASE = 1 << 32
TRACED_ID_BASE = 2 << 32
#: pipeline sink name -> metric name
SINKS = {"file": "file", "kinesis": "kinesis", "kafka": "kafka", "discarding": "noop"}
#: this workload runs every layer a traced run reports
NOT_RUN = ()


def pipeline_args(src: str, out: str) -> list[str]:
    return [
        "--InputKinesisReplayDir", src,
        "--OutputBucket", os.path.join(out, "file"),
        "--ParquetConversion", "true",
        "--OutputKinesisStream", "trips",
        "--OutputKinesisReplayDir", os.path.join(out, "kinesis"),
        "--OutputKafkaBootstrapServers", "replay",
        "--OutputKafkaTopic", "trips",
        "--OutputKafkaReplayDir", os.path.join(out, "kafka"),
        "--OutputDiscarding", "true",
        "--CheckpointLocation", os.path.join(out, "ckpt"),
    ]


# --- the stream: a warm-up backlog, then live phases -----------------------------


@dataclass
class Phase:
    """``count`` seeded records appended round-robin after the lines
    earlier phases left in each shard (``first_line``)."""

    seed: int
    count: int
    id_base: int
    first_line: list[int]
    malformed: set[int]
    start_at: float = 0.0
    max_late_s: float = 0.0
    batches: list[dict] = field(default_factory=list)

    def ids(self) -> tuple[set[int], set[int]]:
        """Trip ids of the valid and of the malformed records."""
        valid = {self.id_base + k for k in range(self.count) if k not in self.malformed}
        bad = {tripgen.MALFORMED_ID_BASE + self.id_base + k for k in self.malformed}
        return valid, bad


class Stream:
    def __init__(self, src: str) -> None:
        self.src = src
        self.lines = [0] * tripgen.SHARDS
        self.phases: list[Phase] = []

    def add_phase(self, seed: int, count: int, id_base: int) -> Phase:
        _, malformed = tripgen.records(seed, count, RATE, id_base)
        phase = Phase(seed, count, id_base, list(self.lines), set(malformed))
        for s in range(tripgen.SHARDS):
            self.lines[s] += len(range(s, count, tripgen.SHARDS))
        self.phases.append(phase)
        return phase


def prepare(run_dir: str, seed: int, seconds: float) -> dict:
    """The stream with its warm-up backlog on disk; the live phase's
    expected records in memory (the generator renders its own copy)."""
    stream = Stream(os.path.join(run_dir, "stream"))
    warm = stream.add_phase(seed + 1, WARMUP_RECORDS, WARM_ID_BASE)
    tripgen.write_backlog(stream.src, tripgen.records(warm.seed, warm.count, RATE, warm.id_base)[0])
    live = stream.add_phase(seed, int(RATE * seconds), 0)
    return {"stream": stream, "live": live, "out": os.path.join(run_dir, "out")}


# --- instrumentation (traced runs) ------------------------------------------


@contextlib.contextmanager
def instrumented(tracer: Tracer, after_batch):
    """Wrap the fan-out, each sink callable it invokes and
    ``BatchLedger.commit`` in spans; ``after_batch(batch_id)`` runs after
    each micro-batch. Spans record only while ``tracer.enabled``."""
    from amazon_kinesis_analytics_streaming_etl_spark.plans import pipeline as pl

    orig_specs, orig_fb, orig_commit = pl._sink_specs, pl.Pipeline._foreach_batch, pl.BatchLedger.commit
    current = {"batch": None}

    def wrap_sink(name, write):
        # functools.wraps keeps the signature the fan-out inspects to
        # decide whether to pass batch_id
        @functools.wraps(write)
        def traced(*args):
            with tracer.span(f"sink.{SINKS.get(name, name)}", current["batch"]):
                return write(*args)

        return traced

    def sink_specs(cfg):
        return [(n, wrap_sink(n, w)) for n, w in orig_specs(cfg)]

    def foreach_batch(self, specs, ledger=None):
        inner = orig_fb(self, specs, ledger)

        def write_all(batch, batch_id):
            current["batch"] = batch_id
            with tracer.span("fanout", batch_id):
                inner(batch, batch_id)
            if tracer.enabled:
                after_batch(batch_id)

        return write_all

    def commit(self, sink, batch_id):
        with tracer.span("ledger.commit", batch_id, sink=sink):
            return orig_commit(self, sink, batch_id)

    pl._sink_specs, pl.Pipeline._foreach_batch, pl.BatchLedger.commit = sink_specs, foreach_batch, commit
    try:
        yield
    finally:
        pl._sink_specs, pl.Pipeline._foreach_batch, pl.BatchLedger.commit = orig_specs, orig_fb, orig_commit


# --- warm-up and live phases -------------------------------------------------------


def _wait_delivered(q, lines: int, timeout: float) -> list[dict]:
    """Poll the query's progress until its offsets reach ``lines``."""
    deadline = time.time() + timeout
    while True:
        batches = data_batches(q.recentProgress)
        done = sum(batches[-1]["end_offset"].values()) if batches else 0
        if q.exception():
            raise RuntimeError(f"pipeline failed: {q.exception()}")
        if done >= lines:
            return batches
        if time.time() > deadline:
            raise RuntimeError(f"pipeline delivered {done} of {lines} records in {timeout}s")
        time.sleep(0.05)


def warm_up(spark, run_dir: str, inputs: dict, trace: bool) -> float:
    """Start the run's one streaming query and wait until it has
    delivered the warm-up backlog (its first, cold micro-batch). A traced
    run installs the span wrappers first, recording off."""
    from amazon_kinesis_analytics_streaming_etl_spark.plans.pipeline import Pipeline

    stack = contextlib.ExitStack()
    inputs["stack"] = stack
    t0 = time.perf_counter()
    pipe = Pipeline.from_config(spark, args=pipeline_args(inputs["stream"].src, inputs["out"]))
    if trace:
        from spans import Py4jCounter, register_qe_recorder

        tracer, storage = Tracer(), []
        inputs.update(tracer=tracer, storage=storage, qer=register_qe_recorder(spark))
        stack.enter_context(instrumented(tracer, lambda b: storage.append(session_storage(spark))))
        py4j = Py4jCounter(spark)
        start = time.time()
        with py4j.counting() as calls:
            inputs["query"] = pipe.start()
        inputs["construct"] = {"s": time.time() - start, "py4j_calls": calls(), "start": start, "end": time.time()}
    else:
        inputs["query"] = pipe.start()
    stack.callback(inputs["query"].stop)
    _wait_delivered(inputs["query"], WARMUP_RECORDS, timeout=150)
    return time.perf_counter() - t0


def live_phase(q, phase: Phase, src: str, seconds: float, sampler) -> None:
    """Run the generator for ``phase`` and wait until every record it
    appended has been delivered."""
    manifest_path = os.path.join(os.path.dirname(src), f"manifest-{phase.id_base}.json")
    start_at = time.time() + 1.0  # the generator renders its records first
    gen = subprocess.Popen(
        [
            sys.executable, os.path.join(BENCH_DIR, "tripgen.py"),
            "--dir", src, "--seed", str(phase.seed), "--rate", str(RATE),
            "--count", str(phase.count), "--id-base", str(phase.id_base),
            "--start-at", repr(start_at), "--manifest", manifest_path,
        ]
    )
    sampler.exclude.add(gen.pid)
    try:
        if gen.wait(timeout=seconds + 60) != 0:
            raise RuntimeError(f"generator exited with {gen.returncode}")
    finally:
        if gen.poll() is None:
            gen.kill()
            gen.wait()
    with open(manifest_path) as f:
        manifest = json.load(f)
    before = sum(phase.first_line)
    batches = _wait_delivered(q, before + phase.count, timeout=120)
    phase.start_at, phase.max_late_s = manifest["start_at"], manifest["max_late_s"]
    phase.batches = [b for b in batches if sum(b["end_offset"].values()) > before]


def latencies(phase: Phase) -> list[float]:
    """Per valid record: end of its delivering batch minus its scheduled
    creation time. Line ``L`` of shard ``s`` is the phase's record
    ``k = (L - first_line[s]) * 16 + s``."""
    out = []
    for b in phase.batches:
        for shard, hi in b["end_offset"].items():
            s = int(shard.rsplit("-", 1)[1])
            first = phase.first_line[s]
            for line in range(max(b["start_offset"].get(shard, 0), first), hi):
                k = (line - first) * tripgen.SHARDS + s
                if k < phase.count and k not in phase.malformed:
                    out.append(b["end"] - (phase.start_at + k / RATE))
    return out


def records_behind(phase: Phase) -> list[int]:
    """Per batch: records the generator had written by the batch's end
    beyond the batch's end offsets."""
    before = sum(phase.first_line)
    out = []
    for b in phase.batches:
        written = min(phase.count, max(0, int((b["end"] - phase.start_at) * RATE) + 1))
        out.append(max(0, written - (sum(b["end_offset"].values()) - before)))
    return out


# --- correctness ---------------------------------------------------------------


def _jsonl_ids(d: str) -> Counter:
    ids: Counter = Counter()
    for fp in glob.glob(os.path.join(d, "**", "*.jsonl"), recursive=True):
        with open(fp) as f:
            for line in f:
                ids[int(json.loads(line)["trip_id"])] += 1
    return ids


def _parquet_ids(d: str) -> Counter:
    import pyarrow.parquet as pq

    ids: Counter = Counter()
    for fp in glob.glob(os.path.join(d, "**", "*.parquet"), recursive=True):
        if "/_" in fp[len(d):]:
            continue  # staging area, not published output
        ids.update(pq.read_table(fp, columns=["trip_id"]).column(0).to_pylist())
    return ids


def check_outputs(out: str, phases: list[Phase], valid_seen: int | None) -> dict:
    """Every valid record exactly once in each durable sink, no malformed
    or unknown record anywhere, the pipeline's own valid-row count equal
    to the generator's. An operation is one generated record."""
    valid, bad = set(), set()
    for p in phases:
        v, b = p.ids()
        valid |= v
        bad |= b
    failed: set[int] = set()
    for ids in (
        _parquet_ids(os.path.join(out, "file")),
        _jsonl_ids(os.path.join(out, "kinesis")),
        _jsonl_ids(os.path.join(out, "kafka")),
    ):
        failed.update(i for i in valid if ids.get(i, 0) != 1)
        failed.update(i for i in ids if i not in valid)  # malformed or unknown
    problems = []
    if failed:
        problems.append(f"{len(failed)} records not exactly once in every sink")
    if valid_seen != len(valid):
        problems.append(f"pipeline valid_rows {valid_seen} != generated {len(valid)}")
    return {
        "attempted": len(valid) + len(bad),
        "failed": len(failed) + (1 if valid_seen != len(valid) else 0),
        "problems": problems,
    }


def observed_valid_rows(batches: list[dict]) -> int | None:
    vals = [b["observed"].get("etl", {}).get("valid_rows") for b in batches]
    if any(v is None for v in vals):
        return None
    return int(sum(vals))


# --- the measured run -------------------------------------------------------------


def run(spark, run_dir: str, seed: int, seconds: float, trace: bool, sampler, inputs: dict) -> dict:
    """The measured live phase and its checks. A traced run then appends
    a second live phase with spans recording (traced minus untraced
    latency is the tracing overhead) and runs the layer ladder."""
    stream, live = inputs["stream"], inputs["live"]
    q = inputs["query"]
    with inputs["stack"]:
        with sampler:
            live_phase(q, live, stream.src, seconds, sampler)
        if trace:
            traced = stream.add_phase(seed + 2, live.count, TRACED_ID_BASE)
            inputs["tracer"].enabled = True
            live_phase(q, traced, stream.src, seconds, sampler)
            inputs["tracer"].enabled = False
        all_batches = data_batches(q.recentProgress)
    check = check_outputs(inputs["out"], stream.phases, observed_valid_rows(all_batches))
    for p in stream.phases[1:]:
        if p.max_late_s > MAX_GENERATOR_LATE_S:
            check["problems"].append(
                f"generator fell {p.max_late_s:.3f}s behind its schedule "
                f"(bound {MAX_GENERATOR_LATE_S}s): run invalid"
            )

    lat = latencies(live)
    # one full pass over the phase's input: from its first scheduled
    # record to the end of the micro-batch that delivered its last one
    span_s = max(b["end"] for b in live.batches) - live.start_at
    e2e = {
        "latency_p50_s": percentile(lat, 50),
        "latency_p99_s": percentile(lat, 99),
        "pass_s": span_s,
    }
    detail = {
        "rate_rps": RATE,
        "records": live.count,
        "malformed": len(live.malformed),
        "batches": len(live.batches),
        "batch_s": [b["durations"]["triggerExecution"] / 1000.0 for b in live.batches],
        "batch_rows": [b["rows"] for b in live.batches],
        "latency_samples": len(lat),
        "throughput_rps": len(lat) / span_s,
        "records_behind_max": max(records_behind(live), default=0),
        "generator_max_late_s": live.max_late_s,
    }
    out = {"e2e": e2e, "check": check, "detail": detail}
    if not trace:
        return out

    tracer = inputs["tracer"]
    lad = ladder(spark, run_dir, seed, tracer)
    check["attempted"] += 1
    check["failed"] += 1 if ladder_problems(lad) else 0
    check["problems"] += ladder_problems(lad)
    # the traced phase runs on a warmer JVM than the untraced one, so this
    # understates the overhead by that drift
    overhead = percentile(latencies(traced), 50) - e2e["latency_p50_s"]
    out["tracer"] = tracer
    out["trace_records"] = [
        {"kind": "batch", "phase": name, **b}
        for name, phase in (("measured", live), ("traced", traced))
        for b in phase.batches
    ]

    # the micro-batch that carries the traced phase: the phase's first
    # record alone makes a batch of its own
    big = max(traced.batches, key=lambda b: b["rows"])

    def finish(stages, jobs):
        qe_events = inputs["qer"].wait_for(0)
        layers = pipeline_layers([big], tracer, qe_events, stages)
        file_span = next((s for s in tracer.named("sink.file") if s["trace_id"] == big["batch_id"]), None)
        layers.update(file_sink_shape(inputs["out"], file_span, observed_valid_rows([big]) or 0))
        c, storage = inputs["construct"], inputs["storage"]
        layers.update({
            **_ladder_figures(lad),
            "sources.records_behind": max(records_behind(traced), default=0),
            # the traced phase's own parse counts, not the ladder's
            "operators.parse.valid_rows": observed_valid_rows(traced.batches) or 0,
            "operators.parse.corrupt_rows": sum(b["rows"] for b in traced.batches)
            - (observed_valid_rows(traced.batches) or 0),
            "plans.construct_s": c["s"],
            "plans.py4j_calls": c["py4j_calls"],
            "plans.eager_jobs": sum(1 for j in jobs if c["start"] <= j["submitted"] <= c["end"]),
            "session.persistent_rdds": storage[-1]["persistent_rdds"] if storage else 0,
            "session.storage_mem_bytes": storage[-1]["storage_mem_bytes"] if storage else 0,
            "trace.overhead_s": overhead,
        })
        return layers

    out["finish_trace"] = finish
    return out


# --- the ETL layer ladder (traced runs) ------------------------------------------


def ladder(spark, run_dir: str, seed: int, tracer: Tracer, reps: int = 2) -> dict:
    """Noop writes of (1) the replay read, (2) read -> split_corrupt,
    (3) read -> parse -> trip_event_to_json over one seeded batch; the
    differences between rungs are the parse and serialize self times."""
    from pyspark.sql import functions as F

    from amazon_kinesis_analytics_streaming_etl_spark.operators.parse import split_corrupt
    from amazon_kinesis_analytics_streaming_etl_spark.operators.serialize import trip_event_to_json
    from amazon_kinesis_analytics_streaming_etl_spark.sources.kinesis_replay import register_kinesis_replay

    src = os.path.join(run_dir, "ladder", "src")
    lines, malformed = tripgen.records(seed + 3, LADDER_RECORDS, RATE)
    tripgen.write_backlog(src, lines)
    register_kinesis_replay(spark)

    def read():
        return (
            spark.read.format("kinesis-replay").option("path", src).load()
            .select(F.col("data").cast("string").alias("value"))
        )

    rungs = {
        "read": read,
        "parse": lambda: split_corrupt(read())[0],
        "serialize": lambda: trip_event_to_json(split_corrupt(read())[0]),
    }
    times: dict[str, float] = {}
    rungs["serialize"]().write.format("noop").mode("overwrite").save()  # warm every rung's path
    tracer.enabled = True
    for name, build in rungs.items():
        runs = []
        for r in range(reps):
            with tracer.span(f"ladder.{name}", f"ladder-{r}") as sp:
                build().write.format("noop").mode("overwrite").save()
            runs.append(sp["end"] - sp["start"])
        times[name] = min(runs)  # least disturbed of the repeats
    valid, corrupt = split_corrupt(read())
    counts = {"valid": valid.count(), "corrupt": corrupt.count()}
    tracer.enabled = False
    return {
        "src": src,
        "read_s": times["read"],
        "parse_self_s": times["parse"] - times["read"],
        "serialize_self_s": times["serialize"] - times["parse"],
        "valid_rows": counts["valid"],
        "corrupt_rows": counts["corrupt"],
        "expected_valid": LADDER_RECORDS - len(malformed),
        "expected_corrupt": len(malformed),
    }


def ladder_problems(lad: dict) -> list[str]:
    if (lad["valid_rows"], lad["corrupt_rows"]) != (lad["expected_valid"], lad["expected_corrupt"]):
        return [
            f"ladder parse counts {lad['valid_rows']}/{lad['corrupt_rows']} != generated "
            f"{lad['expected_valid']}/{lad['expected_corrupt']}"
        ]
    return []


def _ladder_figures(lad: dict) -> dict:
    return {
        "sources.read_s": lad["read_s"],
        "operators.parse.self_s": lad["parse_self_s"],
        "operators.serialize.self_s": lad["serialize_self_s"],
        "operators.parse.valid_rows": lad["valid_rows"],
        "operators.parse.corrupt_rows": lad["corrupt_rows"],
    }


# --- per-layer metrics from a traced pipeline run --------------------------------


def pipeline_layers(traced: list[dict], tracer: Tracer, qe_events: list[dict], stages: list[dict]) -> dict:
    """Per micro-batch medians over the ``traced`` batches."""
    batches = {b["batch_id"]: b for b in traced}
    fanouts = {s["trace_id"]: s for s in tracer.named("fanout") if s["trace_id"] in batches}
    sink_spans = [s for s in tracer.spans if s["name"].startswith("sink.")]
    ledger_spans = tracer.named("ledger.commit")

    def per_batch(fn):
        vals = [fn(bid, sp) for bid, sp in fanouts.items()]
        return median(vals) if vals else 0.0

    def within(sp, t):
        return sp["start"] <= t <= sp["end"]

    def spans_of(bid, name=None):
        return [s for s in sink_spans if s["trace_id"] == bid and (name is None or s["name"] == name)]

    out: dict[str, float] = {}
    for name in SINKS.values():
        out[f"sinks.{name}.write_s"] = per_batch(
            lambda bid, sp, n=name: sum(s["end"] - s["start"] for s in spans_of(bid, f"sink.{n}"))
        )
    out["sinks.file.tasks_per_write"] = per_batch(
        lambda bid, sp: sum(
            st["tasks"] for st in stages for s in spans_of(bid, "sink.file") if within(s, st["submitted"])
        )
    )
    out["pipeline.fanout_overhead_s"] = per_batch(
        lambda bid, sp: batches[bid]["durations"].get("addBatch", 0) / 1000.0
        - sum(s["end"] - s["start"] for s in spans_of(bid))
    )
    out["pipeline.ledger_commit_s"] = per_batch(
        lambda bid, sp: sum(s["end"] - s["start"] for s in ledger_spans if s["trace_id"] == bid)
    )
    for key, phase in (("catalyst.analysis_ms", "analysis_ms"),
                       ("catalyst.optimization_ms", "optimization_ms"),
                       ("catalyst.planning_ms", "planning_ms"),
                       ("exec.execute_s", "execute_s")):
        out[key] = per_batch(
            lambda bid, sp, ph=phase: sum(e.get(ph, 0) for e in qe_events if within(sp, e["at"]))
        )
    totals = [stage_totals([st for st in stages if within(sp, st["submitted"])]) for sp in fanouts.values()]
    for k in ("tasks", "stages", "shuffle_write_bytes", "shuffle_records", "spill_bytes", "executor_cpu_s"):
        out[f"exec.{k}"] = median([t[k] for t in totals]) if totals else 0.0
    for key, d in (("pipeline.add_batch_ms", "addBatch"),
                   ("pipeline.query_planning_ms", "queryPlanning"),
                   ("pipeline.wal_commit_ms", "walCommit"),
                   ("sources.latest_offset_ms", "latestOffset")):
        out[key] = median([b["durations"].get(d, 0) for b in traced])
    return out


def file_sink_shape(out: str, span: dict | None, records: int) -> dict:
    """Parquet files the file sink published during ``span`` (its write of
    one micro-batch of ``records`` valid records) and their bytes per record."""
    files = [
        fp for fp in glob.glob(os.path.join(out, "file", "**", "*.parquet"), recursive=True)
        if "/_" not in fp[len(out):] and span and span["start"] <= os.path.getmtime(fp) <= span["end"]
    ]
    size = sum(os.path.getsize(f) for f in files)
    return {
        "sinks.file.files_per_batch": len(files),
        "sinks.file.bytes_per_record": size / max(1, records),
    }
