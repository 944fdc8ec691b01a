"""Repository benchmark: one workload, one seed, one JSON result line.

    python3 perfbench/run.py --workload etl_live --seed 1 --seconds 20 --trace 0

Workloads (see BENCHMARK.json for why each was chosen):

- ``etl_live``: open loop. A separate generator process appends seeded
  TripEvent JSON to 16 kinesis-replay shards at a fixed rate;
  ``Pipeline.from_config`` fans out to Parquet, kinesis-replay,
  kafka-replay and discarding sinks.
- ``curation_dup10``: closed loop, one client. Eight dedup / near-dup /
  ANN / decontamination queries over a ten-fold exact-duplicate corpus,
  each result materialized with a ``noop`` write.

Each run sets up three times (session started, inputs generated from
the seed) and reports the median as ``setup_s``, warms up untimed,
measures for ``--seconds`` (sampling RSS meanwhile), then checks every
output outside the timed region. With
``--trace 0`` the result carries the end-to-end metrics; with
``--trace 1`` it carries the per-layer metrics, and the spans, the
micro-batches' progress (or the passes' query timings), the event log's
stage metrics and the per-layer figures go to
``.bench_run/trace-<workload>-s<seed>.jsonl``.

The last stdout line is ``{"correct", "attempted", "failed", "metrics"}``;
the line before it is a detail record (seed, benchmark file hash, sf and
variant, cores, pyspark version, generator lateness, tail figures).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import sys
import time

from common import ROOT, RssSampler, bench_sha, median, prepare_env, start_session, stop_spark

sys.path.insert(0, ROOT)

SETUP_REPEATS = 3


def _metric_units(kind: str) -> dict[str, str]:
    """Name -> unit of the ``end_to_end`` or ``per_layer`` metrics;
    BENCHMARK.json is the one list of them."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return {m["name"]: m["unit"] for m in json.load(f)[kind]}


def _load_workloads():
    import curation
    import etl

    return {"etl_live": etl, "curation_dup10": curation}


def main(argv: list[str]) -> int:
    ap = argparse.ArgumentParser(description="repository benchmark")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args(argv)
    # a terminated run still stops its query, generator and JVM (finally blocks)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    try:  # the engine and its toolchain must be importable from here
        import pyspark

        import amazon_kinesis_analytics_streaming_etl_spark.plans.pipeline  # noqa: F401
        import bench  # noqa: F401
    except ImportError as e:
        print(f"perfbench: cannot import the engine from {ROOT}: {e}", file=sys.stderr)
        return 2
    workloads = _load_workloads()
    if a.workload not in workloads:
        print(f"perfbench: unknown workload {a.workload!r}; one of {sorted(workloads)}", file=sys.stderr)
        return 2
    wl = workloads[a.workload]
    trace = bool(a.trace)

    bench_root = os.path.join(ROOT, ".bench_run")
    run_dir = os.path.join(bench_root, f"{a.workload}-s{a.seed}-{os.getpid()}")
    os.makedirs(run_dir)
    conf = prepare_env(run_dir, trace)
    spark = None
    sampler = RssSampler()
    try:
        setups = []
        for i in range(SETUP_REPEATS):
            if spark is not None:
                spark.stop()  # tearing down the previous set-up is not set-up
            t0 = time.perf_counter()
            spark = start_session(conf)
            inputs = wl.prepare(os.path.join(run_dir, f"setup{i}"), a.seed, a.seconds)
            setups.append(time.perf_counter() - t0)
        warm_s = wl.warm_up(spark, run_dir, inputs, trace)
        res = wl.run(spark, run_dir, a.seed, a.seconds, trace, sampler, inputs)
        stop_spark(spark)
        spark = None
        detail = {
            "detail": "perfbench",
            "workload": a.workload,
            "seed": a.seed,
            "seconds": a.seconds,
            "trace": trace,
            "bench_sha": bench_sha(),
            "sf": getattr(wl, "SF", None),
            "variant": getattr(wl, "VARIANT", None),
            "nproc": os.cpu_count(),
            "cores": int(os.environ["SPARK_GRAFT_CPUS"]),
            "pyspark": pyspark.__version__,
            "setup_runs_s": [round(s, 4) for s in setups],
            "warmup_s": round(warm_s, 4),
            "problems": res["check"]["problems"],
            **res["detail"],
        }
        e2e = dict(res["e2e"], setup_s=median(setups), peak_rss_mb=sampler.peak_mb)
        if trace:
            from spans import read_event_log

            stages, jobs = read_event_log(os.path.join(run_dir, "eventlog"))
            units = _metric_units("per_layer")
            layers = res["finish_trace"](stages, jobs)
            layers.update({k: 0.0 for k in units if k.startswith(wl.NOT_RUN) and k not in layers})
            values = layers
            trace_path = os.path.join(bench_root, f"trace-{a.workload}-s{a.seed}.jsonl")
            res["tracer"].write(
                trace_path,
                res["trace_records"]
                + [{"kind": "stage", **s} for s in stages]
                + [{"kind": "layer_metrics", **layers}, {"kind": "end_to_end", **e2e}],
            )
            detail["trace_file"] = os.path.relpath(trace_path, ROOT)
        else:
            values, units = e2e, _metric_units("end_to_end")
        missing = [k for k in units if values.get(k) is None]
        if missing:
            res["check"]["problems"].append(f"metrics not measurable: {missing}")
        metrics = {k: {"value": float(values.get(k) or 0.0), "unit": u} for k, u in units.items()}
        line = {
            "correct": not res["check"]["problems"],
            "attempted": int(res["check"]["attempted"]),
            "failed": int(res["check"]["failed"]),
            "metrics": metrics,
        }
        detail["end_to_end"] = e2e
        with open(os.path.join(bench_root, "results.jsonl"), "a") as f:
            f.write(json.dumps({**detail, "result": line}, default=str) + "\n")
        print(json.dumps(detail, default=str))
        print(json.dumps(line))
        sys.stdout.flush()
        return 0
    finally:
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(run_dir, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
