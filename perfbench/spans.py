"""Tracing from outside the engine: spans around the benchmark's calls
into each layer, Catalyst phases from a query-execution listener, py4j
round-trip counts, and per-stage metrics from Spark's event log.

Spans are kept in memory and written as JSON lines when the run ends.
Every timestamp is epoch seconds, the clock Spark's progress events and
event log use, so the three sources join on time.
"""

from __future__ import annotations

import itertools
import json
import os
import threading
import time
from collections import Counter
from contextlib import contextmanager


class Tracer:
    """Spans with name, start, end, parent and trace id. ``enabled``
    switches recording on and off while the wrappers stay installed."""

    def __init__(self) -> None:
        self.spans: list[dict] = []
        self.enabled = False
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()

    def _stack(self) -> list[int]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextmanager
    def span(self, name: str, trace_id, **attrs):
        if not self.enabled:
            yield None
            return
        stack = self._stack()
        span = {
            "id": next(self._ids),
            "name": name,
            "trace_id": trace_id,
            "parent": stack[-1] if stack else None,
            "start": time.time(),
            **attrs,
        }
        stack.append(span["id"])
        try:
            yield span
        finally:
            stack.pop()
            span["end"] = time.time()
            with self._lock:
                self.spans.append(span)

    def named(self, name: str) -> list[dict]:
        return [s for s in self.spans if s["name"] == name]

    def write(self, path: str, extra: list[dict]) -> None:
        with open(path, "w") as f:
            for rec in sorted(self.spans, key=lambda s: s["start"]) + extra:
                f.write(json.dumps(rec, default=str) + "\n")


# --- Catalyst: query-execution listener ------------------------------------


class QueryExecutionRecorder:
    """JVM ``QueryExecutionListener`` implemented through the py4j
    callback server. For each finished action it keeps the Catalyst
    phase times, the execution time and the operator names of the
    optimized plan. Delivery is asynchronous; ``wait_for`` polls."""

    PHASES = ("analysis", "optimization", "planning")

    def __init__(self) -> None:
        self.events: list[dict] = []
        self._lock = threading.Lock()

    def onSuccess(self, funcName, qe, durationNs):  # noqa: N802 (JVM API)
        phases = qe.tracker().phases()
        rec = {
            "func": funcName,
            "at": time.time(),
            "execute_s": durationNs / 1e9,
            "plan_ops": plan_operators(qe.optimizedPlan().toString()),
        }
        for k in self.PHASES:
            rec[f"{k}_ms"] = phases.apply(k).durationMs() if phases.contains(k) else 0
        with self._lock:
            self.events.append(rec)

    def onFailure(self, funcName, qe, exception):  # noqa: N802
        with self._lock:
            self.events.append({"func": funcName, "at": time.time(), "failed": True})

    def wait_for(self, n: int, timeout: float = 10.0, func: str | None = None) -> list[dict]:
        """The events so far (only those of action ``func`` if given),
        once there are ``n`` of them or ``timeout`` has passed."""
        def matching() -> list[dict]:
            with self._lock:
                return [e for e in self.events if func is None or e["func"] == func]

        deadline = time.time() + timeout
        while len(matching()) < n and time.time() < deadline:
            time.sleep(0.01)
        return matching()

    class Java:
        implements = ["org.apache.spark.sql.util.QueryExecutionListener"]


def register_qe_recorder(spark) -> QueryExecutionRecorder:
    from pyspark.java_gateway import ensure_callback_server_started

    ensure_callback_server_started(spark.sparkContext._gateway)
    rec = QueryExecutionRecorder()
    spark._jsparkSession.listenerManager().register(rec)
    return rec


def plan_operators(tree: str) -> Counter:
    """Operator names of a plan's tree string, with multiplicity."""
    ops: Counter = Counter()
    for line in tree.splitlines():
        body = line.lstrip(" :+-|")
        if not body or body.startswith("("):
            continue
        name = body.split(" ", 1)[0].split("[", 1)[0]
        if name and name[0].isalpha():
            ops[name] += 1
    return ops


# --- py4j round trips ------------------------------------------------------


class Py4jCounter:
    """Counts py4j commands the calling thread sends while active."""

    def __init__(self, spark) -> None:
        self.client = spark.sparkContext._gateway._gateway_client
        self.count = 0
        self._thread = None
        self._orig = self.client.send_command

    def _send(self, *args, **kwargs):
        if threading.get_ident() == self._thread:
            self.count += 1
        return self._orig(*args, **kwargs)

    @contextmanager
    def counting(self):
        self._thread = threading.get_ident()
        start = self.count
        self.client.send_command = self._send
        try:
            yield lambda: self.count - start
        finally:
            self.client.send_command = self._orig
            self._thread = None


# --- Spark event log -------------------------------------------------------

_ACC = {
    "internal.metrics.executorCpuTime": "cpu_ns",
    "internal.metrics.executorRunTime": "run_ms",
    "internal.metrics.shuffle.write.bytesWritten": "shuffle_write_bytes",
    "internal.metrics.shuffle.write.recordsWritten": "shuffle_records",
    "internal.metrics.diskBytesSpilled": "spill_bytes",
}


def read_event_log(log_dir: str) -> tuple[list[dict], list[dict]]:
    """Completed stages and started jobs of the newest application in
    ``log_dir``. A stage has its id, task count, submit/complete epoch
    seconds, job group, streaming batch id and the summed task metrics in
    ``_ACC``; a job its id, submit time and job group."""
    apps = [os.path.join(log_dir, f) for f in os.listdir(log_dir)]
    if not apps:
        return [], []
    newest = max(apps, key=os.path.getmtime)
    # Spark 4 writes rolling logs: a directory of events_<n>_... parts
    parts = (
        sorted(
            (os.path.join(newest, f) for f in os.listdir(newest) if f.startswith("events_")),
            key=lambda f: int(os.path.basename(f).split("_")[1]),
        )
        if os.path.isdir(newest)
        else [newest]
    )
    props: dict[int, dict] = {}
    stages: list[dict] = []
    jobs: list[dict] = []
    for part in parts:
        with open(part) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    jobs.append({
                        "job": ev["Job ID"],
                        "submitted": (ev.get("Submission Time") or 0) / 1000.0,
                        "group": (ev.get("Properties") or {}).get("spark.jobGroup.id"),
                    })
                elif kind == "SparkListenerStageSubmitted":
                    props[ev["Stage Info"]["Stage ID"]] = ev.get("Properties") or {}
                elif kind == "SparkListenerStageCompleted":
                    stages.append(_stage_record(ev["Stage Info"], props))
    return stages, jobs


def _stage_record(info: dict, props: dict[int, dict]) -> dict:
    p = props.get(info["Stage ID"], {})
    rec = {
        "stage": info["Stage ID"],
        "tasks": info.get("Number of Tasks", 0),
        "submitted": (info.get("Submission Time") or 0) / 1000.0,
        "completed": (info.get("Completion Time") or 0) / 1000.0,
        "group": p.get("spark.jobGroup.id"),
        "batch": p.get("streaming.sql.batchId"),
        **{k: 0 for k in _ACC.values()},
    }
    for acc in info.get("Accumulables", []):
        key = _ACC.get(acc.get("Name"))
        if key is not None:
            rec[key] += int(float(acc.get("Value") or 0))
    return rec


def stage_totals(stages: list[dict]) -> dict[str, float]:
    return {
        "stages": len(stages),
        "tasks": sum(s["tasks"] for s in stages),
        "executor_cpu_s": sum(s["cpu_ns"] for s in stages) / 1e9,
        "shuffle_write_bytes": sum(s["shuffle_write_bytes"] for s in stages),
        "shuffle_records": sum(s["shuffle_records"] for s in stages),
        "spill_bytes": sum(s["spill_bytes"] for s in stages),
    }


def session_storage(spark) -> dict[str, int]:
    """Persistent RDDs still registered and the memory they hold."""
    jsc = spark.sparkContext._jsc
    infos = jsc.sc().getRDDStorageInfo()
    return {
        "persistent_rdds": int(jsc.getPersistentRDDs().size()),
        "storage_mem_bytes": int(sum(i.memSize() for i in infos)),
    }
