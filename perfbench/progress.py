"""Read Structured Streaming progress events robustly.

``StreamingQuery.recentProgress`` is read instead of a listener: listener
delivery is asynchronous, so a listener snapshot taken right after
``awaitTermination`` can still be empty, while ``recentProgress`` is
filled by the query thread itself before the batch counts as done.

Offsets need care. JVM sources report them as JSON, but the Python
replay sources report a Python-repr string such as
``"{'shardId-000000000000': 1}"``, and the first batch's ``startOffset``
is ``None`` or the string ``'None'``.
"""

from __future__ import annotations

import ast
import json
from datetime import datetime
from typing import Any


def as_dict(progress: Any) -> dict:
    """A progress event as a plain dict (PySpark returns either dicts or
    ``StreamingQueryProgress`` objects, depending on version)."""
    if isinstance(progress, dict):
        return progress
    raw = getattr(progress, "json", None)
    if raw is not None:
        return json.loads(raw() if callable(raw) else raw)
    return dict(progress)


def parse_offset(raw: Any) -> dict[str, int]:
    """A source offset as ``{partition: int}``; ``{}`` for no offset."""
    if raw is None:
        return {}
    if isinstance(raw, dict):
        return {str(k): int(v) for k, v in raw.items()}
    text = str(raw).strip()
    if text in ("", "None", "null"):
        return {}
    try:
        value = json.loads(text)
    except json.JSONDecodeError:
        value = ast.literal_eval(text)
    if value is None:
        return {}
    if not isinstance(value, dict):
        raise ValueError(f"offset is not a per-partition map: {raw!r}")
    return {str(k): int(v) for k, v in value.items()}


def parse_timestamp(text: str) -> float:
    """Progress ``timestamp`` (ISO-8601, UTC ``Z``) as epoch seconds."""
    return datetime.fromisoformat(text.replace("Z", "+00:00")).timestamp()


def data_batches(progresses: list[Any]) -> list[dict]:
    """One record per micro-batch that read input, in batch order:
    ``batch_id``, ``rows``, ``start``/``end`` epoch seconds, the
    ``durations`` map (ms), the first source's ``start_offset`` /
    ``end_offset`` / ``latest_offset`` maps and the observed metrics."""
    out: dict[int, dict] = {}
    for p in map(as_dict, progresses):
        rows = p.get("numInputRows") or 0
        if rows <= 0:
            continue
        durations = p.get("durationMs") or {}
        start = parse_timestamp(p["timestamp"])
        src = (p.get("sources") or [{}])[0]
        observed = {
            name: row.asDict() if hasattr(row, "asDict") else dict(row)
            for name, row in (p.get("observedMetrics") or {}).items()
        }
        out[int(p["batchId"])] = {
            "batch_id": int(p["batchId"]),
            "rows": int(rows),
            "start": start,
            "end": start + durations.get("triggerExecution", 0) / 1000.0,
            "durations": durations,
            "start_offset": parse_offset(src.get("startOffset")),
            "end_offset": parse_offset(src.get("endOffset")),
            "latest_offset": parse_offset(src.get("latestOffset")),
            "observed": observed,
        }
    return [out[b] for b in sorted(out)]

