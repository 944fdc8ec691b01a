"""Seeded TripEvent stream generator for the ETL workloads.

Record ``k`` of a seed is always the same line, so the benchmark can
regenerate the expected set (valid trip ids, malformed ids) without
reading anything back from the generator. Records go round-robin to
``SHARDS`` kinesis-replay shard files: the ``j``-th line a batch of
records adds to shard ``s`` is its record ``k = j * SHARDS + s``, which is
how latency is mapped back from the per-shard offsets in the stream's
progress events.

Run as a script it is the open-loop live generator: a separate,
single-threaded process that appends record ``k`` no earlier than its
scheduled time ``start_at + k / rate``, whatever the pipeline is doing,
and writes a manifest with its maximum lateness behind that schedule.
Like a producer that buffers for ``TICK_S`` (the Kinesis producer library
buffers 100 ms by default), it appends every ``TICK_S`` all records due
by then; the wait counts in each record's latency.

    python3 perfbench/tripgen.py --dir D --seed 1 --rate 2000 \
        --count 12000 --id-base 0 --start-at <epoch> --manifest M
"""

from __future__ import annotations

import argparse
import bisect
import json
import os
import random
import sys
import time

SHARDS = 16
MALFORMED_SHARE = 0.02
#: malformed records carry trip ids from this base up, so any of them
#: landing in a sink is detectable
MALFORMED_ID_BASE = 1 << 40
#: event time of record 0; later records advance one second per
#: ``rate`` records, like trips recorded as they happen
EVENT_EPOCH = 1542997814  # 2018-11-23T18:30:14Z
N_LOCATIONS = 265
ZIPF_S = 1.1
TICK_S = 0.1

_ZIPF_CDF: list[float] = []


def _zipf_cdf() -> list[float]:
    if not _ZIPF_CDF:
        w = [1.0 / (i**ZIPF_S) for i in range(1, N_LOCATIONS + 1)]
        total, acc = sum(w), 0.0
        for x in w:
            acc += x
            _ZIPF_CDF.append(acc / total)
    return _ZIPF_CDF


def shard_file(stream_dir: str, shard: int) -> str:
    return os.path.join(stream_dir, f"shardId-{shard:012d}.jsonl")


def _iso(epoch: int) -> str:
    return time.strftime("%Y-%m-%dT%H:%M:%S", time.gmtime(epoch))


def records(
    seed: int, count: int, rate: float, id_base: int = 0
) -> tuple[list[str], list[int]]:
    """Lines ``0 .. count-1`` of the seeded stream and the indices of the
    malformed ones. Valid record ``k`` has ``trip_id == id_base + k``;
    Zipf-skewed ``pickup_location_id`` (a few hot zones, a long tail)."""
    rng = random.Random(seed)
    cdf = _zipf_cdf()
    lines: list[str] = []
    malformed: list[int] = []
    for k in range(count):
        ts = EVENT_EPOCH + int(k / rate)
        loc = bisect.bisect_left(cdf, rng.random()) + 1
        fare = round(2.5 + rng.random() * 40, 2)
        tip = round(rng.random() * 8, 2)
        pickup = _iso(ts)
        if rng.random() < MALFORMED_SHARE:
            malformed.append(k)
            tid = MALFORMED_ID_BASE + id_base + k
            kind = rng.randrange(3)
            if kind == 0:  # truncated payload: not JSON at all
                lines.append(f'{{"trip_id": {tid}, "vendor_id": 1, "pickup_dat')
                continue
            if kind == 1:  # a required field missing
                pickup = None
            else:  # unparseable timestamp text
                pickup = "2018-13-45T99:99:99"
        else:
            tid = id_base + k
        fields = [
            f'"vendor_id": {1 + k % 2}',
            f'"pickup_datetime": "{pickup}"' if pickup is not None else None,
            f'"dropoff_datetime": "{_iso(ts + 60 + rng.randrange(3600))}"',
            f'"passenger_count": {1 + rng.randrange(4)}',
            f'"trip_distance": {round(0.3 + rng.random() * 20, 2)}',
            '"ratecode_id": 1',
            f'"store_and_fwd_flag": "{"Y" if rng.random() < 0.02 else "N"}"',
            f'"pickup_location_id": {loc}',
            f'"dropoff_location_id": {1 + rng.randrange(N_LOCATIONS)}',
            f'"payment_type": {1 + rng.randrange(4)}',
            f'"fare_amount": {fare}',
            '"extra": 0.5',
            '"mta_tax": 0.5',
            f'"tip_amount": {tip}',
            '"tolls_amount": 0.0',
            '"improvement_surcharge": 0.3',
            f'"total_amount": {round(fare + tip + 1.3, 2)}',
            f'"trip_id": {tid}',
            '"type": "trip"',
        ]
        lines.append("{" + ", ".join(f for f in fields if f is not None) + "}")
    return lines, malformed


def write_backlog(stream_dir: str, lines: list[str]) -> None:
    """Write ``lines`` round-robin over the shard files at once."""
    os.makedirs(stream_dir, exist_ok=True)
    for s in range(SHARDS):
        with open(shard_file(stream_dir, s), "w") as f:
            f.write("".join(line + "\n" for line in lines[s::SHARDS]))


def run_live(
    stream_dir: str, seed: int, rate: float, count: int, start_at: float, id_base: int = 0
) -> dict:
    """Append the seeded stream on its schedule; return the manifest."""
    lines, malformed = records(seed, count, rate, id_base)
    os.makedirs(stream_dir, exist_ok=True)
    files = [open(shard_file(stream_dir, s), "a") for s in range(SHARDS)]
    written, max_late = 0, 0.0
    try:
        tick = 0
        while written < count:
            at = start_at + tick * TICK_S
            time.sleep(max(0.0, at - time.time()))
            due = min(count, int(tick * TICK_S * rate + 1e-9) + 1)
            for s in range(SHARDS):
                first = written + (s - written) % SHARDS
                chunk = lines[first:due:SHARDS]
                if chunk:
                    files[s].write("".join(line + "\n" for line in chunk))
                    files[s].flush()
            # how far past its tick this write finished
            max_late = max(max_late, time.time() - at)
            written, tick = due, tick + 1
    finally:
        for f in files:
            f.close()
    return {
        "records": count,
        "malformed": len(malformed),
        "start_at": start_at,
        "rate": rate,
        "max_late_s": max_late,
    }


def main(argv: list[str]) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--dir", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--rate", type=float, required=True)
    ap.add_argument("--count", type=int, required=True)
    ap.add_argument("--id-base", type=int, default=0)
    ap.add_argument("--start-at", type=float, required=True)
    ap.add_argument("--manifest", required=True)
    a = ap.parse_args(argv)
    manifest = run_live(a.dir, a.seed, a.rate, a.count, a.start_at, a.id_base)
    tmp = a.manifest + ".tmp"
    with open(tmp, "w") as f:
        json.dump(manifest, f)
    os.replace(tmp, a.manifest)
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
