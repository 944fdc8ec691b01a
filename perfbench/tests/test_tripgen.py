"""The ETL generator: same seed, same stream; malformed records are the
ones the parser must dead-letter, and their ids never collide."""

import json

import tripgen


def test_same_seed_same_records():
    assert tripgen.records(5, 300, 2000) == tripgen.records(5, 300, 2000)
    assert tripgen.records(5, 300, 2000) != tripgen.records(6, 300, 2000)


def test_valid_records_parse_and_carry_their_index():
    lines, malformed = tripgen.records(1, 2000, 2000, id_base=10)
    assert 0 < len(malformed) < 100
    bad = set(malformed)
    for k, line in enumerate(lines):
        if k in bad:
            continue
        rec = json.loads(line)
        assert rec["trip_id"] == 10 + k
        assert 1 <= rec["pickup_location_id"] <= tripgen.N_LOCATIONS


def test_malformed_records_are_unusable():
    lines, malformed = tripgen.records(1, 5000, 2000)
    for k in malformed:
        try:
            rec = json.loads(lines[k])
        except json.JSONDecodeError:
            continue
        assert rec["trip_id"] == tripgen.MALFORMED_ID_BASE + k
        assert rec.get("pickup_datetime") in (None, "2018-13-45T99:99:99")


def test_backlog_round_robins_over_shards(tmp_path):
    lines = [f'{{"trip_id": {k}}}' for k in range(40)]
    tripgen.write_backlog(str(tmp_path), lines)
    with open(tripgen.shard_file(str(tmp_path), 3)) as f:
        ids = [json.loads(x)["trip_id"] for x in f]
    assert ids == [3, 19, 35]


def test_live_generator_keeps_its_schedule(tmp_path):
    import time

    m = tripgen.run_live(str(tmp_path), seed=2, rate=2000, count=1000, start_at=time.time() + 0.2)
    assert m["records"] == 1000
    total = 0
    for s in range(tripgen.SHARDS):
        with open(tripgen.shard_file(str(tmp_path), s)) as f:
            total += sum(1 for _ in f)
    assert total == 1000
    assert m["max_late_s"] < 0.5
