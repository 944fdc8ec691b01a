"""The progress reader on a recorded sample: two micro-batches of the
four-sink pipeline over a kinesis-replay stream, as ``StreamingQuery.
recentProgress`` returned them, once through each progress object's
``json`` and once through its mapping interface (where the replay
source's offsets are Python-repr strings and the first start offset is
the string ``'None'``)."""

import json
import os

import pytest

from progress import as_dict, data_batches, parse_offset

HERE = os.path.dirname(os.path.abspath(__file__))
SHARDS = [f"shardId-{i:012d}" for i in range(16)]


@pytest.fixture(scope="module")
def sample():
    with open(os.path.join(HERE, "progress_sample.json")) as f:
        return json.load(f)


@pytest.mark.parametrize("form", ["json", "mapping"])
def test_recorded_batches_parse_alike(sample, form):
    batches = data_batches(sample[form])
    assert [b["batch_id"] for b in batches] == [0, 1]
    first, second = batches
    assert first["start_offset"] == {}
    assert first["end_offset"] == {s: 4 for s in SHARDS}
    assert second["start_offset"] == first["end_offset"]
    assert second["end_offset"] == {**first["end_offset"], SHARDS[3]: 5}
    assert [b["rows"] for b in batches] == [64, 1]
    for b in batches:
        assert b["end"] - b["start"] == pytest.approx(b["durations"]["triggerExecution"] / 1000)
        assert b["observed"]["etl"]["valid_rows"] <= b["rows"]


def test_both_forms_give_the_same_batches(sample):
    assert data_batches(sample["json"]) == data_batches(sample["mapping"])


def test_mapping_form_carries_repr_offsets(sample):
    src = sample["mapping"][0]["sources"][0]
    assert src["startOffset"] in (None, "None")
    assert src["endOffset"].startswith("{'shardId-")


@pytest.mark.parametrize(
    "raw, want",
    [
        (None, {}),
        ("None", {}),
        ("null", {}),
        ("", {}),
        ({"a": "3"}, {"a": 3}),
        ('{"shardId-000000000000": 7}', {"shardId-000000000000": 7}),
        ("{'shardId-000000000000': 1, 'shardId-000000000001': 2}",
         {"shardId-000000000000": 1, "shardId-000000000001": 2}),
    ],
)
def test_parse_offset_forms(raw, want):
    assert parse_offset(raw) == want


def test_parse_offset_rejects_a_non_map():
    with pytest.raises(ValueError):
        parse_offset("[1, 2]")


def test_as_dict_reads_a_progress_object():
    class Progress:
        json = '{"batchId": 3, "numInputRows": 0}'

    assert as_dict(Progress()) == {"batchId": 3, "numInputRows": 0}


def test_idle_progress_is_skipped():
    idle = {"batchId": 5, "numInputRows": 0, "timestamp": "2026-01-01T00:00:00.000Z"}
    assert data_batches([idle]) == []
