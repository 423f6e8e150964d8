"""The sink and its ground-truth check on a tiny landing directory."""

import json
import random

import pytest

from shipbench import serial_ref
from shipbench.inputs import BATCH_SIZE, Truth, write_file, write_hazards
from shipbench.sink import Sink, check_delivery


@pytest.fixture
def landing(tmp_path):
    rng = random.Random(7)
    truth = write_hazards(str(tmp_path))
    for i, sizes in enumerate(([3, 5], [BATCH_SIZE + 2], [1])):
        truth.merge(write_file(str(tmp_path / f"f{i}.log"), rng, f"t{i}",
                               sizes, gzip_depth=i % 3))
    return truth


@pytest.fixture
def delivered(landing):
    """Posts of a correct delivery, made over real HTTP to the sink."""
    sink = Sink()
    try:
        sent = serial_ref.replay(sorted(landing.files), sink.url)
        posts = sink.take()
    finally:
        sink.close()
    assert sent == len(landing.events)
    return posts


def _repost(posts, edit):
    """Re-encode the first post's body after ``edit`` changes it, under
    a fresh key so it is not mistaken for a retry."""
    key, body = posts[0]
    doc = json.loads(body)
    edit(doc)
    return [(key + "-edited", json.dumps(doc).encode())] + posts[1:]


def test_correct_delivery_passes(landing, delivered):
    d = check_delivery(delivered, landing)
    assert d.problems == []
    assert d.events == len(landing.events) == BATCH_SIZE + 11
    # The block over BATCH_SIZE splits in two; the hazard and empty
    # files add no payload and no event.
    assert d.payloads == landing.payloads == 5


def test_retry_is_counted_not_failed(landing, delivered):
    d = check_delivery(delivered + delivered[:1], landing)
    assert d.problems == []
    assert d.posts == len(delivered) + 1


def test_duplicated_event_fails(landing, delivered):
    extra = json.loads(delivered[0][1])
    extra["events"] = extra["events"][:1]
    posts = delivered + [("another-key", json.dumps(extra).encode())]
    d = check_delivery(posts, landing)
    assert any("received 2 times" in p for p in d.problems)


def test_missing_event_fails(landing, delivered):
    posts = _repost(delivered, lambda doc: doc["events"].pop())
    d = check_delivery(posts, landing)
    assert d.problems == ["1 events never received"]


def test_wrong_message_fails(landing, delivered):
    def edit(doc):
        doc["events"][0]["attributes"]["message"] += "!"
    d = check_delivery(_repost(delivered, edit), landing)
    assert len(d.problems) == 1 and "wrong fields" in d.problems[0]


def test_oversized_payload_and_unexpected_event_fail():
    truth = Truth()
    events = [{"timestamp": 0, "attributes": {"id": f"x{i}", "message": "",
                                              "file": "f", "logStream": ""}}
              for i in range(BATCH_SIZE + 1)]
    body = json.dumps({"tags": {"logStreamPrefix": "", "logGroup": "g"},
                       "events": events}).encode()
    problems = check_delivery([("k", body)], truth).problems
    assert problems[0] == f"payload of {BATCH_SIZE + 1} events > {BATCH_SIZE}"
    assert "unexpected event x0" in problems
