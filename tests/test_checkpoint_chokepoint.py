"""Every frame the package materializes goes through
``operators/checkpoint.py::truncated_checkpoint``, which decides the
size the materialized frame reports.  A direct ``localCheckpoint``
would keep its origin plan's estimate instead: a |types| × 24-row
aggregate of the corpus would report the corpus's size, and a join
against it would need a hand-placed hint.  A static check over the
package source."""

from __future__ import annotations

from .test_drain_chokepoint import _call_sites, _method


def test_local_checkpoint_only_in_truncated_checkpoint():
    assert _call_sites(_method("localCheckpoint")) == [
        ("operators/checkpoint.py", "truncated_checkpoint")]
