"""Every frame the package materializes goes through
``operators/checkpoint.py::truncated_checkpoint``, which decides the
size the materialized frame reports.  A direct ``localCheckpoint``
would keep its origin plan's estimate instead: a |types| × 24-row
aggregate of the corpus would report the corpus's size, and a join
against it would need a hand-placed hint.  Every loop that iterates
checkpointed rounds to convergence goes through
``operators/checkpoint.py::fixpoint``, which releases superseded
rounds and decides when the loop stops.  Static checks over the
package source."""

from __future__ import annotations

import ast

from .test_drain_chokepoint import _call_sites, _method


def test_local_checkpoint_only_in_truncated_checkpoint():
    assert _call_sites(_method("localCheckpoint")) == [
        ("operators/checkpoint.py", "truncated_checkpoint")]


def test_checkpoint_loops_only_in_fixpoint():
    """Every iterate-to-convergence loop runs through
    ``operators/checkpoint.py::fixpoint``, which owns when a round's
    frames are released and when the loop stops: no other for/while
    loop in the package materializes or releases a checkpoint."""
    ckpt = {"truncated_checkpoint", "_graph_ckpt", "release_checkpoint"}

    def checkpoints(loop):
        return any(isinstance(node, ast.Call)
                   and (getattr(node.func, "id", None) in ckpt
                        or getattr(node.func, "attr", None) in ckpt)
                   for node in ast.walk(loop))

    assert set(_call_sites(checkpoints, (ast.For, ast.While))) == {
        ("operators/checkpoint.py", "fixpoint")}
