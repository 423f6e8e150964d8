"""Spark's size rule is the package's default join policy: scans report
their file sizes and checkpoints report their observed row count times
their row width (``operators/checkpoint.py``).  A broadcast hint
overrides that rule at every scale factor, so a hint on a frame that
grows with the corpus is a scale bug.  The hints that remain sit on
frames bounded by a constant Spark cannot see: a filter or a grouped
aggregate is estimated at its input's size however few rows it keeps.
A static check over the package source: every hint sits in a
module-level function named in ``ALLOWED`` with the constant that
bounds its frame, and that constant appears in the function.  A new
hint fails here until it is added there with its bound."""

from __future__ import annotations

import ast

from .test_drain_chokepoint import PKG, _call_sites

_LANG = "one row per language"

#: (module, function) -> the constant that bounds the hinted frame.
ALLOWED = {
    # Query sets: at most 256 rows by the vec_id cap in _QUERY_PRED,
    # and the frames derived from them (|Q| x 3 hits, |Q| x 10 short).
    ("plans/similarity.py", "_queries"): "_QUERY_PRED",
    ("plans/similarity.py", "ann_ivfpq_refine"): "_QUERY_PRED",
    ("plans/similarity.py", "_recall_at_3"): "_QUERY_PRED",
    ("plans/similarity.py", "embedding_int8_quantize"):
        "one row per dimension",
    ("plans/similarity.py", "embedding_cosine_histogram"): "_COSHIST_K",
    ("operators/similarity.py", "ivf_assign_broadcast"): "K rows",
    ("plans/analytics.py", "agg_sketch_merge_kll"): "EVENT_TYPES",
    ("plans/events.py", "events_anomaly_zscore"): "EVENT_TYPES",
    ("plans/relational.py", "grouped_winsorize"): "3 flags",
    ("plans/relational.py", "join_interval_binned"): "o_orderkey < 200",
    ("plans/sampling.py", "sample_balance_classes"): _LANG,
    ("plans/sampling.py", "sample_kfold_assign"): _LANG,
    ("plans/sampling.py", "sample_stratified_neyman"): _LANG,
    ("plans/sampling.py", "sample_negatives_per_user"): "pmod 64",
    ("plans/text.py", "grouped_quantile_normalize"): _LANG,
    ("plans/text.py", "text_decontaminate"): "_BENCH_PRED",
    ("plans/text.py", "text_bm25_topk"): "_BM25_QUERIES",
    ("plans/dedup.py", "dedup_bloom_membership"): "_BLOOM_REF_PRED",
    ("plans/warehouse.py", "maintenance_compact_roundtrip"):
        "one row per compacted file",
    ("plans/warehouse.py", "warehouse_lifecycle"):
        "one row per compacted file",
    ("plans/warehouse.py", "warehouse_deletion_vectors"): "l_orderkey % 32",
}


def _is_hint(call: ast.Call) -> bool:
    f = call.func
    if isinstance(f, ast.Name):
        return f.id == "broadcast"
    if isinstance(f, ast.Attribute) and f.attr == "broadcast":
        return isinstance(f.value, ast.Name) and f.value.id in ("F",
                                                              "functions")
    return (isinstance(f, ast.Attribute) and f.attr == "hint"
            and bool(call.args) and isinstance(call.args[0], ast.Constant)
            and str(call.args[0].value).lower() in (
                "broadcast", "broadcastjoin", "mapjoin"))


def _function_source(path: str, func: str) -> str:
    src = (PKG / path).read_text()
    return next(ast.get_source_segment(src, node)
                for node in ast.parse(src).body
                if isinstance(node, ast.FunctionDef) and node.name == func)


def test_every_hint_is_allowlisted_next_to_its_bound():
    for path, func in _call_sites(_is_hint):
        assert (path, func) in ALLOWED, (
            f"unreviewed broadcast hint in {path}::{func}")
        assert ALLOWED[(path, func)] in _function_source(path, func), (
            path, func)


def test_allowlist_has_no_stale_entries():
    assert set(ALLOWED) <= set(_call_sites(_is_hint))
