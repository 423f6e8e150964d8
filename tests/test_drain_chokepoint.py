"""Every streaming query in the package starts and drains in
``streaming/jobs.py::_drain``, every collecting sink is built in
``_drain_emissions``, and every per-key state fold in
``_fold_per_key``.  A static check over the package source: a second
``.start()`` or memory sink would be a drain that per-query settings
(the state-partition pin) and progress capture silently miss."""

from __future__ import annotations

import ast
import pathlib

import kinesis_s3_data_shipper_spark

PKG = pathlib.Path(kinesis_s3_data_shipper_spark.__file__).parent
JOBS = "streaming/jobs.py"


def _call_sites(is_match, kind=ast.Call) -> list[tuple[str, str | None]]:
    """(module path, innermost enclosing function) of every call (or
    other ``kind`` of node) in the package that ``is_match`` accepts."""
    sites = []

    def visit(node, path, func):
        for child in ast.iter_child_nodes(node):
            if isinstance(child, (ast.FunctionDef, ast.AsyncFunctionDef)):
                visit(child, path, child.name)
                continue
            if isinstance(child, kind) and is_match(child):
                sites.append((path, func))
            visit(child, path, func)

    for file in sorted(PKG.rglob("*.py")):
        tree = ast.parse(file.read_text(), filename=str(file))
        visit(tree, file.relative_to(PKG).as_posix(), None)
    return sites


def _method(*names):
    return lambda call: (isinstance(call.func, ast.Attribute)
                         and call.func.attr in names)


def test_streams_start_and_wait_only_in_drain():
    assert _call_sites(_method("start", "toTable")) == [(JOBS, "_drain")]
    assert _call_sites(_method("awaitTermination")) == [(JOBS, "_drain")]


def test_memory_sink_built_only_in_drain_emissions():
    def memory_format(call):
        return (_method("format")(call) and len(call.args) == 1
                and isinstance(call.args[0], ast.Constant)
                and call.args[0].value == "memory")

    assert _call_sites(memory_format) == [(JOBS, "_drain_emissions")]


def test_foreach_batch_sinks():
    """The parquet emission sink lives in the helper; only the two
    queries whose batch body does its own work build another."""
    assert sorted(_call_sites(_method("foreachBatch"))) == [
        (JOBS, "_drain_emissions"), (JOBS, "streaming_incremental_merge"),
        (JOBS, "streaming_ingest")]


def test_per_key_state_folded_only_in_fold_per_key():
    """Every stateful twin folds its keys through the one helper that
    owns the sort, the ``seen`` count and the drained-state read."""
    assert _call_sites(_method("applyInPandasWithState")) == [
        (JOBS, "_fold_per_key")]


def test_per_query_top_k_ranked_only_in_top_k_per_query():
    """Every per-query top-k (the similarity family and BM25) ranks
    through the one helper, so the rank type and the <= k cut are the
    same everywhere."""
    def query_window(call):
        return (_method("partitionBy")(call) and len(call.args) == 1
                and isinstance(call.args[0], ast.Constant)
                and call.args[0].value == "query_id")

    assert _call_sites(query_window) == [
        ("operators/similarity.py", "top_k_per_query")]


def test_near_dup_fronts_built_once():
    """The near-dup family builds each MinHash signature in
    ``minhash_lsh_index``, pairs band buckets in ``band_probe``, and
    runs the PPJoin exact-duplicate collapse and prefix rank in
    ``_ppjoin_reps`` — one site each, so the near-dup operators share
    one candidate path and cannot drift apart."""
    dedup = "operators/dedup.py"

    def named(name):
        return lambda call: (isinstance(call.func, ast.Name)
                             and call.func.id == name)

    def spark_fn(name):
        return lambda call: (_method(name)(call)
                             and isinstance(call.func.value, ast.Name)
                             and call.func.value.id == "F")

    def bands_explode(call):
        return (_method("posexplode")(call) and len(call.args) == 1
                and isinstance(call.args[0], ast.Constant)
                and call.args[0].value == "_bands")

    def in_dedup(is_match):
        return [s for s in _call_sites(is_match) if s[0] == dedup]

    assert _call_sites(named("lsh_bands")) == [(dedup, "minhash_lsh_index")]
    assert _call_sites(bands_explode) == [(dedup, "band_probe")]
    assert in_dedup(spark_fn("row_number")) == [(dedup, "_ppjoin_reps")]
    assert in_dedup(spark_fn("md5")) == [(dedup, "_ppjoin_reps")]
