"""The benchmark under ``shipbench/`` drives the package through names it
imports from it. A refactor that renames or drops one, or changes a
signature the benchmark calls, breaks only the benchmark path that uses
it (``--trace 1`` for most of them), so nothing else would notice. This
resolves every such import, and binds every call of an imported
function, statically: it parses ``shipbench/*.py`` and starts no Spark.
"""

from __future__ import annotations

import ast
import importlib
import inspect
import pathlib

import pytest

SHIPBENCH = pathlib.Path(__file__).resolve().parents[1] / "shipbench"
PACKAGE = "kinesis_s3_data_shipper_spark"


def _package_imports() -> tuple[list[tuple[str, str, str]], dict]:
    """(file, module, name) for every ``from PACKAGE… import``, and
    each file's parse tree."""
    found, trees = set(), {}
    for path in sorted(SHIPBENCH.glob("*.py")):
        trees[path.name] = tree = ast.parse(path.read_text(), str(path))
        for node in ast.walk(tree):
            if (isinstance(node, ast.ImportFrom) and node.module
                    and node.module.split(".")[0] == PACKAGE):
                found |= {(path.name, node.module, a.name)
                          for a in node.names}
    return sorted(found), trees


IMPORTS, TREES = _package_imports()


def _resolve(module: str, name: str):
    try:
        return getattr(importlib.import_module(module), name)
    except AttributeError:
        return importlib.import_module(f"{module}.{name}")


def test_shipbench_imports_are_found():
    """The parse sees the imports the benchmark is known to make."""
    names = {name for _, _, name in IMPORTS}
    assert {"build_payloads", "send_payloads", "filter_unprocessed",
            "record_processed", "register", "streaming_ingest",
            "split_blocks", "gunzip_recursive", "split_marker_blocks",
            "shipper"} <= names


@pytest.mark.parametrize("where,module,name", IMPORTS,
                         ids=[f"{w}:{n}" for w, _, n in IMPORTS])
def test_shipbench_import_resolves(where, module, name):
    """The name exists, each ``name.attr`` the file reads on it exists,
    and each call of it binds to its signature."""
    obj = _resolve(module, name)
    for node in ast.walk(TREES[where]):
        if (isinstance(node, ast.Attribute)
                and isinstance(node.value, ast.Name)
                and node.value.id == name):
            assert hasattr(obj, node.attr), f"{name}.{node.attr}"
        if (isinstance(node, ast.Call) and isinstance(node.func, ast.Name)
                and node.func.id == name and callable(obj)
                and not any(isinstance(a, ast.Starred) for a in node.args)
                and all(k.arg for k in node.keywords)):
            inspect.signature(obj).bind(
                *node.args, **{k.arg: k.value for k in node.keywords})
