"""Fence for the two ordered-scan shapes of the operator layer.

Recursive window and forecasting operators distribute in exactly two
shapes, each written once:

- a stably sorted pandas fold per series:
  ``operators/util._per_series_fold`` (explicit-count partitioning by the
  series key, mergesort inside the fold, ``applyInPandas``);
- a global prefix from per-partition offsets:
  ``operators/windows._partition_offset_scan`` (range sort, the
  ``__pid__`` tag, one collect of per-partition totals, a ``create_map``
  offset keyed on ``__pid__``).

An AST scan of ``pandrs_spark/`` fails when either shape is spelled out
anywhere else. The exemptions are named: skyline's per-partition local
skyline tags rows with ``spark_partition_id`` for a different purpose,
and q87's single-group rolling apply is a registry query whose plan
(one constant group, no repartition) is pinned as it is.
"""

from __future__ import annotations

import ast
import pathlib

PKG = pathlib.Path(__file__).resolve().parent.parent / "pandrs_spark"

FOLD_HOME = ("operators/util.py", "_per_series_fold")
SCAN_HOME = ("operators/windows.py", "_partition_offset_scan")
FOLD_EXEMPT = {("queries/windows.py", "q87")}
PID_EXEMPT = {("operators/skyline.py", "skyline")}


def _units():
    """(relative path, top-level function or method name, node) for every
    function in the package; module-level code is one unit named
    ``<module>``."""
    for path in sorted(PKG.rglob("*.py")):
        rel = path.relative_to(PKG).as_posix()
        tree = ast.parse(path.read_text())
        loose = []
        for node in tree.body:
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
                yield rel, node.name, node
            elif isinstance(node, ast.ClassDef):
                for item in node.body:
                    if isinstance(item, (ast.FunctionDef, ast.AsyncFunctionDef)):
                        yield rel, f"{node.name}.{item.name}", item
            else:
                loose.append(node)
        yield rel, "<module>", ast.Module(body=loose, type_ignores=[])


def _called(node: ast.AST) -> set[str]:
    names = set()
    for n in ast.walk(node):
        if isinstance(n, ast.Call):
            f = n.func
            names.add(f.id if isinstance(f, ast.Name) else getattr(f, "attr", ""))
    return names


def _mergesorts(node: ast.AST) -> bool:
    return any(
        isinstance(n, ast.Call)
        and getattr(n.func, "attr", "") == "sort_values"
        and any(
            k.arg == "kind" and getattr(k.value, "value", None) == "mergesort"
            for k in n.keywords
        )
        for n in ast.walk(node)
    )


def _mentions(node: ast.AST, name: str) -> bool:
    for n in ast.walk(node):
        if isinstance(n, ast.Name) and n.id == name:
            return True
        if isinstance(n, ast.Attribute) and n.attr == name:
            return True
        if isinstance(n, (ast.FunctionDef, ast.alias)) and name in (
            getattr(n, "name", None),
            getattr(n, "asname", None),
        ):
            return True
    return False


def _has_str(node: ast.AST, value: str) -> bool:
    return any(
        isinstance(n, ast.Constant) and n.value == value for n in ast.walk(node)
    )


def test_per_series_fold_written_once():
    units = list(_units())
    folds = {
        (rel, name)
        for rel, name, node in units
        if "applyInPandas" in _called(node) and _mergesorts(node)
    }
    assert folds <= {FOLD_HOME, *FOLD_EXEMPT}, (
        "sorted applyInPandas fold outside operators/util._per_series_fold: "
        f"{sorted(folds - {FOLD_HOME, *FOLD_EXEMPT})}"
    )
    assert folds == {FOLD_HOME, *FOLD_EXEMPT}, (
        f"the fold helper or an exemption is gone: {folds}; update the fence"
    )
    # the old hand-rolled partitioning step for grouped folds is gone
    stale = [(rel, name) for rel, name, node in units if _mentions(node, "fan_out_groups")]
    assert not stale, f"fan_out_groups is folded into _per_series_fold: {stale}"


def test_partition_offset_scan_written_once():
    units = list(_units())
    tags = {
        (rel, name)
        for rel, name, node in units
        if "spark_partition_id" in _called(node)
    }
    assert tags == {SCAN_HOME, *PID_EXEMPT}, (
        "partition-id tag outside operators/windows._partition_offset_scan: "
        f"{sorted(tags - {SCAN_HOME, *PID_EXEMPT})}"
    )
    offset_maps = {
        (rel, name)
        for rel, name, node in units
        if "create_map" in _called(node) and _has_str(node, "__pid__")
    }
    assert offset_maps == {SCAN_HOME}, (
        "__pid__ offset map outside operators/windows._partition_offset_scan: "
        f"{sorted(offset_maps - {SCAN_HOME})}"
    )
