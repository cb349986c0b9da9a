"""Source-level census of every ``F.broadcast(`` call site.

Classifies the build-side EXPRESSION of each site (AST-based, so the
classification is reviewable without launching Spark):

- ``fixed_dim``     — region/nation loads: cardinality fixed at any SF.
- ``scalar_carry``  — ``.agg(`` with no ``groupBy`` upstream in the same
                      expression, ``.limit(``, ``.first(``-derived local
                      frames, ``createDataFrame``/``small_local_df``
                      literals: bounded by construction.
- ``grouped_agg``   — ``.groupBy(...).agg(...)`` build sides: bounded by
                      the KEY's cardinality, which is a domain argument
                      (the docstring / assert_bounded fence must carry
                      it).
- ``raw_scaling``   — a raw scan of a table that grows with the data
                      (customer/supplier/part/orders/lineitem/events/
                      documents/embeddings): broadcasting this is a
                      100 TB scale bomb; the hint must go (the
                      size-based planner still broadcasts it at small
                      SF, and correctly refuses at scale).
- ``other``         — a named frame the classifier can't resolve inside
                      the expression; needs the surrounding code read.

Usage: python tools/broadcast_census.py [--json OUT]
Exit code 1 if any ``raw_scaling`` site remains (the fence).
"""

from __future__ import annotations

import ast
import json
import os
import sys

ROOT = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "pandrs_spark")

SCALING_TABLES = {
    "customer", "supplier", "part", "orders", "lineitem",
    "events", "documents", "embeddings",
}
FIXED_TABLES = {"region", "nation"}
# Local-variable names conventionally bound to raw scaling-table loads
# (T(spark, sf_dir, "<table>") assignments) — resolved per function below.


def _expr_src(node: ast.AST, src: str) -> str:
    return ast.get_source_segment(src, node) or ""


def _table_loads(func: ast.AST) -> dict:
    """Map local names to table names for ``x = T(spark, sf_dir, "t")``
    style assignments inside one function."""
    out = {}
    for n in ast.walk(func):
        if (
            isinstance(n, ast.Assign)
            and len(n.targets) == 1
            and isinstance(n.targets[0], ast.Name)
            and isinstance(n.value, ast.Call)
            and isinstance(n.value.func, ast.Name)
            and n.value.func.id in ("T", "load_table")
            and n.value.args
            and isinstance(n.value.args[-1], ast.Constant)
        ):
            out[n.targets[0].id] = n.value.args[-1].value
    return out


def _assignments(func: ast.AST) -> dict:
    """Map local names to their LAST assigned expression inside one
    function (good enough to resolve ``tot = x.agg(...)`` one or two
    hops before a broadcast)."""
    out = {}
    for n in ast.walk(func):
        if (
            isinstance(n, ast.Assign)
            and len(n.targets) == 1
            and isinstance(n.targets[0], ast.Name)
        ):
            out[n.targets[0].id] = n.value
    return out


def classify(
    arg: ast.AST, src: str, loads: dict, assigns: dict, depth: int = 0
) -> tuple[str, str]:
    text = _expr_src(arg, src)
    # direct or attribute-rooted name
    root = arg
    while isinstance(root, (ast.Attribute, ast.Call, ast.Subscript)):
        root = root.func if isinstance(root, ast.Call) else root.value
    root_name = root.id if isinstance(root, ast.Name) else None
    tbl = loads.get(root_name)

    if ".limit(" in text or ".agg(" in text and ".groupBy(" not in text:
        return "scalar_carry", text
    if (
        "createDataFrame" in text
        or "small_local_df" in text
        or "spark.range" in text
    ):
        return "scalar_carry", text
    if "assert_bounded" in text:
        return "fenced_bounded", text
    if (
        ".groupBy(" in text
        or ".cube(" in text
        or ".rollup(" in text
        or ".distinct()" in text
    ):
        # bounded by the KEY's cardinality (calendar days, label sets,
        # grid cells) — a domain argument the call site must carry
        return "grouped_agg", text
    if tbl in FIXED_TABLES:
        return "fixed_dim", text
    if tbl in SCALING_TABLES:
        # a select/filter on a raw scaling table is still data-sized
        return "raw_scaling", text
    if root_name in ("region", "nation", "reg", "nat"):
        return "fixed_dim", text
    if root_name in ("cust", "supp", "li", "ev", "docs", "emb", "part",
                     "orders", "lineitem", "events", "customer",
                     "supplier", "documents", "embeddings"):
        return "raw_scaling", text
    # bare local name (possibly through .select/.filter wrappers):
    # resolve its assignment and classify THAT expression
    if root_name is not None and root_name in assigns and depth < 4:
        kind, inner = classify(
            assigns[root_name], src, loads, assigns, depth + 1
        )
        return kind, f"{text} := {inner}"
    return "other", text


def main() -> int:
    json_out = None
    args = sys.argv[1:]
    if "--json" in args:
        json_out = args[args.index("--json") + 1]
    sites = []
    for dirpath, _dirs, files in os.walk(ROOT):
        if "__pycache__" in dirpath:
            continue
        for f in sorted(files):
            if not f.endswith(".py"):
                continue
            path = os.path.join(dirpath, f)
            src = open(path).read()
            tree = ast.parse(src)
            # map each broadcast call to its enclosing function's table loads
            funcs = [n for n in ast.walk(tree)
                     if isinstance(n, (ast.FunctionDef, ast.AsyncFunctionDef))]
            for call in ast.walk(tree):
                if not (
                    isinstance(call, ast.Call)
                    and isinstance(call.func, ast.Attribute)
                    and call.func.attr == "broadcast"
                    and isinstance(call.func.value, ast.Name)
                    and call.func.value.id == "F"
                ):
                    continue
                loads: dict = {}
                assigns: dict = {}
                for fn in funcs:
                    if fn.lineno <= call.lineno <= max(
                        getattr(fn, "end_lineno", fn.lineno), fn.lineno
                    ):
                        loads.update(_table_loads(fn))
                        assigns.update(_assignments(fn))
                kind, text = classify(call.args[0], src, loads, assigns)
                rel = os.path.relpath(path, os.path.dirname(ROOT))
                sites.append({
                    "file": rel, "line": call.lineno, "kind": kind,
                    "expr": " ".join(text.split())[:120],
                })
    by_kind: dict = {}
    for s in sites:
        by_kind.setdefault(s["kind"], []).append(s)
    summary = {k: len(v) for k, v in sorted(by_kind.items())}
    print(json.dumps({"n_sites": len(sites), **summary}))
    for s in by_kind.get("raw_scaling", []):
        print(f"RAW_SCALING {s['file']}:{s['line']}  {s['expr']}")
    for s in by_kind.get("other", []):
        print(f"OTHER       {s['file']}:{s['line']}  {s['expr']}")
    if json_out:
        with open(json_out, "w") as fh:
            json.dump({"summary": summary, "sites": sites}, fh, indent=1)
        print(f"wrote {json_out}")
    return 1 if by_kind.get("raw_scaling") else 0


if __name__ == "__main__":
    raise SystemExit(main())
