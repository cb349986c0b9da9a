"""Fence for tables a query re-reads: persist, count and right-size are
written once, in ``operators/util.persist_right_sized``.

A loop's edge or vertex table (or a kNN table scanned several times) is
persisted, counted so its cache carries exact size stats, and, when
those prove it small, replaced by a hash-partitioned copy at the
right-sized width. An AST scan of ``pandrs_spark/`` fails when that
decision is spelled out anywhere else: the old graph-private
``_right_sized`` name, or a ``right_size_keyed`` call outside the helper.
One site is exempt by name: ``_rank_walk``'s weighted edge table ``ew``
is sized from its join estimate, because counting it first would add a
Spark job to every PageRank query.
"""

from __future__ import annotations

import ast
import pathlib

import pandrs_spark.operators.graph as graph
from pandrs_spark.frame import release_persisted
from pandrs_spark.operators.util import persist_right_sized, small_local_df

PKG = pathlib.Path(__file__).resolve().parent.parent / "pandrs_spark"

HOME = ("operators/util.py", "persist_right_sized")
EXEMPT = ("operators/graph.py", "_rank_walk", "ew")


def _functions():
    """(relative path, top-level function name, node) for every
    top-level function of the package."""
    for path in sorted(PKG.rglob("*.py")):
        rel = path.relative_to(PKG).as_posix()
        for node in ast.parse(path.read_text()).body:
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
                yield rel, node.name, node


def _names(tree: ast.AST):
    for n in ast.walk(tree):
        if isinstance(n, ast.Name):
            yield n.id, n
        elif isinstance(n, ast.Attribute):
            yield n.attr, n
        elif isinstance(n, (ast.FunctionDef, ast.AsyncFunctionDef)):
            yield n.name, n
        elif isinstance(n, ast.alias):
            yield n.asname or n.name, n


def _sizing_calls(node: ast.AST):
    """Line of every ``right_size_keyed(...)`` call under ``node``."""
    for n in ast.walk(node):
        if isinstance(n, ast.Call):
            f = n.func
            name = f.id if isinstance(f, ast.Name) else getattr(f, "attr", "")
            if name == "right_size_keyed":
                yield n.lineno


def test_no_private_right_sized_helper():
    hits = [
        f"{path.relative_to(PKG).as_posix()}:{getattr(n, 'lineno', '?')}"
        for path in sorted(PKG.rglob("*.py"))
        for name, n in _names(ast.parse(path.read_text()))
        if name == "_right_sized"
    ]
    assert not hits, f"_right_sized is back (use persist_right_sized): {hits}"


def test_right_size_keyed_called_only_by_the_helper():
    stray = []
    for rel, name, fn in _functions():
        calls = set(_sizing_calls(fn))
        if (rel, name) == HOME:
            continue
        if (rel, name) == EXEMPT[:2]:
            calls -= {
                line
                for stmt in ast.walk(fn)
                if isinstance(stmt, ast.Assign)
                and [getattr(t, "id", None) for t in stmt.targets] == [EXEMPT[2]]
                for line in _sizing_calls(stmt)
            }
        stray += [f"{rel}:{line} {name}" for line in sorted(calls)]
    assert not stray, (
        "right_size_keyed outside persist_right_sized; route the table "
        f"through persist_right_sized: {stray}"
    )


def test_persist_right_sized_counts_and_collapses_a_small_table(spark):
    """A provably small table comes back with its row count as a
    persisted copy at the right-sized width."""
    df = small_local_df(
        spark, [(i, i % 3) for i in range(20)], "id bigint, k bigint"
    ).repartition(8, "k")
    out, n = persist_right_sized(df, "k")
    assert n == 20
    assert out is not df and out.is_cached
    assert out.rdd.getNumPartitions() == 2
    assert sorted(r["id"] for r in out.collect()) == list(range(20))
    release_persisted()


def test_scc_collect_is_planned_statically(spark, sf_dir, monkeypatch):
    """q122's backward collect walks over an edge table (src, dst, root)
    whose cache stats are exact, so ``_static_plan`` can prove it small
    and plans the walk without AQE."""
    import __spark_entry__ as entry

    seen = []
    sized = graph.right_sized_width

    def spy(df, *args, **kwargs):
        width = sized(df, *args, **kwargs)
        seen.append((tuple(df.columns), width))
        return width

    monkeypatch.setattr(graph, "right_sized_width", spy)
    entry.queries()["q122_strongly_connected"](spark, sf_dir).collect()
    release_persisted()
    collect = [w for cols, w in seen if "root" in cols]
    assert collect, f"q122 ran no backward collect: {seen}"
    assert None not in collect, f"collect edge table not provably small: {seen}"
