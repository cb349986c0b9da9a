"""Determinism guarantees: decimal-quantized aggregation must be
invariant to partitioning — the property the whole oracle gate rests
on, and what makes 100 TB reruns reproducible."""

from __future__ import annotations

import ast
import pathlib
import random

from pyspark.sql import functions as F

from pandrs_spark.functions.deterministic import davg, dsum
from pandrs_spark.operators.util import small_local_df


def test_dsum_partition_invariant(spark):
    rng = random.Random(7)
    vals = [(rng.uniform(-1e6, 1e6),) for _ in range(20_000)]
    df = small_local_df(spark, vals, "v double")
    results = set()
    for parts in (1, 7, 64):
        r = df.repartition(parts).agg(dsum("v").alias("s")).collect()[0].s
        results.add(r)
    assert len(results) == 1


def test_davg_matches_exact(spark):
    df = small_local_df(spark, [(1.005,), (2.015,), (3.025,)], "v double")
    got = df.agg(davg("v", 2).alias("m")).collect()[0].m
    # round half away from zero at scale 2: 1.0 + 2.02 + 3.02 or exact
    # double-repr dependent — just assert stability and closeness
    assert abs(got - 2.015) < 0.01
    again = df.repartition(3).agg(davg("v", 2).alias("m")).collect()[0].m
    assert got == again


def test_entry_contract(spark):
    import __spark_entry__ as E

    qs, osql = E.queries(), E.oracle_sql()
    assert len(qs) >= 60
    assert set(osql) <= set(qs)
    df = E.entry(spark)
    assert df.count() > 0


def _hand_written_exact_sums(tree: ast.AST) -> list[int]:
    """Lines of ``F.sum(quantize(x, s))[.over(w)][.cast(t)] / 10**s`` in
    ``tree``: the exact-sum recipe written out instead of calling
    ``dsum`` / ``dsum_over``."""
    qnames = {"quantize", "_quantize"} | {
        a.asname
        for n in ast.walk(tree)
        if isinstance(n, ast.ImportFrom) and n.module == "pandrs_spark.functions.deterministic"
        for a in n.names
        if a.name == "quantize" and a.asname
    }

    def const(node):
        try:
            return eval(compile(ast.Expression(node), "<fence>", "eval"), {"float": float})
        except Exception:  # noqa: BLE001 — not a constant expression
            return None

    def divides_by_scale(div: ast.AST, scale: ast.AST | None) -> bool:
        if scale is None:
            return const(div) == 100
        s, d = const(scale), const(div)
        if s is not None and d is not None:
            return float(d) == float(10**s)
        # symbolic scale: a divisor of the form ...10 ** scale...
        return any(
            isinstance(n, ast.BinOp)
            and isinstance(n.op, ast.Pow)
            and ast.dump(n.right) == ast.dump(scale)
            for n in ast.walk(div)
        )

    hits = []
    for node in ast.walk(tree):
        if not (isinstance(node, ast.BinOp) and isinstance(node.op, ast.Div)):
            continue
        n = node.left
        for method in ("cast", "over"):
            if isinstance(n, ast.Call) and isinstance(n.func, ast.Attribute) and n.func.attr == method:
                n = n.func.value
        if not (
            isinstance(n, ast.Call)
            and isinstance(n.func, ast.Attribute)
            and n.func.attr == "sum"
            and isinstance(n.func.value, ast.Name)
            and n.func.value.id == "F"
            and len(n.args) == 1
        ):
            continue
        q = n.args[0]
        if not (isinstance(q, ast.Call) and isinstance(q.func, ast.Name) and q.func.id in qnames):
            continue
        scale = q.args[1] if len(q.args) > 1 else next(
            (k.value for k in q.keywords if k.arg == "scale"), None
        )
        if divides_by_scale(node.right, scale):
            hits.append(node.lineno)
    return hits


def test_fence_finds_each_hand_written_shape():
    src = (
        "a = F.sum(quantize(x, 6)).cast('double') / 1e6\n"
        "b = F.sum(quantize(x, 2)) / 100.0\n"
        "c = F.sum(quantize(x, 4)).over(w).cast('double') / 1e4\n"
        "d = F.sum(quantize(x, s)) / float(10 ** s)\n"
        "e = F.sum(quantize(x, 0)).over(w).cast('double') / F.col('n')\n"
        "f = F.sum(quantize(x, 0)).cast('long')\n"
    )
    assert _hand_written_exact_sums(ast.parse(src)) == [1, 2, 3, 4]


def test_exact_float_sums_are_spelled_dsum():
    """``dsum`` and ``dsum_over`` are the one Spark-side spelling of an
    exact float sum: no module writes the quantize, sum and divide out
    by hand, so the scale is written once per sum."""
    root = pathlib.Path(__file__).resolve().parent.parent / "pandrs_spark"
    offenders = []
    for path in sorted(root.rglob("*.py")):
        tree = ast.parse(path.read_text())
        if path.name == "deterministic.py":
            # the helpers' own bodies are the one place the recipe lives
            tree.body = [
                n for n in tree.body
                if not (isinstance(n, ast.FunctionDef) and n.name in ("dsum", "dsum_over"))
            ]
        offenders += [f"{path.relative_to(root)}:{ln}" for ln in _hand_written_exact_sums(tree)]
    assert not offenders, offenders
