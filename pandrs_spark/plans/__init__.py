"""Plan inspection utilities (SURVEY.md §3.3 ``explain_plan`` /
§4 optimizer visibility).

The reference surfaces its optimized plan as text
(/root/reference src/distributed/engines/datafusion/mod.rs:283,
src/distributed/explain/format.rs); here we expose Catalyst's formatted
plan plus structured assertions used by the perf tests: is the filter
pushed to the parquet scan, is the small side broadcast, how many
shuffles does the plan contain. These are the levers that decide whether
a query survives a 100× scale-up, so tests pin them.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame

__all__ = [
    "plan_text",
    "pushed_filters",
    "read_schema_columns",
    "num_shuffles",
    "has_broadcast_join",
    "wholestage_codegen_spans",
    "unbounded_partitionless_windows_text",
]


def plan_text(df: DataFrame, mode: str = "formatted") -> str:
    """Formatted physical plan (``explain_plan`` parity)."""
    return df._sc._jvm.PythonSQLUtils.explainString(  # type: ignore[attr-defined]
        df._jdf.queryExecution(), mode
    )


def pushed_filters(df: DataFrame) -> list[str]:
    """Filters that reached the parquet scan (row-group skipping)."""
    text = plan_text(df)
    out: list[str] = []
    for m in re.finditer(r"PushedFilters:\s*\[([^\]]*)\]", text):
        body = m.group(1).strip()
        if body:
            out.extend(p.strip() for p in body.split(","))
    return out


def read_schema_columns(df: DataFrame) -> list[str]:
    """Columns actually read from the scan (column pruning check)."""
    text = plan_text(df)
    cols: list[str] = []
    for m in re.finditer(r"ReadSchema:\s*struct<([^>]*)>", text):
        for field in m.group(1).split(","):
            name = field.split(":")[0].strip()
            if name:
                cols.append(name)
    return cols


def num_shuffles(df: DataFrame) -> int:
    """Count of Exchange operators — each is a full shuffle of its input."""
    return len(re.findall(r"\bExchange\b", plan_text(df, "simple")))


def has_broadcast_join(df: DataFrame) -> bool:
    return "BroadcastHashJoin" in plan_text(df, "simple") or "BroadcastNestedLoopJoin" in plan_text(df, "simple")


def wholestage_codegen_spans(df: DataFrame) -> int:
    """Number of WholeStageCodegen regions (wider = more fused JVM code).

    Caveat: under AQE the plan is wrapped in AdaptiveSparkPlan and
    reports 0 subtrees until finalized — build the DataFrame with
    ``spark.sql.adaptive.enabled=false`` (plan-time conf) to inspect
    codegen statically, as the plan tests do.
    """
    text = plan_text(df, "codegen")
    m = re.search(r"Found (\d+) WholeStageCodegen subtrees", text)
    return int(m.group(1)) if m else 0


def _top_level_bracket_groups(s: str) -> list[str]:
    """Top-level ``[...]`` group contents in a plan-node argument string."""
    depth = 0
    groups: list[str] = []
    buf: list[str] = []
    for ch in s:
        if ch == "[":
            if depth == 0:
                buf = []
            else:
                buf.append(ch)
            depth += 1
        elif ch == "]":
            depth = max(0, depth - 1)
            if depth == 0:
                groups.append("".join(buf))
            else:
                buf.append(ch)
        elif depth > 0:
            buf.append(ch)
    return groups


def _is_order_spec(group: str) -> bool:
    """Order-spec groups list ``expr ASC|DESC NULLS FIRST|LAST`` items;
    partition-spec groups are bare expressions."""
    return " ASC NULLS" in group or " DESC NULLS" in group


_LIMIT_NODES = ("GlobalLimit", "TakeOrderedAndProject", "CollectLimit", "LocalLimit")


def unbounded_partitionless_windows_text(text: str) -> list[str]:
    """Window / WindowGroupLimit nodes with an EMPTY partition spec whose
    input is not bounded by a limit, in the ``simple``-mode plan text of
    a query (``plan_text(df, "simple")``; sweeps cache one per query) —
    i.e. the plan funnels every input row into one task (Spark's
    ``WindowExec: No Partition Defined`` path). At 100 TB this is a
    scale-killer, so the registry-wide plan sweep pins zero of them
    outside an explicit bounded whitelist.

    Detection: in ``simple``-mode plan text a Window node prints
    ``Window [exprs], [partitionSpec], [orderSpec]`` when partitioned
    but only ``Window [exprs], [orderSpec]`` when partitionless (same
    for WindowGroupLimit, which prints partition/order specs first).
    A partitionless node is ACCEPTED when its subtree (deeper-indented
    lines below it) contains a limit node — e.g. a rank attached to the
    k survivors of a TakeOrdered top-k is bounded by construction.
    Returns the offending plan lines (empty list = clean).
    """
    lines = text.splitlines()

    def _depth(line: str) -> int:
        i = 0
        while i < len(line) and line[i] in " +-:*(0123456789)":
            i += 1
        return i

    offenders: list[str] = []
    for idx, line in enumerate(lines):
        stripped = line.strip().lstrip("*+-: ").lstrip("0123456789()").strip()
        m = re.match(r"(Window|WindowGroupLimit)\b(.*)", stripped)
        if not m:
            continue
        kind, rest = m.group(1), m.group(2)
        groups = _top_level_bracket_groups(rest)
        # Window prints ``[exprs][, partitionSpec][, orderSpec]`` —
        # either spec group may be absent, so classify by content: a
        # node is PARTITIONED iff any group after the expr list is a
        # bare-expression (non-order-spec) group. WindowGroupLimit
        # prints ``[partitionSpec], [orderSpec], fn, k`` with the
        # partition group dropped when empty, same classification but
        # with no leading expr group.
        specs = groups[1:] if kind == "Window" else groups
        partitionless = not any(not _is_order_spec(g) for g in specs if g.strip())
        if not partitionless:
            continue
        d = _depth(line)
        bounded = False
        for nxt in lines[idx + 1 :]:
            if not nxt.strip():
                continue
            nd = _depth(nxt)
            if nd <= d:
                break
            if any(ln in nxt for ln in _LIMIT_NODES):
                bounded = True
                break
        if not bounded:
            offenders.append(stripped[:160])
    return offenders
