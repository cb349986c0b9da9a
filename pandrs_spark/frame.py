"""Frame — the pandas-flavored API surface over a Spark DataFrame.

This is the user-facing replacement for the reference's three DataFrame
generations (legacy `DataFrame` src/dataframe/base.rs:54,
`OptimizedDataFrame` src/optimized/split_dataframe/core.rs:14,
`DistributedDataFrame` src/distributed/core/dataframe.rs:43): ONE lazy
engine — every method compiles to Spark expressions, nothing executes
until an action (`collect`, `to_pandas`, `write_*`).

Ordering discipline (SURVEY §7.1): pandas semantics that depend on row
order (head, shift, dedup keep='first'/'last', ffill, iloc) require an
explicit order. `Frame` threads a `__row_order__` column captured at
ingest (`monotonically_increasing_id`) — stable within a source file
scan, and any sort updates it. At 100 TB you never *globally* ordered
data by accident; this makes the dependency explicit and cheap (no
global sort unless the user asks for one).

NULL/NaN policy (SURVEY §7.1): NULL is missing; NaN is a float value;
`fillna`/`dropna`/`isna` treat BOTH as missing (pandas semantics),
implemented with `isnull() | isnan()` guards on double columns only.
"""

from __future__ import annotations

from collections.abc import Callable, Mapping, Sequence
from contextvars import Context, ContextVar, copy_context
from typing import Any

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType, FloatType

from pandrs_spark.operators import timeseries as _ts, windows as _win
from pandrs_spark.operators.util import small_local_df
from pandrs_spark.operators.windows import global_row_number

ORDER_COL = "__row_order__"

__all__ = ["Frame", "StrAccessor", "DtAccessor", "str_", "dt", "read_parquet", "read_csv", "read_json", "concat", "concat_columns", "from_spark", "release_persisted"]

# DataFrames persisted by operators.util.tracked_persist. The persist
# must outlive the call (the downstream lazy plan depends on it, e.g. on
# a pinned partition layout), so the handles are registered here and
# released in bulk once the caller has materialized its results —
# bench.py calls this between queries and the test session releases on
# teardown. The list belongs to the calling context (each thread has its
# own), so two queries built side by side never release each other's
# caches.
_PERSISTED: ContextVar[list[DataFrame]] = ContextVar("pandrs_persisted")


def _persisted() -> list[DataFrame]:
    """The calling context's registered frames, created on first use."""
    frames = _PERSISTED.get(None)
    if frames is None:
        frames = []
        _PERSISTED.set(frames)
    return frames


def persist_context() -> Context:
    """A copy of the calling context that shares its registered frames:
    run a callback that Spark invokes on another thread (foreachBatch)
    in it, and the caller's ``release_persisted()`` frees what the
    callback persisted."""
    _persisted()
    return copy_context()


def release_persisted() -> int:
    """Unpersist every frame that ``tracked_persist`` registered in the
    calling context.

    Call after the plans built from those frames (sort_values(),
    concat_columns() results, ...) have been materialized; returns the
    number released.
    """
    frames = _persisted()
    n = len(frames)
    for cached in frames:
        try:
            cached.unpersist(False)
        except Exception:
            pass
    frames.clear()
    return n


def _is_float(df: DataFrame, name: str) -> bool:
    return isinstance(df.schema[name].dataType, (DoubleType, FloatType))


def _missing(df: DataFrame, name: str) -> Column:
    c = F.col(name)
    if _is_float(df, name):
        return c.isNull() | F.isnan(c)
    return c.isNull()


class Frame:
    """Lazy pandas-like frame. Wraps (never copies) a Spark DataFrame."""

    def __init__(
        self,
        df: DataFrame,
        order_col: str | None = None,
        index: Sequence[str] = (),
    ):
        if order_col is None:
            if ORDER_COL not in df.columns:
                df = df.withColumn(ORDER_COL, F.monotonically_increasing_id())
            order_col = ORDER_COL
        self._df = df
        self._order = order_col
        self._index = tuple(c for c in index if c in df.columns)

    # -- plumbing ------------------------------------------------------------
    @property
    def spark(self) -> DataFrame:
        """Underlying Spark DataFrame without the order column."""
        return self._df.drop(self._order)

    def _wrap(self, df: DataFrame) -> "Frame":
        return Frame(
            df,
            self._order if self._order in df.columns else None,
            self._index,
        )

    @property
    def columns(self) -> list[str]:
        """Data columns — the order column and index levels are hidden,
        mirroring pandas (index is not in ``df.columns``)."""
        return [
            c for c in self._df.columns if c != self._order and c not in self._index
        ]

    @property
    def dtypes(self) -> list[tuple[str, str]]:
        return [
            (n, t)
            for n, t in self._df.dtypes
            if n != self._order and n not in self._index
        ]

    def __getitem__(self, key):
        if isinstance(key, str):
            return F.col(key)
        if isinstance(key, Column):  # boolean mask frame[f.col(...) > 3]
            return self.filter(key)
        if isinstance(key, (list, tuple)):
            return self.select(*key)
        raise TypeError(f"unsupported key: {key!r}")

    def __repr__(self) -> str:
        return f"Frame({', '.join(self.columns)})"

    # -- projections (§2.2) --------------------------------------------------
    def select(self, *cols: str | Column) -> "Frame":
        # Membership must only consider string names: `c in cols` with a
        # pyspark Column in cols would invoke Column.__eq__ and then
        # bool() on the resulting Column, which raises.
        named = {c for c in cols if isinstance(c, str)}
        carry = [F.col(self._order)] + [
            F.col(c) for c in self._index if c not in named
        ]
        return self._wrap(self._df.select(*carry, *cols))

    def select_columns(self, cols: Sequence[str]) -> "Frame":
        return self.select(*cols)

    def drop(self, *cols: str) -> "Frame":
        return self._wrap(self._df.drop(*cols))

    def rename(self, mapping: Mapping[str, str]) -> "Frame":
        df = self._df
        for old, new in mapping.items():
            df = df.withColumnRenamed(old, new)
        return self._wrap(df)

    def add_prefix(self, prefix: str) -> "Frame":
        return self.rename({c: prefix + c for c in self.columns})

    def insert_column(self, pos: int, name: str, col: Column) -> "Frame":
        """Insert a computed column at position ``pos`` (compat
        insert_column, functions.rs:1962) — column order is metadata in
        Spark, so this is a pure projection."""
        cols = self.columns
        new = cols[:pos] + [name] + cols[pos:]
        return self._wrap(
            self._df.withColumn(name, col).select(F.col(self._order), *new)
        )

    def pop_column(self, name: str) -> "tuple[Column, Frame]":
        """Remove a column, returning (its expression, remaining frame)
        (compat pop_column, functions.rs:1956)."""
        return F.col(name), self.drop(name)

    def swap_columns(self, a: str, b: str) -> "Frame":
        """Swap two column positions (functions.rs:3296)."""
        cols = self.columns
        ia, ib = cols.index(a), cols.index(b)
        cols[ia], cols[ib] = cols[ib], cols[ia]
        return self.select(*cols)

    def reindex_columns(self, order: Sequence[str]) -> "Frame":
        """Project to ``order``; names not present become NULL columns
        (compat reindex_columns, functions.rs:2249 / pandas reindex)."""
        exprs = [
            F.col(c) if c in self.columns else F.lit(None).alias(c) for c in order
        ]
        return self._wrap(self._df.select(F.col(self._order), *exprs))

    def align(self, other: "Frame | DataFrame", on: Sequence[str]) -> "tuple[Frame, Frame]":
        """pandas ``align`` (join='outer', axis=0) on key columns
        (functions.rs:2216): both frames reindexed to the union of keys;
        rows missing on one side appear as NULLs. One outer join on the
        key union each — no row-order dependence."""
        odf = other.spark if isinstance(other, Frame) else other
        keys = list(on)
        all_keys = (
            self.spark.select(*keys).union(odf.select(*keys)).distinct()
        )
        left = Frame(all_keys.join(self.spark, keys, "left"))
        right = Frame(all_keys.join(odf, keys, "left"))
        return left, right

    def lookup(self, key_col: str, pairs: Sequence[tuple]) -> "Frame":
        """Row/column label lookup (compat lookup, functions.rs:3226):
        for each (key_value, column_name) pair, the value of that column
        in the row where ``key_col`` equals the key. The pair list
        broadcasts; values resolve via a CASE over the (static) column
        names, so the big side is scanned once."""
        spark = self._df.sparkSession
        value_cols = [c for c in self.columns if c != key_col]
        if not value_cols:
            raise ValueError(
                f"lookup: frame has no columns besides key column {key_col!r}"
            )
        unknown = {c for _, c in pairs} - set(value_cols)
        if unknown:
            raise KeyError(f"lookup: unknown column(s) {sorted(unknown)}")
        spec = small_local_df(
            spark, [(k, c) for k, c in pairs], f"__key__ {self._df.schema[key_col].dataType.simpleString()}, __col__ string"
        )
        # The CASE branches must share one type; keep the native type when
        # all requested columns agree, otherwise fall back to string.
        dtypes = dict(self.dtypes)
        requested = {dtypes[c] for _, c in pairs} or {dtypes[value_cols[0]]}
        cast_to = requested.pop() if len(requested) == 1 else "string"
        value = None
        for c in value_cols:
            value_expr = F.col(c).cast(cast_to)
            value = (
                F.when(F.col("__col__") == c, value_expr)
                if value is None
                else value.when(F.col("__col__") == c, value_expr)
            )
        out = (
            self.spark.join(
                F.broadcast(spec), F.col(key_col) == F.col("__key__"), "inner"
            )
            .select(
                F.col("__key__").alias("key"),
                F.col("__col__").alias("column"),
                value.alias("value"),
            )
        )
        return Frame(out)

    def replace_inf(self, cols: Sequence[str] | None = None, value=None) -> "Frame":
        """Replace ±Infinity with ``value`` (None → NULL) — compat
        replace_inf (functions.rs:4026); NaN is left alone (explicit
        NULL/NaN policy, SURVEY §7.1)."""
        targets = list(cols) if cols else [
            n for n, t in self.dtypes if t in ("double", "float")
        ]
        df = self._df
        for c in targets:
            df = df.withColumn(
                c,
                F.when(
                    F.col(c).isin(float("inf"), float("-inf")), F.lit(value)
                ).otherwise(F.col(c)),
            )
        return self._wrap(df)

    def add_suffix(self, suffix: str) -> "Frame":
        return self.rename({c: c + suffix for c in self.columns})

    def assign(self, **kwargs: Column) -> "Frame":
        df = self._df
        for name, col in kwargs.items():
            df = df.withColumn(name, col)
        return self._wrap(df)

    def with_column(self, name: str, col: Column) -> "Frame":
        return self.assign(**{name: col})

    def astype(self, mapping: Mapping[str, str]) -> "Frame":
        return self.assign(
            **{c: F.col(c).cast(t) for c, t in mapping.items()}
        )

    def select_dtypes(self, include: Sequence[str]) -> "Frame":
        keep = [n for n, t in self.dtypes if t in include]
        return self.select(*keep)

    # -- index emulation (§2.2; reference src/index/multi_index.rs:12,
    # src/dataframe/advanced_indexing.rs:127). The "index" is a tuple of
    # ordinary key columns hidden from ``columns`` — exactly how an index
    # should exist on a distributed engine: grouping/joining on it is a
    # plain shuffle key, never a driver-side label structure. Multiple
    # levels = MultiIndex. ------------------------------------------------
    @property
    def index_names(self) -> tuple[str, ...]:
        return self._index

    def set_index(
        self,
        keys: str | Sequence[str],
        drop: bool = True,
        append: bool = False,
    ) -> "Frame":
        """pandas ``set_index``: promote column(s) to index levels.
        ``drop=False`` keeps a visible copy of the column alongside the
        index level; ``append=True`` adds to the existing levels."""
        keys = [keys] if isinstance(keys, str) else list(keys)
        missing = [k for k in keys if k not in self._df.columns]
        if missing:
            raise KeyError(f"set_index: unknown column(s) {missing}")
        df = self._df
        index = list(self._index) if append else []
        for k in keys:
            if k in index:
                raise ValueError(f"set_index: duplicate level {k!r}")
            if not drop:
                # index level lives under a shadow name; the original
                # column stays visible.
                shadow = f"__index_{k}__"
                df = df.withColumn(shadow, F.col(k))
                index.append(shadow)
            else:
                index.append(k)
        return Frame(df, self._order, index)

    def reset_index(self, drop: bool = False) -> "Frame":
        """pandas ``reset_index``: demote all index levels back to data
        columns (``drop=True`` discards them)."""
        df = self._df
        if drop:
            df = df.drop(*self._index)
        else:
            for lv in self._index:
                if lv.startswith("__index_") and lv.endswith("__"):
                    public = lv[len("__index_"):-2]
                    if public in df.columns:
                        df = df.drop(lv)  # drop=False kept the original
                    else:
                        df = df.withColumnRenamed(lv, public)
        return Frame(df, self._order, ())

    def droplevel(self, level: int | str) -> "Frame":
        lv = self._index[level] if isinstance(level, int) else level
        if lv not in self._index:
            raise KeyError(f"droplevel: no index level {level!r}")
        return Frame(
            self._df.drop(lv), self._order, [c for c in self._index if c != lv]
        )

    def swaplevel(self, i: int = 0, j: int = 1) -> "Frame":
        index = list(self._index)
        index[i], index[j] = index[j], index[i]
        return Frame(self._df, self._order, index)

    def sort_index(self, ascending: bool = True) -> "Frame":
        if not self._index:
            raise ValueError("sort_index: frame has no index")
        out = self.sort_values(list(self._index), ascending=ascending)
        return Frame(out._df, out._order, self._index)

    def groupby_level(self, *levels: int | str) -> "FrameGroupBy":
        """GroupBy on index level(s) (pandas ``groupby(level=...)``);
        no levels → all of them."""
        if not self._index:
            raise ValueError("groupby_level: frame has no index")
        if levels:
            cols = [
                self._index[lv] if isinstance(lv, int) else lv for lv in levels
            ]
        else:
            cols = list(self._index)
        return FrameGroupBy(self, cols)

    # -- filtering (§2.2) ----------------------------------------------------
    def filter(self, cond: Column | str) -> "Frame":
        return self._wrap(self._df.filter(cond))

    def query(self, expr: str, **params: Any) -> "Frame":
        """String-expression filter — the reference's whole query DSL
        (src/dataframe/query/engine.rs:32, ~1700 LoC of lexer/parser/
        JIT) is Catalyst's SQL parser here.

        pandas ``@variable`` references bind from keyword arguments:
        ``f.query("bal > @lo and seg == @seg", lo=100, seg="AUTO")`` —
        values are spliced as SQL literals (numbers/strings/bools/lists).
        """
        if params:
            expr = self._substitute_params(expr, params)
        return self.filter(expr)

    @staticmethod
    def _substitute_params(expr: str, params: Mapping[str, Any]) -> str:
        """Splice ``@name`` parameter references as SQL literals.

        Quote-aware: ``@`` inside single- or double-quoted string
        literals (e.g. ``email == 'a@b.com'``) is left alone. An
        unquoted ``@name`` with no supplied value raises KeyError (typo
        guard); a bare ``@`` not followed by an identifier passes
        through.
        """
        import re

        out: list[str] = []
        i, n = 0, len(expr)
        quote: str | None = None
        while i < n:
            ch = expr[i]
            if quote is not None:
                if ch == "\\" and i + 1 < n:
                    # Spark SQL string literals support backslash
                    # escapes by default (escapedStringLiterals=false):
                    # \' must not close the quote
                    out.append(ch)
                    out.append(expr[i + 1])
                    i += 2
                    continue
                out.append(ch)
                if ch == quote:
                    # SQL escapes a quote by doubling it ('' / "")
                    if i + 1 < n and expr[i + 1] == quote:
                        out.append(expr[i + 1])
                        i += 2
                        continue
                    quote = None
                i += 1
            elif ch in ("'", '"'):
                quote = ch
                out.append(ch)
                i += 1
            elif ch == "@":
                m = re.match(r"@([A-Za-z_]\w*)", expr[i:])
                if m is None:
                    out.append(ch)
                    i += 1
                elif m.group(1) in params:
                    out.append(Frame._sql_literal(params[m.group(1)]))
                    i += m.end()
                else:
                    raise KeyError(
                        f"query(): no value supplied for @{m.group(1)}"
                    )
            else:
                out.append(ch)
                i += 1
        return "".join(out)

    @staticmethod
    def _sql_literal(val: Any) -> str:
        import math

        if isinstance(val, bool):
            return "TRUE" if val else "FALSE"
        if isinstance(val, float) and not math.isfinite(val):
            if math.isnan(val):
                return "CAST('NaN' AS DOUBLE)"
            return f"CAST('{'-' if val < 0 else ''}Infinity' AS DOUBLE)"
        if isinstance(val, (int, float)):
            return repr(val)
        if isinstance(val, str):
            escaped = val.replace("'", "''")
            return f"'{escaped}'"
        if isinstance(val, (list, tuple, set)):
            items = sorted(val, key=repr) if isinstance(val, set) else list(val)
            return "(" + ", ".join(Frame._sql_literal(v) for v in items) + ")"
        raise TypeError(f"unsupported @param type: {type(val).__name__}")

    def eval(self, assignment: str) -> "Frame":
        """pandas ``df.eval("out = expr")``: evaluate a column expression
        and assign it (Catalyst parses the right-hand side)."""
        name, _, rhs = assignment.partition("=")
        if not rhs:
            raise ValueError("eval expects 'name = expression'")
        return self.assign(**{name.strip(): F.expr(rhs.strip())})

    def isin(self, col: str, values: Sequence[Any]) -> "Frame":
        return self.filter(F.col(col).isin(*values))

    def between(self, col: str, lo: Any, hi: Any) -> "Frame":
        return self.filter(F.col(col).between(lo, hi))

    def where_cond(self, cond: Column, col: str, other: Any = None) -> "Frame":
        """pandas where: keep value where cond else `other` (compat :1079)."""
        return self.assign(**{col: F.when(cond, F.col(col)).otherwise(F.lit(other))})

    def mask(self, cond: Column, col: str, other: Any = None) -> "Frame":
        """pandas mask: replace value where cond (compat :1110)."""
        return self.assign(**{col: F.when(cond, F.lit(other)).otherwise(F.col(col))})

    def clip(self, col: str, lower: float | None = None, upper: float | None = None) -> "Frame":
        c = F.col(col)
        if lower is not None:
            c = F.greatest(c, F.lit(lower))
        if upper is not None:
            c = F.least(c, F.lit(upper))
        return self.assign(**{col: c})

    # -- whole-frame boolean reductions (compat any :1248, all :1259,
    # count_valid :1270) — one partial-aggregated pass, no collect loop -----
    def any(self, cols: Sequence[str] | None = None) -> dict[str, bool]:
        """Per column: does any row evaluate truthy (non-zero/True)?"""
        cols = list(cols or self.columns)
        row = self._df.agg(
            *[
                (F.max(F.col(c).cast("boolean").cast("int")) == 1).alias(c)
                for c in cols
            ]
        ).collect()[0]
        return {c: bool(row[c]) for c in cols}

    def all(self, cols: Sequence[str] | None = None) -> dict[str, bool]:
        """Per column: do all non-null rows evaluate truthy?"""
        cols = list(cols or self.columns)
        row = self._df.agg(
            *[
                (F.min(F.col(c).cast("boolean").cast("int")) == 1).alias(c)
                for c in cols
            ]
        ).collect()[0]
        return {c: bool(row[c]) for c in cols}

    def count_valid(self, cols: Sequence[str] | None = None) -> dict[str, int]:
        """Per column non-missing count (NaN counts as missing)."""
        cols = list(cols or self.columns)
        row = self._df.agg(
            *[
                F.count(F.when(~_missing(self._df, c), 1)).alias(c)
                for c in cols
            ]
        ).collect()[0]
        return {c: int(row[c]) for c in cols}

    # -- missing data (§2.2) -------------------------------------------------
    def isna_count(self) -> dict[str, int]:
        row = self._df.agg(
            *[
                F.count(F.when(_missing(self._df, c), 1)).alias(c)
                for c in self.columns
            ]
        ).collect()[0]
        return row.asDict()

    def dropna(self, subset: Sequence[str] | None = None, how: str = "any") -> "Frame":
        cols = list(subset or self.columns)
        missing = [_missing(self._df, c) for c in cols]
        if how == "any":
            cond = missing[0]
            for m in missing[1:]:
                cond = cond | m
        else:
            cond = missing[0]
            for m in missing[1:]:
                cond = cond & m
        return self._wrap(self._df.filter(~cond))

    def fillna(
        self,
        value: Any | Mapping[str, Any],
        limit: int | None = None,
        partition_by: Sequence[str] = (),
    ) -> "Frame":
        """Fill missing cells. ``limit=N`` fills only the first N missing
        cells per column in frame order (pandas fillna limit semantics);
        the running miss-count window is per ``partition_by`` group when
        given (global limit is a head-of-frame convenience)."""
        items = value.items() if isinstance(value, Mapping) else [
            (c, value) for c in self.columns
        ]
        df = self._df
        for c, v in items:
            if isinstance(v, str) != (dict(self.dtypes)[c] == "string"):
                continue
            miss = _missing(df, c)
            if limit is not None:
                w = self._ordered(partition_by).rowsBetween(
                    Window.unboundedPreceding, 0
                )
                miss = miss & (F.sum(miss.cast("int")).over(w) <= limit)
            df = df.withColumn(
                c, F.when(miss, F.lit(v)).otherwise(F.col(c))
            )
        return self._wrap(df)

    def ffill(
        self,
        cols: Sequence[str],
        partition_by: Sequence[str] = (),
        limit: int | None = None,
    ) -> "Frame":
        """Forward-fill; ``limit=N`` stops propagating N rows past the
        last observation (pandas ffill limit)."""
        w = self._ordered(partition_by)
        if limit is None:
            return self.assign(**{c: _ts.ffill(c, w) for c in cols})
        back = w.rowsBetween(Window.unboundedPreceding, 0)
        rn = F.row_number().over(w)
        out = self._df.withColumn("__rn__", rn)
        for c in cols:
            v = F.col(c)
            prev_i = F.last(
                F.when(v.isNotNull(), F.col("__rn__")), ignorenulls=True
            ).over(back)
            filled = F.last(v, ignorenulls=True).over(back)
            out = out.withColumn(
                c,
                F.when(v.isNotNull(), v).when(
                    F.col("__rn__") - prev_i <= limit, filled
                ),
            )
        return self._wrap(out.drop("__rn__"))

    def bfill(
        self,
        cols: Sequence[str],
        partition_by: Sequence[str] = (),
        limit: int | None = None,
    ) -> "Frame":
        w = self._ordered(partition_by)
        if limit is None:
            return self.assign(**{c: _ts.bfill(c, w) for c in cols})
        fwd = w.rowsBetween(0, Window.unboundedFollowing)
        rn = F.row_number().over(w)
        out = self._df.withColumn("__rn__", rn)
        for c in cols:
            v = F.col(c)
            next_i = F.first(
                F.when(v.isNotNull(), F.col("__rn__")), ignorenulls=True
            ).over(fwd)
            filled = F.first(v, ignorenulls=True).over(fwd)
            out = out.withColumn(
                c,
                F.when(v.isNotNull(), v).when(
                    next_i - F.col("__rn__") <= limit, filled
                ),
            )
        return self._wrap(out.drop("__rn__"))

    def replace(self, col: str, mapping: Mapping[Any, Any]) -> "Frame":
        c: Column = F.col(col)
        out = None
        for old, new in mapping.items():
            cond = c == F.lit(old)
            out = F.when(cond, F.lit(new)) if out is None else out.when(cond, F.lit(new))
        return self.assign(**{col: out.otherwise(c)})

    def coalesce_cols(self, out: str, *cols: str) -> "Frame":
        return self.assign(**{out: F.coalesce(*[F.col(c) for c in cols])})

    # -- ordering / slicing (§2.2, §2.6) -------------------------------------
    def sort_values(self, by: str | Sequence[str], ascending: bool | Sequence[bool] = True) -> "Frame":
        by = [by] if isinstance(by, str) else list(by)
        asc = [ascending] * len(by) if isinstance(ascending, bool) else list(ascending)
        order = [F.col(c).asc() if a else F.col(c).desc() for c, a in zip(by, asc)]
        # Re-derive the order column so downstream order-dependent ops
        # (head/shift/dedup) follow the new ordering — partition-offset
        # scheme, never a single-partition Window.orderBy.
        df = global_row_number(
            self._df, [*order, F.col(self._order)], self._order
        )
        return self._wrap(df)

    def head(self, n: int = 5) -> "Frame":
        # orderBy+limit compiles to TakeOrderedAndProject — a parallel
        # per-partition top-n plus a driver merge of n rows, not a
        # single-partition global sort.
        return self._wrap(self._df.orderBy(self._order).limit(n))

    def limit(self, n: int) -> "Frame":
        return self.head(n)

    def tail(self, n: int = 5) -> "Frame":
        return self._wrap(self._df.orderBy(F.col(self._order).desc()).limit(n))

    def sample(self, frac: float, seed: int = 42) -> "Frame":
        return self._wrap(self._df.sample(fraction=frac, seed=seed))

    def nlargest(self, n: int, col: str) -> "Frame":
        return self.sort_values(col, ascending=False).head(n)

    def nsmallest(self, n: int, col: str) -> "Frame":
        return self.sort_values(col).head(n)

    def skyline(
        self,
        maximize: Sequence[str] = (),
        minimize: Sequence[str] = (),
    ) -> "Frame":
        """Pareto-optimal rows under the given objectives — the
        multi-objective companion to nlargest/nsmallest (see
        operators/skyline.py for the distributed local→final shape)."""
        from pandrs_spark.operators.skyline import skyline as _sky

        return Frame(_sky(self.spark, maximize, minimize))

    def profile(self, cols: Sequence[str] | None = None, exact_distinct: bool = True) -> "Frame":
        """Long-format per-column quality report (nulls / cardinality /
        range) in one pass — see operators/profile.py."""
        from pandrs_spark.operators.profile import profile_columns

        return Frame(
            profile_columns(
                self.spark, cols if cols is not None else self.columns, exact_distinct
            )
        )

    def sample_weighted(
        self, weight_col: str, key_cols: Sequence[str], k: int,
        group_by: Sequence[str] = (),
    ) -> "Frame":
        """pandas ``sample(n=k, weights=...)`` with engine-reproducible
        draws (Efraimidis–Spirakis over content hashes) — see
        operators/sampling.py:weighted_sample."""
        from pandrs_spark.operators.sampling import weighted_sample

        return Frame(weighted_sample(self.spark, weight_col, key_cols, k, group_by))

    # -- dedup (§2.2) --------------------------------------------------------
    def drop_duplicates(
        self, subset: Sequence[str] | None = None, keep: str = "first"
    ) -> "Frame":
        """pandas semantics incl. keep='last'/'first'/False, made
        deterministic by the order column (reference test
        test_drop_duplicates_keep_last, functions.rs:5301)."""
        cols = list(subset or self.columns)
        if keep == "first":
            order = F.col(self._order).asc()
        elif keep == "last":
            order = F.col(self._order).desc()
        elif keep is False:
            w = Window.partitionBy(*cols)
            return self._wrap(
                self._df.withColumn("__cnt", F.count(F.lit(1)).over(w))
                .filter(F.col("__cnt") == 1)
                .drop("__cnt")
            )
        else:
            raise ValueError("keep must be 'first', 'last', or False")
        w = Window.partitionBy(*cols).orderBy(order)
        return self._wrap(
            self._df.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1)
            .drop("__rn")
        )

    def duplicated(self, subset: Sequence[str] | None = None, out: str = "is_dup") -> "Frame":
        cols = list(subset or self.columns)
        w = Window.partitionBy(*cols).orderBy(self._order)
        return self.assign(**{out: F.row_number().over(w) > 1})

    def distinct(self) -> "Frame":
        return Frame(self.spark.distinct())

    # -- joins (§2.3) --------------------------------------------------------
    def merge(self, right: "Frame | DataFrame", **kw) -> "Frame":
        from pandrs_spark.operators.joins import merge as _merge

        rdf = right.spark if isinstance(right, Frame) else right
        return Frame(_merge(self.spark, rdf, **kw))

    # -- groupby (§2.4) ------------------------------------------------------
    def groupby(self, *cols: str) -> "FrameGroupBy":
        return FrameGroupBy(self, list(cols))

    def value_counts(self, col: str) -> "Frame":
        return Frame(
            self.spark.groupBy(col)
            .agg(F.count(F.lit(1)).alias("count"))
            .orderBy(F.desc("count"), col)
        )

    def nunique(self) -> dict[str, int]:
        row = self.spark.agg(
            *[F.countDistinct(c).alias(c) for c in self.columns]
        ).collect()[0]
        return row.asDict()

    def describe(self) -> DataFrame:
        return self.spark.describe()

    # -- reshape (§2.8) ------------------------------------------------------
    def pivot_table(
        self,
        index: str | Sequence[str],
        columns: str,
        values: str,
        aggfunc: str = "sum",
        pivot_values: Sequence[str] | None = None,
    ) -> "Frame":
        index = [index] if isinstance(index, str) else list(index)
        fn = {"sum": F.sum, "mean": F.avg, "min": F.min, "max": F.max, "count": F.count}[aggfunc]
        g = self.spark.groupBy(*index)
        p = g.pivot(columns, list(pivot_values) if pivot_values else None)
        return Frame(p.agg(fn(values)))

    def melt(
        self,
        id_vars: Sequence[str],
        value_vars: Sequence[str],
        var_name: str = "variable",
        value_name: str = "value",
    ) -> "Frame":
        return Frame(
            self.spark.unpivot(list(id_vars), list(value_vars), var_name, value_name)
        )

    def stack(
        self,
        id_vars: Sequence[str],
        value_vars: Sequence[str] | None = None,
        var_name: str = "variable",
        value_name: str = "value",
    ) -> "Frame":
        """pandas ``stack``: wide → long (compat concat.rs region; same
        lowering as melt — Spark ``unpivot`` is a narrow projection)."""
        vv = list(value_vars) if value_vars else [
            c for c in self.columns if c not in id_vars
        ]
        return self.melt(id_vars, vv, var_name, value_name)

    def unstack(
        self,
        index: Sequence[str],
        var_col: str = "variable",
        value_col: str = "value",
        aggfunc: str = "sum",
    ) -> "Frame":
        """pandas ``unstack``: long → wide (inverse of :meth:`stack`)
        via groupBy().pivot() — one shuffle on the index keys."""
        return self.pivot_table(list(index), var_col, value_col, aggfunc)

    def explode(self, col: str, sep: str | None = None) -> "Frame":
        c = F.split(F.col(col), sep) if sep is not None else F.col(col)
        others = [x for x in self.columns if x != col]
        return Frame(self.spark.select(*others, F.explode(c).alias(col)))

    def crosstab(self, c1: str, c2: str) -> DataFrame:
        return self.spark.stat.crosstab(c1, c2)

    def get_dummies(
        self, col: str, prefix: str | None = None, drop_original: bool = True
    ) -> "Frame":
        """pandas ``get_dummies``: replace a categorical column with 0/1
        indicator columns (OneHotEncoder preprocessing/mod.rs:302).
        Vocabulary comes from the data (one distinct scan); each dummy is
        a map-side ``when`` expression."""
        from pandrs_spark.operators.ml import one_hot

        out = one_hot(self.spark, col, prefix=prefix)
        if drop_original:
            out = out.drop(col)
        return self._wrap(out)

    # -- ordered column ops (§2.5c) ------------------------------------------
    def _ordered(self, partition_by: Sequence[str]):
        return Window.partitionBy(*partition_by).orderBy(self._order)

    def shift(self, col: str, n: int = 1, partition_by: Sequence[str] = (), out: str | None = None) -> "Frame":
        w = self._ordered(partition_by)
        return self.assign(**{out or f"{col}_shift": _win.shift(col, n, w)})

    def diff(self, col: str, partition_by: Sequence[str] = (), out: str | None = None) -> "Frame":
        w = self._ordered(partition_by)
        return self.assign(**{out or f"{col}_diff": _win.diff(col, w)})

    def pct_change(self, col: str, partition_by: Sequence[str] = (), out: str | None = None) -> "Frame":
        w = self._ordered(partition_by)
        return self.assign(**{out or f"{col}_pct": _win.pct_change(col, w)})

    def cumsum(self, col: str, partition_by: Sequence[str] = (), out: str | None = None) -> "Frame":
        w = self._ordered(partition_by)
        return self.assign(**{out or f"{col}_cumsum": _win.cumsum(col, w)})

    def cummax(self, col: str, partition_by: Sequence[str] = (), out: str | None = None) -> "Frame":
        w = self._ordered(partition_by)
        return self.assign(**{out or f"{col}_cummax": _win.cummax(col, w)})

    def cummin(self, col: str, partition_by: Sequence[str] = (), out: str | None = None) -> "Frame":
        w = self._ordered(partition_by)
        return self.assign(**{out or f"{col}_cummin": _win.cummin(col, w)})

    def cumprod(self, col: str, partition_by: Sequence[str] = (), out: str | None = None) -> "Frame":
        """Running product via the PRODUCT aggregate over an expanding
        frame (operators/windows.py cumprod is the shared impl)."""
        w = self._ordered(partition_by)
        return self.assign(**{out or f"{col}_cumprod": _win.cumprod(col, w)})

    def abs(self, col: str, out: str | None = None) -> "Frame":
        return self.assign(**{out or f"{col}_abs": F.abs(F.col(col))})

    def mode(self, col: str) -> "Frame":
        """Most frequent value(s) of a column — all ties, like
        pandas Series.mode (one count agg + a max-count semi filter,
        no global sort)."""
        counts = self.spark.groupBy(col).agg(F.count(F.lit(1)).alias("__n__"))
        top = counts.agg(F.max("__n__").alias("__m__"))
        return Frame(
            counts.join(F.broadcast(top))
            .filter(F.col("__n__") == F.col("__m__"))
            .select(col, F.col("__n__").alias("n"))
        )

    def idxmax(self, value_col: str, id_col: str) -> "Frame":
        """Row identifier holding the column maximum (ties -> lowest
        id, pandas idxmax determinism) — broadcast max-join, no sort."""
        top = self.spark.agg(F.max(F.col(value_col)).alias("__m__"))
        return Frame(
            self.spark.join(F.broadcast(top))
            .filter(F.col(value_col) == F.col("__m__"))
            .groupBy(value_col)
            .agg(F.min(id_col).alias(id_col))
            .select(id_col, value_col)
        )

    def rank(self, col: str, method: str = "average", ascending: bool = True, out: str | None = None) -> "Frame":
        return self.assign(
            **{
                out or f"{col}_rank": _win.rank_method(
                    col, None, method, ascending, tiebreak=[self._order]
                )
            }
        )

    def rolling(self, col: str, window: int, agg: str = "avg", partition_by: Sequence[str] = (), min_periods: int | None = None, out: str | None = None) -> "Frame":
        w = self._ordered(partition_by)
        return self.assign(
            **{out or f"{col}_roll": _win.rolling(col, window, w, agg, min_periods)}
        )

    # -- positional access (§2.2 iloc/take/nth — anti-pattern at scale,
    # provided for API parity; compat :1787,:3411,:2096) ----------------------
    def iloc_range(self, start: int, stop: int) -> "Frame":
        """Rows [start, stop) in frame order. head(stop) bounds the data
        to ``stop`` rows via a parallel TakeOrdered merge first; the
        position window then only ever sees that bounded set, never the
        full frame."""
        if stop <= start:
            return self._wrap(self._df.limit(0))
        bounded = self.head(stop)
        # constant partition key: the window really is one bounded group
        # (≤ stop rows) — declaring it avoids the misleading
        # "No Partition Defined" full-scan warning.
        w = Window.partitionBy(F.lit(0)).orderBy(bounded._order)
        return bounded._wrap(
            bounded._df.withColumn("__pos__", F.row_number().over(w) - 1)
            .filter(F.col("__pos__") >= start)
            .drop("__pos__")
        )

    def take(self, indices: Sequence[int]) -> "Frame":
        """Rows at the given positions (order preserved by row order).
        The window only ever sees max(indices)+1 rows (TakeOrdered
        pre-bound), so the global orderBy is driver-bounded by design."""
        idx = [int(i) for i in indices]
        if not idx:
            return self._wrap(self._df.limit(0))
        bounded = self.head(max(idx) + 1)
        w = Window.partitionBy(F.lit(0)).orderBy(bounded._order)
        return bounded._wrap(
            bounded._df.withColumn("__pos__", F.row_number().over(w) - 1)
            .filter(F.col("__pos__").isin(idx))
            .drop("__pos__")
        )

    def nth(self, n: int):
        """Single row at position n (collects one row to the driver)."""
        rows = self.iloc_range(n, n + 1)._df.drop(self._order).collect()
        return rows[0] if rows else None

    # -- combine/update/align (§2.2 compat :3110,:3160,:2216) ----------------
    def update(self, other: "Frame | DataFrame", on: Sequence[str]) -> "Frame":
        """pandas ``update``: non-NULL values from ``other`` overwrite
        matching rows/columns of self (left join on ``on``)."""
        odf = other.spark if isinstance(other, Frame) else other
        keys = list(on)
        overlap = [c for c in self.columns if c in odf.columns and c not in keys]
        renamed = odf.select(
            *keys, *[F.col(c).alias(f"__upd_{c}") for c in overlap]
        )
        out = self.spark.join(renamed, keys, "left")
        for c in overlap:
            out = out.withColumn(c, F.coalesce(F.col(f"__upd_{c}"), F.col(c)))
        return self._wrap(out.drop(*[f"__upd_{c}" for c in overlap]))

    def combine_first(self, other: "Frame | DataFrame", on: Sequence[str]) -> "Frame":
        """pandas ``combine_first``: self's values win, other fills the
        gaps (NULL cells and missing rows) — full outer join + coalesce."""
        odf = other.spark if isinstance(other, Frame) else other
        keys = list(on)
        overlap = [c for c in self.columns if c in odf.columns and c not in keys]
        extra = [c for c in odf.columns if c not in self.columns]
        renamed = odf.select(
            *keys, *[F.col(c).alias(f"__oth_{c}") for c in overlap], *extra
        )
        out = self.spark.join(renamed, keys, "outer")
        for c in overlap:
            out = out.withColumn(c, F.coalesce(F.col(c), F.col(f"__oth_{c}")))
        keep = [c for c in self.columns] + extra
        return Frame(out.select(*[c for c in keep if c != self._order]))

    # -- reshape extras (§2.8) -----------------------------------------------
    def transpose(self) -> "Frame":
        """Whole-frame transpose — inherently driver-side (compat :258);
        guard with a small-frame expectation, as the reference does."""
        pdf = self._df.drop(self._order).toPandas().T.reset_index()
        pdf.columns = ["column"] + [f"row_{i}" for i in range(len(pdf.columns) - 1)]
        spark = self._df.sparkSession
        return Frame(spark.createDataFrame(pdf.astype(str)))

    # -- shape / introspection (compat shape/size/empty) --------------------
    @property
    def shape(self) -> tuple[int, int]:
        """(n_rows, n_cols) like pandas — the row count RUNS A JOB
        (Spark frames are lazy); cache upstream if called repeatedly."""
        return (self._df.count(), len(self.columns))

    @property
    def size(self) -> int:
        """rows × cols (runs a job, see ``shape``)."""
        r, c = self.shape
        return r * c

    @property
    def empty(self) -> bool:
        """True when the frame has no rows (cheap: LIMIT 1 probe, not a
        full count)."""
        return self._df.limit(1).count() == 0

    def pipe(self, fn, *args, **kwargs):
        """pandas ``pipe``: ``f.pipe(g, x) == g(f, x)`` — keeps method
        chains linear through user functions."""
        return fn(self, *args, **kwargs)

    # -- driver-side materialization (compat :1551,:3087,:3091,:2965) -------
    def to_dict(self, orient: str = "dict") -> dict | list:
        """pandas ``to_dict`` (compat :1551): 'dict' (col→{order→val}),
        'list' (col→[vals]), 'records' ([{col: val}, ...])."""
        rows = self._df.orderBy(self._order).drop(self._order).collect()
        cols = [c for c in self.columns]
        if orient == "records":
            return [r.asDict() for r in rows]
        if orient == "list":
            return {c: [r[c] for r in rows] for c in cols}
        if orient == "dict":
            return {c: {i: r[c] for i, r in enumerate(rows)} for c in cols}
        raise ValueError(f"unsupported orient: {orient}")

    def to_records(self) -> list[tuple]:
        """Row tuples in frame order (compat :3087)."""
        rows = self._df.orderBy(self._order).drop(self._order).collect()
        return [tuple(r) for r in rows]

    def items(self):
        """Iterate (column_name, values_list) like pandas (compat :3091).
        One collect, then per-column views — column count is small."""
        data = self.to_dict(orient="list")
        for c in self.columns:
            yield c, data[c]

    def iterrows(self):
        """Iterate (position, row_dict) in frame order (compat :2965).
        Streams partitions to the driver (``toLocalIterator``) instead
        of materializing everything — row-at-a-time driver iteration is
        an anti-pattern at scale, but when you need it, it shouldn't OOM."""
        it = self._df.orderBy(self._order).drop(self._order).toLocalIterator()
        for i, r in enumerate(it):
            yield i, r.asDict()

    def interpolate(
        self,
        cols: Sequence[str],
        partition_by: Sequence[str] = (),
        method: str = "linear",
    ) -> "Frame":
        """Interpolate interior NULL runs (compat :870); ``method`` in
        'linear' | 'nearest' | 'pad'/'ffill' | 'bfill' | 'zero'."""
        w = self._ordered(partition_by)
        out = self._df.withColumn("__rn__", F.row_number().over(w))
        for c in cols:
            out = out.withColumn(
                c, _ts.interpolate_linear_cols(c, F.col("__rn__"), w, method)
            )
        return self._wrap(out.drop("__rn__"))

    def cut(self, col: str, n_bins: int, out: str = "bin") -> "Frame":
        from pandrs_spark.operators.ml import equal_width_bins

        return self._wrap(equal_width_bins(self._df, col, n_bins, out))

    def qcut(self, col: str, n_bins: int, out: str = "bin") -> "Frame":
        # quantile_bins: broadcast quantile-edge threshold binning (ties
        # share a bin — pandas qcut semantics; no order column is
        # involved).
        from pandrs_spark.operators.ml import quantile_bins

        return self._wrap(quantile_bins(self._df, col, n_bins, out))

    # -- SQL (§3.3) ----------------------------------------------------------
    def register(self, name: str) -> "Frame":
        self.spark.createOrReplaceTempView(name)
        return self

    def explain(self, mode: str = "formatted") -> None:
        self._df.explain(mode)

    # -- actions -------------------------------------------------------------
    def collect(self):
        # Plain global sort (parallel range-shuffle merged at the driver)
        # — collecting is already a driver action, no window needed.
        return self._df.orderBy(self._order).drop(self._order).collect()

    def to_pandas(self):
        return self.spark.toPandas()

    def count(self) -> int:
        return self._df.count()

    def to_parquet(self, path: str, mode: str = "overwrite", **opts) -> None:
        self.spark.write.mode(mode).options(**opts).parquet(path)

    def to_csv(self, path: str, mode: str = "overwrite", header: bool = True, **opts) -> None:
        self.spark.write.mode(mode).option("header", header).options(**opts).csv(path)

    def to_json(self, path: str, mode: str = "overwrite", **opts) -> None:
        self.spark.write.mode(mode).options(**opts).json(path)

    def cache(self) -> "Frame":
        self._df.cache()
        return self


class FrameGroupBy:
    """GroupBy facade (reference DataFrameGroupBy, groupby.rs:197)."""

    _AGGS = {
        "sum": F.sum,
        "mean": F.avg,
        "avg": F.avg,
        "count": F.count,
        "min": F.min,
        "max": F.max,
        "std": F.stddev_samp,
        "var": F.var_samp,
        "first": F.first,
        "last": F.last,
        "nunique": F.countDistinct,
        "median": lambda c: F.percentile(c, F.lit(0.5)),
        "product": F.product,
    }

    def __init__(self, frame: Frame, keys: list[str]):
        self._frame = frame
        self._keys = keys

    def agg(self, **named: tuple[str, str] | Column) -> Frame:
        """agg(out_name=("col", "fn") | Column) — NamedAgg style
        (reference groupby.rs:258)."""
        cols = []
        for out, spec in named.items():
            if isinstance(spec, Column):
                cols.append(spec.alias(out))
            else:
                col, fn = spec
                cols.append(self._AGGS[fn](col).alias(out))
        return Frame(self._frame.spark.groupBy(*self._keys).agg(*cols))

    def _sugar(self, fn: str, cols: Sequence[str] | None) -> Frame:
        cols = list(cols or [c for c in self._frame.columns if c not in self._keys])
        return self.agg(**{f"{c}_{fn}": (c, fn) for c in cols})

    def sum(self, cols=None):
        return self._sugar("sum", cols)

    def mean(self, cols=None):
        return self._sugar("mean", cols)

    def count(self) -> Frame:
        return Frame(
            self._frame.spark.groupBy(*self._keys).agg(
                F.count(F.lit(1)).alias("count")
            )
        )

    def min(self, cols=None):
        return self._sugar("min", cols)

    def max(self, cols=None):
        return self._sugar("max", cols)

    def std(self, cols=None):
        return self._sugar("std", cols)

    def nunique(self, cols=None):
        return self._sugar("nunique", cols)

    def var(self, cols=None):
        return self._sugar("var", cols)

    def median(self, cols=None):
        return self._sugar("median", cols)

    def first(self, cols=None):
        return self._sugar("first", cols)

    def last(self, cols=None):
        return self._sugar("last", cols)

    def product(self, cols=None):
        """AggFunc product (compat product_all :1006 family)."""
        return self._sugar("product", cols)

    def transform(self, col: str, fn: str, out: str | None = None) -> Frame:
        """Group-broadcast aggregate (reference groupby.rs:427) — a
        window aggregate, no join-back needed."""
        w = Window.partitionBy(*self._keys)
        return self._frame.assign(
            **{out or f"{col}_{fn}": self._AGGS[fn](col).over(w)}
        )

    def filter_groups(self, cond_fn: str, col: str, threshold: float) -> Frame:
        """Keep rows of groups whose aggregate passes (groupby.rs:406)."""
        w = Window.partitionBy(*self._keys)
        agg = self._AGGS[cond_fn](col).over(w)
        return self._frame._wrap(self._frame._df.withColumn("__g", agg).filter(
            F.col("__g") > threshold
        ).drop("__g"))

    def apply_in_pandas(self, fn: Callable, schema: str) -> Frame:
        """Arbitrary frame→frame group apply (groupby_apply compat
        :3503) via Arrow-batched applyInPandas."""
        return Frame(self._frame.spark.groupBy(*self._keys).applyInPandas(fn, schema))


def read_parquet(spark, path: str, **opts) -> Frame:
    return Frame(spark.read.options(**opts).parquet(path))


def read_csv(spark, path: str, header: bool = True, infer_schema: bool = True, **opts) -> Frame:
    return Frame(
        spark.read.option("header", header)
        .option("inferSchema", infer_schema)
        .options(**opts)
        .csv(path)
    )


def read_json(spark, path: str, **opts) -> Frame:
    return Frame(spark.read.options(**opts).json(path))


def from_spark(df: DataFrame) -> Frame:
    return Frame(df)


def concat(frames: Sequence[Frame], ignore_index: bool = True) -> Frame:
    """Row concat, pandas concat(axis=0) (compat concat.rs:36)."""
    out = frames[0].spark
    for f in frames[1:]:
        out = out.unionByName(f.spark, allowMissingColumns=True)
    return Frame(out)


def concat_columns(frames: Sequence[Frame]) -> Frame:
    """Column concat, pandas concat(axis=1) (compat concat.rs:11):
    positional alignment via each frame's row order.

    Scale shape: each side gets a dense 1..n global position from the
    partition-offset scheme (``global_row_number`` — range-sort +
    per-partition row_number + a tiny collected offset map; no
    single-partition window or zipWithIndex anywhere). The equi-join on
    ``__pos__`` is then the minimal data movement positional alignment
    admits — rows with the same position MUST be co-located once, and
    Spark hashes both sides by the join key in one shuffle each. Frames of unequal length
    outer-join to NULLs, as pandas aligns missing labels to NaN. The
    result keeps ``__pos__`` as its hidden order column, so downstream
    sorts/exports preserve positional row order."""
    out = None
    for f in frames:
        numbered = global_row_number(
            f._df, [F.col(f._order)], "__pos__"
        ).drop(f._order)
        out = numbered if out is None else out.join(numbered, "__pos__", "outer")
    return Frame(out, order_col="__pos__")


class StrAccessor:
    """pandas ``Series.str`` parity (src/series/string_accessor.rs:52):
    each method returns a Column expression over builtin JVM functions —
    no UDFs, so string ops stay inside whole-stage codegen."""

    def __init__(self, col: str | Column):
        self._c = F.col(col) if isinstance(col, str) else col

    def upper(self):
        return F.upper(self._c)

    def lower(self):
        return F.lower(self._c)

    def title(self):
        return F.initcap(self._c)

    def capitalize(self):
        return F.concat(
            F.upper(self._c.substr(1, 1)),
            F.lower(self._c.substr(F.lit(2), F.length(self._c))),
        )

    def contains(self, pat: str, regex: bool = True):
        return self._c.rlike(pat) if regex else self._c.contains(pat)

    def startswith(self, s: str):
        return self._c.startswith(s)

    def endswith(self, s: str):
        return self._c.endswith(s)

    def replace(self, pat: str, repl: str, regex: bool = True):
        return F.regexp_replace(self._c, pat if regex else F.lit(pat), repl)

    def split(self, sep: str):
        return F.split(self._c, sep)

    def len(self):
        return F.length(self._c)

    def strip(self):
        return F.trim(self._c)

    def lstrip(self):
        return F.ltrim(self._c)

    def rstrip(self):
        return F.rtrim(self._c)

    def extract(self, pat: str, group: int = 1):
        return F.regexp_extract(self._c, pat, group)

    def count(self, pat: str):
        return F.size(F.split(self._c, pat)) - 1

    def pad(self, width: int, side: str = "left", fillchar: str = " "):
        return (
            F.lpad(self._c, width, fillchar)
            if side == "left"
            else F.rpad(self._c, width, fillchar)
        )

    def zfill(self, width: int):
        return F.lpad(self._c, width, "0")

    def slice(self, start: int, length: int):
        return self._c.substr(start + 1, length)

    def slice_replace(self, start: int, stop: int, repl: str):
        """Replace [start, stop) with ``repl`` (pandas str.slice_replace)."""
        return F.concat(
            F.substring(self._c, 1, start),
            F.lit(repl),
            F.substr(self._c, F.lit(stop + 1)),
        )

    def isalpha(self):
        return self._c.rlike(r"^[A-Za-z]+$")

    def isdigit(self):
        return self._c.rlike(r"^[0-9]+$")

    def isalnum(self):
        return self._c.rlike(r"^[A-Za-z0-9]+$")

    def isspace(self):
        return self._c.rlike(r"^\s+$")

    def islower(self):
        # string_accessor.rs:506-622: has a cased char, none uppercase
        return self._c.rlike("[a-z]") & ~self._c.rlike("[A-Z]")

    def isupper(self):
        return self._c.rlike("[A-Z]") & ~self._c.rlike("[a-z]")

    def findall(self, pattern: str):
        """All regex matches as an array (string_accessor.rs:444)."""
        return F.regexp_extract_all(self._c, F.lit(pattern), 0)

    def swapcase(self):
        """Per-character case flip (string_accessor.rs:650) — a
        character-class transform over the exploded codepoints would
        shuffle; a single filter-free expression keeps it in codegen."""
        ch = F.split(self._c, "")
        return F.array_join(
            F.transform(
                ch,
                lambda c: F.when(c.rlike("[a-z]"), F.upper(c))
                .when(c.rlike("[A-Z]"), F.lower(c))
                .otherwise(c),
            ),
            "",
        )

    def repeat(self, n: int):
        """String repetition (compat :4167)."""
        return F.repeat(self._c, n)

    def center(self, width: int, fillchar: str = " "):
        """Center-pad (compat :4169) with CPython/pandas tie-breaking:
        ``left = pad // 2 + (pad & width & 1)`` — the odd extra char goes
        left when the target width is odd, right when even. Never
        truncates."""
        pad = F.lit(width) - F.length(self._c)
        extra = pad.bitwiseAND(F.lit(width)).bitwiseAND(F.lit(1))
        left_len = (F.length(self._c) + F.floor(pad / 2) + extra).cast("int")
        return F.when(pad <= 0, self._c).otherwise(
            F.rpad(F.lpad(self._c, left_len, fillchar), width, fillchar)
        )


class DtAccessor:
    """pandas ``Series.dt`` parity (src/series/datetime_accessor.rs):
    builtin datetime functions only."""

    def __init__(self, col: str | Column):
        self._c = F.col(col) if isinstance(col, str) else col

    def year(self):
        return F.year(self._c)

    def month(self):
        return F.month(self._c)

    def day(self):
        return F.dayofmonth(self._c)

    def hour(self):
        return F.hour(self._c)

    def minute(self):
        return F.minute(self._c)

    def second(self):
        return F.second(self._c)

    def weekday(self):
        # pandas: Monday=0..Sunday=6; Spark dayofweek: Sunday=1..Saturday=7
        return (F.dayofweek(self._c) + 5) % 7

    def dayofyear(self):
        return F.dayofyear(self._c)

    def quarter(self):
        return F.quarter(self._c)

    def week(self):
        return F.weekofyear(self._c)

    def is_weekend(self):
        return F.dayofweek(self._c).isin([1, 7])

    def date(self):
        return F.to_date(self._c)

    def strftime(self, fmt: str):
        return F.date_format(self._c, fmt)

    def timestamp(self):
        return F.unix_timestamp(self._c)

    def add_days(self, n: int):
        return F.timestamp_seconds(F.unix_timestamp(self._c) + n * 86400)

    def add_months(self, n: int):
        return F.add_months(self._c, n)

    def add_years(self, n: int):
        """datetime_accessor.rs:468 — calendar-aware (Feb 29 clamps)."""
        return F.add_months(self._c, 12 * n)

    def tz_convert(self, tz: str):
        """Wall-clock in another zone (DateTimeAccessorTz tz_convert,
        datetime_accessor.rs:578): timestamps are UTC instants here."""
        return F.from_utc_timestamp(self._c, tz)

    def utc_offset(self, tz: str):
        """Offset minutes of ``tz`` at each instant
        (datetime_accessor.rs:608), from the wall-clock delta."""
        return (
            F.unix_timestamp(F.from_utc_timestamp(self._c, tz))
            - F.unix_timestamp(self._c)
        ) / 60

    def normalize(self):
        return F.date_trunc("day", self._c)

    def round(self, freq: str):
        return F.date_trunc(freq, self._c)

    def days_in_month(self):
        return F.dayofmonth(F.last_day(self._c))

    def is_leap_year(self):
        y = F.year(self._c)
        return ((y % 4 == 0) & (y % 100 != 0)) | (y % 400 == 0)

    def is_business_day(self):
        return ~F.dayofweek(self._c).isin([1, 7])


def str_(col: str | Column) -> StrAccessor:
    return StrAccessor(col)


def dt(col: str | Column) -> DtAccessor:
    return DtAccessor(col)
