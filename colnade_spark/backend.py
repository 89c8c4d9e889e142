"""SparkBackend: translates the colnade expression AST to
``pyspark.sql.Column`` and implements every ``BackendProtocol`` frame op on
``pyspark.sql.DataFrame``.

Structural analog of the reference's Polars adapter (reference:
colnade-polars/src/colnade_polars/adapter.py:57-575) — same recursive
translation shape, but the target is a Catalyst expression, so the full
pipeline composes into ONE logical plan and Catalyst performs predicate
pushdown / column pruning / join strategy selection / AQE for free.

Scale design notes:
- every op is lazy; materialization happens only at explicit boundaries
  (collect/height/item/iter_rows/to_batches/tail).
- validation runs as ONE generated aggregation job for all constraints, plus
  a second bounded job for sample values only when violations exist — never
  one scan per constraint (the reference's per-constraint scans,
  colnade-polars adapter.py:357-490, would not survive 100 TB).
- ``sample(n)``/``sort().limit(n)`` compile to TakeOrderedAndProject (per-
  partition top-n heap + driver merge), not a full shuffle sort.
"""

from __future__ import annotations

import operator as _op
import re
from collections.abc import Callable, Iterable, Iterator, Sequence
from functools import reduce
from typing import Any

from pyspark.sql import DataFrame as SparkDF
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from colnade_spark import dtypes as dt
from colnade_spark.conversion import (
    spark_type_compatible,
    to_spark_type,
    to_struct_type,
    unsigned_columns,
)
from colnade_spark.errors import (
    NullViolation,
    SchemaError,
    TypeMismatch,
    ValueViolation,
)
from colnade_spark.expr import (
    Agg,
    AliasedExpr,
    BinOp,
    ColumnRef,
    Expr,
    FunctionCall,
    JoinCondition,
    Literal,
    ListOp,
    MapOp,
    SortExpr,
    StructFieldAccess,
    UnaryOp,
    WhenThenOtherwise,
    WindowExpr,
)

_BINOP_FNS: dict[str, Callable[[Any, Any], Any]] = {
    "+": _op.add,
    "-": _op.sub,
    "*": _op.mul,
    # try_divide / try_mod, NOT the raw operators: under Spark 4's ANSI
    # default a single zero divisor anywhere in the data would fail the
    # whole job. NULL-on-zero is SQL semantics (and the DuckDB oracle's);
    # documented divergence from the reference's float engines, which
    # yield inf/nan. Division is double, modulo keeps sign-of-dividend —
    # both unchanged from the plain operators on non-zero divisors.
    "/": F.try_divide,
    "%": F.try_mod,
    # null-safe equality (IS NOT DISTINCT FROM): null <=> null is TRUE
    "<=>": lambda a, b: a.eqNullSafe(b),
    ">": _op.gt,
    "<": _op.lt,
    ">=": _op.ge,
    "<=": _op.le,
    "==": _op.eq,
    "!=": _op.ne,
    "&": _op.and_,
    "|": _op.or_,
}

_AGG_FNS: dict[str, Callable[[Any], Any]] = {
    "sum": F.sum,
    "mean": F.avg,
    "min": F.min,
    "max": F.max,
    "count": F.count,
    "std": F.stddev_samp,  # ddof=1, matches Polars/Pandas sample default
    "var": F.var_samp,
    "first": F.first,
    "last": F.last,
    "n_unique": F.countDistinct,
}

# running-window aggregates (cum_* WindowExpr funcs)
_CUM_FNS: dict[str, Callable[[Any], Any]] = {
    "cum_sum": F.sum,
    "cum_min": F.min,
    "cum_max": F.max,
    "cum_count": F.count,
    "cum_mean": F.avg,
}

# our dt_truncate unit vocabulary → Spark date_trunc unit
_TRUNC_UNITS = {
    "year": "year",
    "quarter": "quarter",
    "month": "month",
    "week": "week",
    "day": "day",
    "hour": "hour",
    "minute": "minute",
    "second": "second",
}


def collect_assertions(node: Any, out: list[Expr] | None = None) -> list[Expr]:
    """Find ``assert_non_null`` nodes — their operands must be checked for
    nulls at the frame-op boundary (Spark cannot raise mid-expression the way
    Polars ``map_batches`` can; SURVEY.md §7.4)."""
    if out is None:
        out = []
    if isinstance(node, FunctionCall):
        if node.name == "assert_non_null":
            out.append(node.operand)
        collect_assertions(node.operand, out)
        for a in node.args:
            collect_assertions(a, out)
    elif isinstance(node, BinOp):
        collect_assertions(node.left, out)
        collect_assertions(node.right, out)
    elif isinstance(node, (UnaryOp, Agg, StructFieldAccess)):
        collect_assertions(node.operand, out)
    elif isinstance(node, AliasedExpr):
        collect_assertions(node.expr, out)
    elif isinstance(node, SortExpr):
        collect_assertions(node.expr, out)
    elif isinstance(node, (ListOp, MapOp)):
        collect_assertions(node.operand, out)
    elif isinstance(node, WhenThenOtherwise):
        for c, v in node.cases:
            collect_assertions(c, out)
            collect_assertions(v, out)
        if node.default is not None:
            collect_assertions(node.default, out)
    elif isinstance(node, WindowExpr):
        if node.operand is not None:
            collect_assertions(node.operand, out)
        for p in node.partition_by:
            collect_assertions(p, out)
        for o in node.order_by:
            collect_assertions(o, out)
    return out


def rewrite_refs(node: Any, mapping: dict[str, str] | Callable[[ColumnRef], str]) -> Any:
    """Rebuild an AST with ColumnRef names remapped (used by joined frames to
    resolve right-side column renames). ``mapping`` may be a plain dict or a
    callable receiving the full ColumnRef (schema-aware resolution)."""
    if isinstance(node, ColumnRef):
        new = mapping(node) if callable(mapping) else mapping.get(node.name, node.name)
        return ColumnRef(new, node.schema_name) if new != node.name else node
    if isinstance(node, Literal):
        return node
    if isinstance(node, BinOp):
        return BinOp(rewrite_refs(node.left, mapping), rewrite_refs(node.right, mapping), node.op)
    if isinstance(node, UnaryOp):
        return UnaryOp(rewrite_refs(node.operand, mapping), node.op)
    if isinstance(node, Agg):
        return Agg(rewrite_refs(node.operand, mapping), node.agg_type)
    if isinstance(node, FunctionCall):
        return FunctionCall(
            node.name,
            rewrite_refs(node.operand, mapping),
            tuple(rewrite_refs(a, mapping) for a in node.args),
            options=node.options,
        )
    if isinstance(node, AliasedExpr):
        return AliasedExpr(rewrite_refs(node.expr, mapping), node.target)
    if isinstance(node, SortExpr):
        return SortExpr(rewrite_refs(node.expr, mapping), node.descending)
    if isinstance(node, StructFieldAccess):
        return StructFieldAccess(rewrite_refs(node.operand, mapping), node.field_name)
    if isinstance(node, ListOp):
        return ListOp(
            rewrite_refs(node.operand, mapping),
            node.op,
            tuple(rewrite_refs(a, mapping) for a in node.args),
        )
    if isinstance(node, MapOp):
        return MapOp(
            rewrite_refs(node.operand, mapping),
            node.op,
            tuple(rewrite_refs(a, mapping) for a in node.args),
        )
    if isinstance(node, WhenThenOtherwise):
        return WhenThenOtherwise(
            tuple(
                (rewrite_refs(c, mapping), rewrite_refs(v, mapping)) for c, v in node.cases
            ),
            None if node.default is None else rewrite_refs(node.default, mapping),
        )
    if isinstance(node, WindowExpr):
        return WindowExpr(
            node.func,
            None if node.operand is None else rewrite_refs(node.operand, mapping),
            node.offset,
            tuple(rewrite_refs(p, mapping) for p in node.partition_by),
            tuple(rewrite_refs(o, mapping) for o in node.order_by),
            node.frame,
            node.range_frame,
        )
    return node


class SparkBackend:
    """The one real backend. Stateless; safe to share."""

    # ------------------------------------------------------------------
    # expression translation
    # ------------------------------------------------------------------
    def translate_expr(self, node: Any):
        if isinstance(node, ColumnRef):
            return F.col(node.name)
        if isinstance(node, Literal):
            return F.lit(node.value)
        if isinstance(node, BinOp):
            return _BINOP_FNS[node.op](
                self.translate_expr(node.left), self.translate_expr(node.right)
            )
        if isinstance(node, UnaryOp):
            c = self.translate_expr(node.operand)
            if node.op == "neg":
                return -c
            if node.op == "not":
                return ~c
            if node.op == "is_null":
                return c.isNull()
            if node.op == "is_not_null":
                return c.isNotNull()
            if node.op == "is_nan":
                # null propagates (Polars semantics); Spark isnan(null)=false
                return F.when(c.isNull(), F.lit(None)).otherwise(F.isnan(c))
            raise SchemaError(message=f"unknown unary op {node.op!r}")
        if isinstance(node, Agg):
            return self._translate_agg(node)
        if isinstance(node, FunctionCall):
            return self._translate_function(node)
        if isinstance(node, AliasedExpr):
            return self.translate_expr(node.expr).alias(node.out_name)
        if isinstance(node, StructFieldAccess):
            return self.translate_expr(node.operand).getField(node.field_name)
        if isinstance(node, ListOp):
            return self._translate_list_op(node)
        if isinstance(node, MapOp):
            return self._translate_map_op(node)
        if isinstance(node, WhenThenOtherwise):
            out = None
            for cond, val in node.cases:
                c, v = self.translate_expr(cond), self.translate_expr(val)
                out = F.when(c, v) if out is None else out.when(c, v)
            if out is None:
                raise SchemaError(message="when() with no cases")
            default = (
                F.lit(None) if node.default is None else self.translate_expr(node.default)
            )
            return out.otherwise(default)
        if isinstance(node, SortExpr):
            c = self.translate_expr(node.expr)
            # deterministic cross-engine null placement: always NULLS LAST
            return c.desc_nulls_last() if node.descending else c.asc_nulls_last()
        if isinstance(node, WindowExpr):
            return self._translate_window(node)
        raise SchemaError(message=f"cannot translate node {type(node).__name__}")

    def _translate_window(self, node: WindowExpr):
        w = Window.partitionBy(
            *[self.translate_expr(p) for p in node.partition_by]
        ).orderBy(*[self.translate_expr(o) for o in node.order_by])
        if node.func == "row_number":
            return F.row_number().over(w)
        if node.func == "rank":
            return F.rank().over(w)
        if node.func == "dense_rank":
            return F.dense_rank().over(w)
        if node.func == "lag":
            return F.lag(self.translate_expr(node.operand), node.offset).over(w)
        if node.func == "lead":
            return F.lead(self.translate_expr(node.operand), node.offset).over(w)
        if node.func == "ntile":
            return F.ntile(node.offset).over(w)
        if node.func == "percent_rank":
            return F.percent_rank().over(w)
        if node.func == "cume_dist":
            return F.cume_dist().over(w)
        cum = _CUM_FNS.get(node.func)
        if cum is not None:
            if node.frame is not None:
                # bounded rolling frame: RANGE over one numeric order key
                # (tie-insensitive event-time windows) or ROWS (positional)
                prec, foll = node.frame
                frame = (
                    w.rangeBetween(-prec, foll)
                    if node.range_frame
                    else w.rowsBetween(-prec, foll)
                )
            else:
                # running aggregate: ROWS UNBOUNDED PRECEDING .. CURRENT ROW —
                # a row frame (not RANGE) so ties accumulate one row at a
                # time, matching ANSI ROWS semantics on both engines.
                frame = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
            return cum(self.translate_expr(node.operand)).over(frame)
        raise SchemaError(message=f"unknown window function {node.func!r}")

    def _translate_agg(self, node: Agg):
        inner = self.translate_expr(node.operand)
        try:
            return _AGG_FNS[node.agg_type](inner)
        except KeyError:
            raise SchemaError(message=f"unknown aggregation {node.agg_type!r}") from None

    def _translate_function(self, node: FunctionCall):
        name = node.name
        if name == "over":
            return self._translate_over(node)
        c = self.translate_expr(node.operand)
        args = [self.translate_expr(a) for a in node.args]
        if name == "str_contains":
            return c.contains(args[0])
        if name == "str_starts_with":
            return c.startswith(args[0])
        if name == "str_ends_with":
            return c.endswith(args[0])
        if name == "str_len":
            return F.length(c)
        if name == "str_to_lowercase":
            return F.lower(c)
        if name == "str_to_uppercase":
            return F.upper(c)
        if name == "str_strip":
            return F.trim(c)
        if name == "str_replace":
            return F.replace(c, args[0], args[1])  # replace-all
        if name == "math_abs":
            return F.abs(c)
        if name == "math_round":
            # F.round requires a literal int scale
            return F.round(c, node.args[0].value)
        if name == "math_floor":
            return F.floor(c)
        if name == "math_ceil":
            return F.ceil(c)
        if name == "math_sqrt":
            return F.sqrt(c)
        if name == "math_ln":
            return F.log(c)
        if name == "math_log10":
            return F.log10(c)
        if name == "math_exp":
            return F.exp(c)
        if name == "math_pow":
            return F.pow(c, args[0])
        if name == "str_extract":
            pat, group = node.args[0].value, node.args[1].value
            # Spark's regexp_extract yields '' for a non-matching row;
            # collapse every '' to NULL — the exact twin of the DuckDB
            # convention NULLIF(regexp_extract(..), ''). This means a
            # pattern that matches with an EMPTY capture (e.g. '(a*)')
            # also yields NULL, identically on both engines.
            return F.nullif(F.regexp_extract(c, pat, group), F.lit(""))
        if name == "str_matches":
            return c.rlike(node.args[0].value)
        if name == "str_split":
            return F.split(c, re.escape(node.args[0].value))
        if name == "str_slice":
            offset, length = node.args[0].value, node.args[1].value
            return F.substring(c, offset + 1, length)
        if name == "is_in":
            return c.isin(*[a.value for a in node.args])
        if name == "dt_year":
            return F.year(c)
        if name == "dt_month":
            return F.month(c)
        if name == "dt_day":
            return F.dayofmonth(c)
        if name == "dt_hour":
            return F.hour(c)
        if name == "dt_minute":
            return F.minute(c)
        if name == "dt_second":
            return F.second(c)
        if name == "dt_epoch_day":
            # unix_date requires DATE; timestamps truncate to their date.
            # DuckDB twin: CAST(x AS DATE) - DATE '1970-01-01'.
            return F.unix_date(c.cast("date"))
        if name == "dt_truncate":
            unit = node.options.get("every")
            if unit not in _TRUNC_UNITS:
                raise SchemaError(
                    message=f"dt_truncate unit {unit!r} not in {sorted(_TRUNC_UNITS)}"
                )
            return F.date_trunc(_TRUNC_UNITS[unit], c)
        if name in ("dt_add", "dt_diff"):
            unit = node.options.get("every")
            if unit not in _TRUNC_UNITS:
                raise SchemaError(
                    message=f"{name} unit {unit!r} not in {sorted(_TRUNC_UNITS)}"
                )
            if name == "dt_add":
                return F.timestamp_add(_TRUNC_UNITS[unit].upper(), args[0], c)
            # complete units from other -> self (start=other, end=self)
            return F.timestamp_diff(_TRUNC_UNITS[unit].upper(), args[0], c)
        if name == "greatest":
            return F.greatest(c, *args)
        if name == "least":
            return F.least(c, *args)
        if name == "concat_str":
            return F.concat_ws(node.options.get("sep", ""), c, *args)
        if name == "str_count_matches":
            return F.regexp_count(c, args[0])
        if name == "json_extract":
            return F.get_json_object(c, node.args[0].value)
        if name == "fill_null":
            return F.coalesce(c, args[0])
        if name == "fill_nan":
            return F.nanvl(c, args[0])
        if name == "assert_non_null":
            # checked eagerly at the frame boundary (collect_assertions);
            # the expression itself is a pass-through
            return c
        if name == "cast":
            return c.cast(to_spark_type(node.options["dtype"]))
        raise SchemaError(message=f"unknown function {name!r}")

    def _translate_over(self, node: FunctionCall):
        """Partition-only window aggregate (unbounded frame). ``n_unique``
        uses size(collect_set(..)) — countDistinct is not window-capable."""
        w = Window.partitionBy(*[self.translate_expr(p) for p in node.args])
        inner = node.operand
        if isinstance(inner, Agg) and inner.agg_type == "n_unique":
            return F.size(F.collect_set(self.translate_expr(inner.operand)).over(w))
        return self.translate_expr(inner).over(w)

    def _translate_list_op(self, node: ListOp):
        c = self.translate_expr(node.operand)
        if node.op == "len":
            return F.size(c)
        if node.op == "get":
            # F.get is 0-based and OOB-tolerant (null) even under ANSI mode,
            # unlike getItem/element_at which raise in Spark 4
            return F.get(c, self.translate_expr(node.args[0]))
        if node.op == "contains":
            return F.array_contains(c, self.translate_expr(node.args[0]))
        if node.op == "min":
            return F.array_min(c)
        if node.op == "max":
            return F.array_max(c)
        if node.op == "sum":
            return F.aggregate(
                c, F.lit(0.0).cast("double"), lambda acc, x: acc + x.cast("double")
            )
        if node.op == "mean":
            total = F.aggregate(
                c, F.lit(0.0).cast("double"), lambda acc, x: acc + x.cast("double")
            )
            return F.when(F.size(c) > 0, total / F.size(c))  # empty → null
        if node.op == "unique":
            return F.array_distinct(c)
        if node.op == "sort":
            return F.array_sort(c)  # ascending, nulls last
        if node.op == "slice":
            offset = node.args[0].value
            length = node.args[1].value
            return F.slice(c, offset + 1, length)  # F.slice is 1-based
        if node.op == "join":
            return F.array_join(c, node.args[0].value)
        raise SchemaError(message=f"unknown list op {node.op!r}")

    def _translate_map_op(self, node: MapOp):
        c = self.translate_expr(node.operand)
        if node.op == "len":
            return F.size(c)
        if node.op == "get":
            # try_element_at: null on missing key (plain element_at raises
            # under Spark 4 ANSI); null map propagates null
            return F.try_element_at(c, self.translate_expr(node.args[0]))
        if node.op == "contains":
            return F.map_contains_key(c, self.translate_expr(node.args[0]))
        if node.op == "keys":
            # map entry order is engine-defined; sorted keys are the only
            # deterministic, cross-engine-comparable form
            return F.array_sort(F.map_keys(c))
        raise SchemaError(message=f"unknown map op {node.op!r}")

    # ------------------------------------------------------------------
    # frame ops (all lazy)
    # ------------------------------------------------------------------
    def filter(self, data: SparkDF, predicate: Expr) -> SparkDF:
        self._run_assertions(data, predicate)
        return data.filter(self.translate_expr(predicate))

    def sort(self, data: SparkDF, sort_exprs: Sequence[SortExpr]) -> SparkDF:
        return data.orderBy(*[self.translate_expr(s) for s in sort_exprs])

    def limit(self, data: SparkDF, n: int) -> SparkDF:
        return data.limit(n)

    def tail(self, data: SparkDF, n: int) -> SparkDF:
        # driver-side materialization then re-parallelize (the Dask precedent:
        # reference colnade-dask adapter.py:343-345)
        rows = data.tail(n)
        return data.sparkSession.createDataFrame(rows, schema=data.schema)

    def sample(self, data: SparkDF, n: int, seed: int | None) -> SparkDF:
        # rand-order + limit compiles to TakeOrderedAndProject: per-partition
        # top-n heap, no full shuffle — scales to arbitrary input size.
        # seed=None means random-by-default (fresh draw per call), matching
        # the reference's sample semantics — not a silent fixed seed.
        return data.orderBy(F.rand() if seed is None else F.rand(seed)).limit(n)

    def describe(self, data: SparkDF, names: Sequence[str]) -> SparkDF:
        """Long-format summary stats: ONE aggregation computes 5 stats per
        column (partial agg before the single-row exchange), then inline()
        reshapes the one row to one row per column — no per-column jobs.
        Built entirely from typed Column expressions (positional _c{i}
        aliases, names only as literals), so column names containing
        quotes/backticks can never produce malformed SQL."""
        aggs = []
        for i, n in enumerate(names):
            c = data[n]
            aggs += [
                F.count(c).alias(f"_c{i}_n"),
                F.avg(c).alias(f"_c{i}_mean"),
                F.stddev_samp(c).alias(f"_c{i}_std"),
                F.min(c).cast("double").alias(f"_c{i}_lo"),
                F.max(c).cast("double").alias(f"_c{i}_hi"),
            ]
        row = data.agg(*aggs)
        structs = F.array(
            *[
                F.struct(
                    F.lit(n).alias("col_name"),
                    F.col(f"_c{i}_n").alias("n_non_null"),
                    F.col(f"_c{i}_mean").alias("mean"),
                    F.col(f"_c{i}_std").alias("std"),
                    F.col(f"_c{i}_lo").alias("lo"),
                    F.col(f"_c{i}_hi").alias("hi"),
                )
                for i, n in enumerate(names)
            ]
        )
        return row.select(F.inline(structs))

    def unique(self, data: SparkDF, subset: Sequence[str] | None) -> SparkDF:
        return data.dropDuplicates(list(subset) if subset else None)

    def drop_nulls(self, data: SparkDF, subset: Sequence[str] | None) -> SparkDF:
        return data.dropna(subset=list(subset) if subset else None)

    def with_columns(self, data: SparkDF, exprs: Sequence[AliasedExpr]) -> SparkDF:
        for e in exprs:
            self._run_assertions(data, e)
        # parallel application (all exprs see the INPUT frame), matching the
        # reference's Polars with_columns semantics
        return data.withColumns({e.out_name: self.translate_expr(e.expr) for e in exprs})

    def select(self, data: SparkDF, names: Sequence[str]) -> SparkDF:
        return data.select(*names)

    def group_agg(
        self, data: SparkDF, keys: Sequence[str], aggs: Sequence[AliasedExpr]
    ) -> SparkDF:
        cols = [self.translate_expr(a.expr).alias(a.out_name) for a in aggs]
        return data.groupBy(*[F.col(k) for k in keys]).agg(*cols)

    def agg(self, data: SparkDF, aggs: Sequence[AliasedExpr]) -> SparkDF:
        cols = [self.translate_expr(a.expr).alias(a.out_name) for a in aggs]
        return data.agg(*cols)

    def join(
        self,
        left: SparkDF,
        right: SparkDF,
        condition: JoinCondition | Sequence[JoinCondition] | None,
        how: str,
    ) -> tuple[SparkDF, dict[str, str]]:
        """Equi-join on one or more key equalities (multi-key is an
        extension — the reference joins on exactly one key,
        dataframe.py:609-622). Right-side columns whose names collide with
        the left are renamed ``<name>__r`` pre-join; the returned mapping
        lets the joined frame resolve right-schema column refs (SURVEY.md
        §7.4 collisions). Multiple conditions AND together into ONE
        composite-key hash join — one shuffle on the composite key, never
        a join-then-filter.

        Broadcast and join-strategy selection stay with Catalyst/AQE — at
        scale the small side is auto-broadcast under the threshold, and AQE
        converts to broadcast at runtime when stats allow.
        """
        how_map = {"inner": "inner", "left": "left", "outer": "full", "cross": "cross"}
        if how not in how_map:
            raise SchemaError(message=f"unsupported join how={how!r}")
        collisions = set(left.columns) & set(right.columns)
        rename = {name: f"{name}__r" for name in collisions}
        right2 = right.withColumnsRenamed(rename) if rename else right
        if how == "cross":
            return left.crossJoin(right2), rename
        conds = [condition] if isinstance(condition, JoinCondition) else list(condition or ())
        if not conds:
            raise SchemaError(message=f"{how} join requires a JoinCondition")
        expr = None
        for c in conds:
            rname = rename.get(c.right.name, c.right.name)
            eq = left[c.left.name] == right2[rname]
            expr = eq if expr is None else (expr & eq)
        return left.join(right2, expr, how_map[how]), rename

    def semi_anti_join(
        self,
        left: SparkDF,
        right: SparkDF,
        condition: JoinCondition | None,
        anti: bool,
    ) -> SparkDF:
        """Left-semi / left-anti equi-join (extension beyond the reference's
        inner/left/outer/cross — reference dataframe.py:609-622 has no
        filtering joins). Only left columns survive, so the result keeps
        the left schema. The right side is projected to its key column
        pre-join — shuffle volume is the key set, never right payloads;
        AQE broadcasts it when small (the decontamination pattern)."""
        if condition is None:
            raise SchemaError(
                message="semi/anti join requires a JoinCondition"
            )
        lname = condition.left.name
        key = right.select(F.col(condition.right.name).alias("__sa_key"))
        how = "left_anti" if anti else "left_semi"
        return left.join(key, left[lname] == key["__sa_key"], how)

    def grouped_sets_agg(
        self,
        data: SparkDF,
        keys: Sequence[str],
        aggs: Sequence[AliasedExpr],
        mode: str,
    ) -> SparkDF:
        """``cube`` / ``rollup`` aggregation (extension — the reference has
        no grouping sets, SURVEY.md §2.6). Adds ``gid`` =
        ``grouping_id(*keys)`` (first key = most-significant bit, the same
        convention DuckDB's GROUPING_ID uses) so consumers can tell a
        subtotal row's NULL key from a genuine NULL key. Executes as one
        Expand + hash aggregate — partial aggregation applies per grouping
        set, one exchange total."""
        gb = data.cube(*keys) if mode == "cube" else data.rollup(*keys)
        cols = [self.translate_expr(a.expr).alias(a.out_name) for a in aggs]
        return gb.agg(F.grouping_id().cast("long").alias("gid"), *cols)

    def pivot_agg(
        self,
        data: SparkDF,
        keys: Sequence[str],
        pivot_col: str,
        values: Sequence[Any],
        aggs: Sequence[AliasedExpr],
    ) -> SparkDF:
        """Pivot with DECLARED values (extension — reference has no pivot,
        SURVEY.md §2.6). Compiled to CONDITIONAL AGGREGATION — each declared
        value becomes ``agg(CASE WHEN pivot=v THEN operand END)`` — rather
        than Spark's two-stage ``pivotfirst`` plan: ONE partial-agg →
        exchange → final-agg pass over ``keys`` (native pivot costs two
        exchanges), fixed output schema, no driver-side distinct scan.
        One agg → columns named exactly the values; k aggs →
        ``{value}_{alias}``. ``count`` yields 0 (SQL COUNT semantics) for a
        value absent from a group, where native pivot would yield null."""

        def wrap(node: Any, cond: Expr) -> Any:
            # push the pivot condition inside every Agg operand (aggs don't
            # nest, so recursion stops at the first Agg on each path)
            if isinstance(node, Agg):
                return Agg(WhenThenOtherwise(((cond, node.operand),), None), node.agg_type)
            if isinstance(node, AliasedExpr):
                return AliasedExpr(wrap(node.expr, cond), node.target)
            if isinstance(node, BinOp):
                return BinOp(wrap(node.left, cond), wrap(node.right, cond), node.op)
            if isinstance(node, FunctionCall):
                return FunctionCall(
                    node.name,
                    wrap(node.operand, cond),
                    tuple(wrap(a, cond) for a in node.args),
                    options=node.options,
                )
            return node

        cols = []
        for v in values:
            cond = BinOp(ColumnRef(pivot_col), Literal(v), "==")
            for a in aggs:
                name = str(v) if len(aggs) == 1 else f"{v}_{a.out_name}"
                cols.append(self.translate_expr(wrap(a.expr, cond)).alias(name))
        return data.groupBy(*keys).agg(*cols)

    def unpivot(
        self,
        data: SparkDF,
        ids: Sequence[str],
        values: Sequence[str],
        var_name: str,
        value_name: str,
    ) -> SparkDF:
        """Melt wide columns into (variable, value) rows — extension
        (reference has no pivot/melt, SURVEY.md §2.6). Spark's native
        ``unpivot`` is a narrow Expand (rows × len(values)) — no shuffle,
        no UDF; value columns are cast to their common promoted type by
        Spark, so callers should pre-cast mixed-type measures."""
        return data.unpivot(list(ids), list(values), var_name, value_name)

    def map_batches(self, data: SparkDF, fn: Callable, target: Any) -> SparkDF:
        """Arrow-batched partition-wise transform — the sanctioned escape
        hatch when built-in expressions can't say it (extension; the
        reference's equivalent escape is per-row ``iter_rows``+rebuild).
        Executes as ``mapInPandas``: each executor core streams its
        partition through ``fn`` as pandas batches (Arrow transfer, no
        driver involvement, no shuffle). ``fn`` takes ONE pandas.DataFrame
        and returns one with the TARGET schema's columns; output is
        schema-checked at the boundary by the caller."""
        from colnade_spark.conversion import to_struct_type

        out_type = to_struct_type(target)

        def _gen(batches):
            for pdf in batches:
                out = fn(pdf)
                if out is not None and len(out):
                    yield out[[f.name for f in out_type.fields]]

        return data.mapInPandas(_gen, schema=out_type)

    def cogroup_map(
        self,
        left: SparkDF,
        right: SparkDF,
        left_keys: Sequence[str],
        right_keys: Sequence[str],
        fn: Callable,
        target: Any,
    ) -> SparkDF:
        """Cogrouped TWO-table Arrow escape hatch — the one custom-op shape
        ``map_batches`` can't express: per-key logic that needs both
        tables' rows together (custom as-of merges, per-entity
        reconciliation, trajectory stitching). Executes as
        ``groupBy(keys).cogroup(other.groupBy(keys)).applyInPandas``:
        exactly one key-hash exchange per side (same shuffle bill as the
        equivalent join), then ``fn(left_pdf, right_pdf)`` runs
        executor-side per key group over Arrow batches — no driver
        involvement, no replicated data. Keys absent from one side arrive
        as an empty pandas frame (full-outer cogroup semantics). Extension:
        the reference has no two-table escape hatch at all (its escape is
        single-frame row iteration)."""
        import pandas as pd

        from colnade_spark.conversion import to_struct_type

        out_type = to_struct_type(target)
        names = [f.name for f in out_type.fields]

        def _apply(l_pdf, r_pdf):
            out = fn(l_pdf, r_pdf)
            if out is None or not len(out):
                return pd.DataFrame(columns=names)
            return out[names]

        return (
            left.groupBy(*[F.col(k) for k in left_keys])
            .cogroup(right.groupBy(*[F.col(k) for k in right_keys]))
            .applyInPandas(_apply, schema=out_type)
        )

    def explode(self, data: SparkDF, name: str, outer: bool) -> SparkDF:
        """Flatten a list column into one row per element, in place
        (extension — the reference has list_* element functions but no
        row-multiplying explode). Plans as a Generate node — narrow, no
        shuffle; ``outer`` keeps rows whose list is null/empty (null
        element), matching SQL UNNEST vs LEFT JOIN UNNEST."""
        fn = F.explode_outer if outer else F.explode
        return data.withColumn(name, fn(F.col(name)))

    def broadcast_hint(self, data: SparkDF) -> SparkDF:
        """Mark the frame for broadcast in subsequent joins (replicate to
        every executor instead of shuffling the big side). The typed lever
        for dimension tables above autoBroadcastJoinThreshold that the
        user KNOWS fit in executor memory."""
        return F.broadcast(data)

    def rename_project(self, data: SparkDF, mapping: dict[str, str]) -> SparkDF:
        """mapping: target name -> source column name in ``data``."""
        return data.select([F.col(src).alias(tgt) for tgt, src in mapping.items()])

    def concat(self, frames: Sequence[SparkDF]) -> SparkDF:
        return reduce(SparkDF.unionByName, frames)

    def set_op(self, left: SparkDF, right: SparkDF, op: str, all_: bool) -> SparkDF:
        """ANSI set operations (extension — the reference has only concat,
        SURVEY.md §2.6). Non-``all_`` forms carry SQL DISTINCT semantics.
        Both plan as one hash shuffle on all columns (Spark rewrites
        intersect/except to aggregated joins); ALL forms use count-matched
        semantics identical to DuckDB's INTERSECT ALL / EXCEPT ALL."""
        # align right columns by name so positional order never matters
        right = right.select(*left.columns)
        if op == "intersect":
            return left.intersectAll(right) if all_ else left.intersect(right)
        if op == "except":
            return left.exceptAll(right) if all_ else left.subtract(right)
        raise SchemaError(message=f"unknown set op {op!r}")

    def with_raw(self, data: SparkDF, fn: Callable[[SparkDF], SparkDF]) -> SparkDF:
        return fn(data)

    # ------------------------------------------------------------------
    # materialization boundaries (driver actions)
    # ------------------------------------------------------------------
    def collect_rows(self, data: SparkDF) -> list[Any]:
        return data.collect()

    def height(self, data: SparkDF) -> int:
        return data.count()

    def item(self, data: SparkDF, column: str | None) -> Any:
        rows = data.limit(2).collect()
        if len(rows) != 1:
            raise ValueError(f"item() requires exactly 1 row, got {len(rows)}")
        row = rows[0]
        if column is None:
            d = row.asDict()
            if len(d) != 1:
                raise ValueError(f"item() requires exactly 1 column, got {len(d)}")
            return next(iter(d.values()))
        return row[column]

    def iter_rows(self, data: SparkDF) -> Iterator[dict[str, Any]]:
        for row in data.toLocalIterator():
            yield row.asDict(recursive=True)

    # ------------------------------------------------------------------
    # arrow / construction
    # ------------------------------------------------------------------
    def to_batches(self, data: SparkDF) -> Iterator[Any]:
        return iter(data.toArrow().to_batches())

    def from_batches(self, batches: Iterable[Any], schema: Any) -> SparkDF:
        import pyarrow as pa

        from colnade_spark.session import get_spark

        # Spark 4 createDataFrame accepts a pyarrow.Table directly — no
        # pandas hop (which loses nullable-int dtypes and copies memory).
        table = pa.Table.from_batches(list(batches))
        # Arrow keeps per-column NULL counts, so a NULL in a declared
        # non-nullable column is a typed error here instead of PySpark's
        # untyped ValueError from inside createDataFrame
        nulls = [
            NullViolation(column=name, null_count=table.column(name).null_count)
            for name, col in schema._columns.items()
            if not col.nullable and name in table.column_names and table.column(name).null_count
        ]
        if nulls:
            raise SchemaError(
                message=f"NULLs in non-nullable columns of {schema.__name__}",
                null_violations=nulls,
            )
        return get_spark().createDataFrame(table, schema=to_struct_type(schema))

    def from_dict(self, data: dict[str, list[Any]], schema: Any) -> SparkDF:
        from colnade_spark.session import get_spark

        names = list(schema._columns)
        n = len(next(iter(data.values()))) if data else 0
        rows = [tuple(data[name][i] for name in names) for i in range(n)]
        return get_spark().createDataFrame(rows, schema=to_struct_type(schema))

    def from_rows(self, rows: Sequence[Any], schema: Any) -> SparkDF:
        from colnade_spark.session import get_spark

        import dataclasses as _dc

        names = list(schema._columns)
        tuples = [
            tuple(getattr(r, n) for n in names)
            if _dc.is_dataclass(r)
            else tuple(r[n] for n in names)
            for r in rows
        ]
        return get_spark().createDataFrame(tuples, schema=to_struct_type(schema))

    # ------------------------------------------------------------------
    # validation
    # ------------------------------------------------------------------
    def validate_schema(self, data: SparkDF, schema: Any) -> SchemaError:
        """Structural check: metadata-only schema compare, then NULL counts
        for the declared-non-nullable columns: from parquet footers when
        the frame is a bare scan, else ONE null-count job over the columns
        the footers cannot answer (never per-column jobs)."""
        err = SchemaError(message=f"structural validation failed for {schema.__name__}")
        actual = {f.name: f for f in data.schema.fields}
        declared = schema._columns
        for name in declared:
            if name not in actual:
                err.missing_columns.append(name)
        for name in actual:
            if name not in declared:
                err.extra_columns.append(name)
        for name, col in declared.items():
            if name in actual and not spark_type_compatible(col.dtype, actual[name].dataType):
                err.type_mismatches.append(
                    TypeMismatch(
                        column=name,
                        expected=str(to_spark_type(col.dtype)),
                        actual=str(actual[name].dataType),
                    )
                )
        # nullability: engine-reported nullable=False is a guarantee; only
        # columns the engine can't vouch for need counting
        nn_cols = [
            name
            for name, col in declared.items()
            if not col.nullable
            and name in actual
            and actual[name].nullable
            and not any(m.column == name for m in err.type_mismatches)
        ]
        if nn_cols:
            from colnade_spark.io import footer_null_counts

            counts = footer_null_counts(data, nn_cols)
            rest = [c for c in nn_cols if c not in counts]
            if rest:
                row = data.agg(*[F.count_if(F.col(c).isNull()).alias(c) for c in rest]).first()
                counts.update({c: row[c] or 0 for c in rest})
            for c in nn_cols:
                if counts[c] > 0:
                    err.null_violations.append(NullViolation(column=c, null_count=counts[c]))
        return err

    def validate_values(self, data: SparkDF, schema: Any) -> SchemaError:
        """FULL check: all Field() constraints + @schema_check invariants +
        unsigned ge=0 checks folded into ONE aggregation pass; a second
        bounded job fetches sample values only when violations exist."""
        err = SchemaError(message=f"value validation failed for {schema.__name__}")
        checks: list[tuple[str, str, Any]] = []  # (column, constraint, violated_pred)
        uniques: list[str] = []

        for name, col in schema._columns.items():
            c = F.col(name)
            fi = col._field_info
            constraints = fi.constraints() if fi is not None else []
            if isinstance(col.dtype, type) and issubclass(
                col.dtype, dt.UnsignedIntegerType
            ):
                if not any(k == "ge" for k, _ in constraints):
                    constraints.append(("ge", 0))
            for kind, param in constraints:
                if kind == "ge":
                    pred = c < param
                elif kind == "gt":
                    pred = c <= param
                elif kind == "le":
                    pred = c > param
                elif kind == "lt":
                    pred = c >= param
                elif kind == "min_length":
                    pred = F.length(c) < param
                elif kind == "max_length":
                    pred = F.length(c) > param
                elif kind == "pattern":
                    # regex SEARCH semantics (unanchored), like the reference
                    pred = ~c.rlike(param) & c.isNotNull()
                elif kind == "isin":
                    pred = ~c.isin(list(param)) & c.isNotNull()
                elif kind == "unique":
                    uniques.append(name)
                    continue
                else:  # pragma: no cover
                    raise SchemaError(message=f"unknown constraint {kind!r}")
                checks.append((name, kind, pred))

        check_exprs = [F.count_if(pred).alias(f"c{i}") for i, (_, _, pred) in enumerate(checks)]
        # uniqueness in the same pass: dup_count = count(col) - countDistinct(col)
        check_exprs += [
            (F.count(F.col(u)) - F.countDistinct(F.col(u))).alias(f"u{i}")
            for i, u in enumerate(uniques)
        ]
        sc_checks = list(getattr(schema, "_schema_checks", []))
        sc_preds = []
        for chk in sc_checks:
            node = chk.fn(schema)
            sc_preds.append(~self.translate_expr(node))
        check_exprs += [F.count_if(p).alias(f"s{i}") for i, p in enumerate(sc_preds)]

        if not check_exprs:
            return err
        counts = data.agg(*check_exprs).first()

        sample_needed: list[tuple[str, str, Any, int]] = []
        for i, (name, kind, pred) in enumerate(checks):
            n = counts[f"c{i}"] or 0
            if n > 0:
                sample_needed.append((name, kind, pred, int(n)))
        for i, u in enumerate(uniques):
            n = counts[f"u{i}"] or 0
            if n > 0:
                dups = [
                    r[u]
                    for r in data.groupBy(u)
                    .count()
                    .filter(F.col("count") > 1)
                    .limit(5)
                    .collect()
                ]
                err.value_violations.append(
                    ValueViolation(
                        column=u,
                        constraint="unique",
                        got_count=int(n),
                        sample_values=tuple(dups),
                    )
                )
        for i, chk in enumerate(sc_checks):
            n = counts[f"s{i}"] or 0
            if n > 0:
                err.value_violations.append(
                    ValueViolation(
                        column="<schema>",
                        constraint=f"schema_check:{chk.name}",
                        got_count=int(n),
                    )
                )
        for name, kind, pred, n in sample_needed:
            samples = tuple(
                r[name] for r in data.filter(pred).select(name).limit(5).collect()
            )
            err.value_violations.append(
                ValueViolation(
                    column=name, constraint=kind, got_count=n, sample_values=samples
                )
            )
        return err

    # ------------------------------------------------------------------
    def _run_assertions(self, data: SparkDF, expr: Any) -> None:
        """Eagerly verify assert_non_null operands (one cheap existence probe
        per assertion; LIMIT 1 short-circuits the scan)."""
        for operand in collect_assertions(expr):
            c = self.translate_expr(operand)
            hit = data.filter(c.isNull()).limit(1).count()
            if hit:
                raise SchemaError(
                    message="assert_non_null failed: null value encountered",
                    null_violations=[NullViolation(column=str(operand), null_count=1)],
                )
