"""Backend-divergent semantics pinned explicitly (SURVEY.md §7.4): the
reference's engines disagree on these, so OUR choice is documented here as
executable truth.

- sort: nulls LAST regardless of direction (Polars default; Spark's native
  default is nulls-first-on-asc)
- is_nan: null propagates (Polars); raw Spark isnan(null) is false
- str_replace: replaces ALL occurrences (Pandas/Spark-natural; Polars
  replaces first only)
- %: sign follows the dividend (Java/C semantics)
- list.len on a null array: null (not Spark's legacy -1)
"""

from __future__ import annotations

import math

from colnade_spark.dataframe import DataFrame
from colnade_spark.dtypes import Float64, Int64, List, Utf8
from colnade_spark.schema import Column, Schema


class Mixed(Schema):
    id: Column[Int64]
    x: Column[Float64 | None]
    s: Column[Utf8]
    xs: Column[List[Int64] | None]


def _frame(spark) -> DataFrame[Mixed]:
    return DataFrame.from_dict(
        {
            "id": [1, 2, 3, 4],
            "x": [5.0, None, float("nan"), -1.5],
            "s": ["aXbXc", "none", "X", ""],
            "xs": [[1, 2], None, [], [3]],
        },
        Mixed,
    )


def test_sort_nulls_last_both_directions(spark):
    f = _frame(spark)
    asc = [r.x for r in f.sort(Mixed.x).rows()]
    assert asc[-1] is None and asc[0] == -1.5
    desc = [r.x for r in f.sort(Mixed.x.desc()).rows()]
    assert desc[-1] is None
    assert math.isnan(desc[0])  # Spark & Polars: NaN sorts greatest


def test_is_nan_propagates_null(spark):
    f = _frame(spark).with_columns(Mixed.x.is_nan().alias("nan_flag"))
    got = {r.id: r.nan_flag for r in f.native.collect()}
    assert got[1] is False
    assert got[2] is None  # null in → null out (Polars semantics)
    assert got[3] is True


def test_str_replace_replaces_all(spark):
    f = _frame(spark).with_columns(Mixed.s.str_replace("X", "-").alias("rep"))
    got = {r.id: r.rep for r in f.native.collect()}
    assert got[1] == "a-b-c"
    assert got[3] == "-"


def test_modulo_sign_of_dividend(spark):
    f = _frame(spark).with_columns(
        ((0 - Mixed.id) % 3).alias("neg_mod"), (Mixed.id % 3).alias("pos_mod")
    )
    got = {r.id: (r.neg_mod, r.pos_mod) for r in f.native.collect()}
    assert got[1] == (-1, 1)
    assert got[2] == (-2, 2)
    assert got[3] == (0, 0)


def test_eq_missing_null_safe(spark):
    """eq_missing: null <=> null TRUE, null <=> value FALSE, never null —
    vs == which propagates null."""
    f = _frame(spark).with_columns(
        Mixed.x.eq_missing(5.0).alias("em5"),
        (Mixed.x == 5.0).alias("eq5"),
    )
    got = {r.id: (r.em5, r.eq5) for r in f.native.collect()}
    assert got[1] == (True, True)  # x=5.0
    assert got[2] == (False, None)  # x=null: eq_missing False, == null


def test_division_and_modulo_by_zero_yield_null(spark):
    """Zero divisors give NULL (SQL / DuckDB-oracle semantics via
    try_divide/try_mod), NOT an ANSI job failure and NOT the float
    engines' inf/nan — a documented divergence from the reference's
    Polars/Pandas backends. A single bad row must never kill a 100 TB
    job."""
    f = _frame(spark).with_columns(
        (Mixed.id / (Mixed.id - Mixed.id)).alias("dz"),
        (Mixed.id % (Mixed.id - Mixed.id)).alias("mz"),
        (Mixed.id / Mixed.id).alias("ok"),
    )
    got = {r.id: (r.dz, r.mz, r.ok) for r in f.native.collect()}
    assert got[1] == (None, None, 1.0)
    assert got[2] == (None, None, 1.0)


def test_list_len_null_array_is_null(spark):
    f = _frame(spark).with_columns(Mixed.xs.list.len().alias("n"))
    got = {r.id: r.n for r in f.native.collect()}
    assert got[1] == 2
    assert got[2] is None  # not legacy -1
    assert got[3] == 0


def test_fill_nan_only_touches_nan(spark):
    f = _frame(spark).with_columns(Mixed.x.fill_nan(0.0).alias("fx"))
    got = {r.id: r.fx for r in f.native.collect()}
    assert got[1] == 5.0  # plain value unchanged
    assert got[2] is None  # null untouched (fill_nan ≠ fill_null)
    assert got[3] == 0.0  # NaN filled
    assert got[4] == -1.5


def test_str_extract_empty_capture_is_null(spark):
    """str_extract collapses '' to NULL symmetrically with the DuckDB
    NULLIF(regexp_extract(..), '') oracle convention: no-match -> NULL,
    and a MATCH whose capture group is empty (e.g. '(a*)' on 'xbc', or an
    alternation where the group doesn't participate) -> NULL too."""
    f = _frame(spark).with_columns(
        Mixed.s.str_extract("(X*)", 1).alias("star"),  # matches, may be empty
        Mixed.s.str_extract("(q+)", 1).alias("none"),  # never matches
    )
    rows = f.native.collect()
    star = {r.id: r.star for r in rows}
    none = {r.id: r.none for r in rows}
    # 'aXbXc' -> '(X*)' first match at pos 0 is empty -> NULL (was '')
    assert star[1] is None
    # 'X' -> first match is 'X' (non-empty) -> kept
    assert star[3] == "X"
    # '' -> empty match -> NULL
    assert star[4] is None
    assert set(none.values()) == {None}


def test_ansi_runtime_error_keeps_its_class_without_call_sites(spark):
    """The session skips PySpark's per-call call-site capture
    (``spark.python.sql.dataFrameDebugging.enabled=false``); an ANSI
    runtime error still arrives as the typed PySpark exception with its
    error class."""
    import pytest
    from pyspark.errors import ArithmeticException

    from colnade_spark.dtypes import Int32

    assert spark.conf.get("spark.python.sql.dataFrameDebugging.enabled") == "false"
    f = DataFrame.from_dict({"id": [2**40], "x": [None], "s": ["a"], "xs": [None]}, Mixed)
    with pytest.raises(ArithmeticException) as ei:
        f.with_columns(Mixed.id.cast(Int32).alias("narrow")).native.collect()
    assert ei.value.getCondition() == "CAST_OVERFLOW"
