"""Validation levels + literal type checks.

Three levels (reference: src/colnade/validation.py:39-99):

- ``OFF`` (default): zero runtime checks — production setting.
- ``STRUCTURAL``: column presence / dtype equality / nullability at data
  boundaries. On Spark the schema compare is metadata-only (free); the
  null counts of the non-nullable columns come from parquet footers when
  the frame is a bare scan, else from ONE generated aggregation job over
  the columns the footers cannot answer, never per-column jobs.
- ``FULL``: STRUCTURAL + ``Field()`` constraints + ``@schema_check``
  invariants, all folded into a single aggregation pass.

Level is set process-wide via ``set_validation()`` or the
``COLNADE_VALIDATE`` environment variable (off|structural|full).
"""

from __future__ import annotations

import datetime as _dt
import enum
import os
from typing import Any

from colnade_spark import dtypes as dt
from colnade_spark.errors import SchemaError


class ValidationLevel(enum.IntEnum):
    OFF = 0
    STRUCTURAL = 1
    FULL = 2


def _from_env() -> ValidationLevel:
    raw = os.environ.get("COLNADE_VALIDATE", "off").strip().lower()
    try:
        return ValidationLevel[raw.upper()]
    except KeyError:
        return ValidationLevel.OFF


_level: ValidationLevel = _from_env()


def get_validation() -> ValidationLevel:
    return _level


def set_validation(level: ValidationLevel | str) -> None:
    global _level
    if isinstance(level, str):
        level = ValidationLevel[level.upper()]
    _level = level


# -- dtype → acceptable Python literal types --------------------------------
# (reference: src/colnade/validation.py:109-215)
_PY_TYPES: dict[type, tuple[type, ...]] = {
    dt.Bool: (bool,),
    dt.Utf8: (str,),
    dt.Binary: (bytes,),
    dt.Date: (_dt.date,),
    dt.Time: (_dt.time,),
    dt.Datetime: (_dt.datetime,),
    dt.Duration: (_dt.timedelta,),
}


def python_types_for(dtype: Any) -> tuple[type, ...]:
    """Python types a literal may have to be compatible with ``dtype``."""
    stripped = dt.strip_nullable(dtype)
    if stripped is not None:
        dtype = stripped[0]
    if isinstance(dtype, type):
        if issubclass(dtype, dt.Decimal):
            import decimal

            return (int, float, decimal.Decimal)
        if issubclass(dtype, dt.IntegerType):
            return (int,)
        if issubclass(dtype, dt.FloatType):
            return (int, float)
        if issubclass(dtype, dt.List):
            return (list, tuple)
        if issubclass(dtype, dt.Struct):
            return (dict,)
        for base, types in _PY_TYPES.items():
            if issubclass(dtype, base):
                return types
    return (object,)


def check_literal_type(value: Any, dtype: Any, column: str) -> None:
    """Raise SchemaError when a literal's Python type cannot inhabit the
    column dtype (e.g. comparing an Int64 column to a str). Bool literals are
    rejected for non-Bool numeric columns (bool is an int subclass)."""
    if value is None:
        return
    allowed = python_types_for(dtype)
    if allowed == (object,):
        return
    if isinstance(value, bool) and bool not in allowed:
        raise SchemaError(
            message=f"literal {value!r} (bool) incompatible with column "
            f"{column!r} of dtype {dt.dtype_name(dtype)}"
        )
    if not isinstance(value, allowed):
        raise SchemaError(
            message=f"literal {value!r} ({type(value).__name__}) incompatible "
            f"with column {column!r} of dtype {dt.dtype_name(dtype)}"
        )
