"""Sentinel dtype classes for the typed schema layer.

Dtypes are classes that carry no data; they exist so that ``Column[Int64]``
annotations can be introspected at class-creation time and mapped onto
``pyspark.sql.types`` (see ``colnade_spark.conversion``).

Semantics mirror the reference implementation's dtype lattice
(reference: src/colnade/dtypes.py:20-166): category bases ``NumericType`` /
``IntegerType`` / ``FloatType`` / ``TemporalType`` gate which expression
methods are allowed on a column, and ``Struct[S]`` / ``List[T]`` are
parameterized recursively.

Spark notes (design decisions, SURVEY.md §1.2):
- Spark has no unsigned integer types. Unsigned dtypes are *widened* on the
  Spark side (UInt8→Short, UInt16→Int, UInt32→Long, UInt64→Long) and a
  ``ge=0`` value check is applied when FULL validation is enabled. UInt64
  values above 2**63-1 are unsupported (documented overflow caveat).
- Spark has no TIME type; ``Time`` maps to LongType microseconds-since-
  midnight.
"""

from __future__ import annotations

from typing import TYPE_CHECKING, Any

if TYPE_CHECKING:
    from colnade_spark.schema import Schema


class DType:
    """Base of all sentinel dtypes. Never instantiated."""

    def __init__(self) -> None:  # pragma: no cover - defensive
        raise TypeError("dtypes are sentinel classes; do not instantiate")


class NumericType(DType):
    """Types supporting arithmetic and numeric aggregation."""


class IntegerType(NumericType):
    """Signed and unsigned integers."""


class SignedIntegerType(IntegerType):
    pass


class UnsignedIntegerType(IntegerType):
    pass


class FloatType(NumericType):
    pass


class TemporalType(DType):
    pass


class Bool(DType):
    pass


class Int8(SignedIntegerType):
    pass


class Int16(SignedIntegerType):
    pass


class Int32(SignedIntegerType):
    pass


class Int64(SignedIntegerType):
    pass


class UInt8(UnsignedIntegerType):
    pass


class UInt16(UnsignedIntegerType):
    pass


class UInt32(UnsignedIntegerType):
    pass


class UInt64(UnsignedIntegerType):
    pass


class Float32(FloatType):
    pass


class Float64(FloatType):
    pass


class Utf8(DType):
    pass


class Binary(DType):
    pass


class Date(TemporalType):
    pass


class Time(TemporalType):
    pass


class Datetime(TemporalType):
    pass


class Duration(TemporalType):
    pass


class _DecimalMeta(type):
    _cache: dict[Any, type] = {}

    def __getitem__(cls, args: tuple[int, int]) -> type[Decimal]:
        precision, scale = args
        key = (precision, scale)
        if key not in _DecimalMeta._cache:
            sub = type(
                f"Decimal[{precision},{scale}]",
                (Decimal,),
                {"precision": precision, "scale": scale},
            )
            _DecimalMeta._cache[key] = sub
        return _DecimalMeta._cache[key]  # type: ignore[return-value]


class Decimal(NumericType, metaclass=_DecimalMeta):
    """Exact decimal, parameterized ``Decimal[precision, scale]``.

    EXTENSION beyond the reference dtype set (reference has no Decimal,
    SURVEY.md §1.2): Spark's DecimalType enables exact, order-independent
    aggregation of monetary columns — the scale-safe way to sum 100 TB of
    doubles without nondeterministic float accumulation.
    """

    precision: int = 38
    scale: int = 18


class _StructMeta(type):
    _cache: dict[Any, type] = {}

    def __getitem__(cls, schema: type[Schema]) -> type[Struct]:
        key = (cls, schema)
        if key not in _StructMeta._cache:
            sub = type(f"Struct[{schema.__name__}]", (Struct,), {"schema": schema})
            _StructMeta._cache[key] = sub
        return _StructMeta._cache[key]  # type: ignore[return-value]


class Struct(DType, metaclass=_StructMeta):
    """Nested struct dtype parameterized by a Schema class: ``Struct[Address]``."""

    schema: type[Schema] | None = None


class _ListMeta(type):
    _cache: dict[Any, type] = {}

    def __getitem__(cls, element: Any) -> type[List]:
        key = (cls, _dtype_key(element))
        if key not in _ListMeta._cache:
            name = getattr(element, "__name__", repr(element))
            sub = type(f"List[{name}]", (List,), {"element": element})
            _ListMeta._cache[key] = sub
        return _ListMeta._cache[key]  # type: ignore[return-value]


class List(DType, metaclass=_ListMeta):
    """List dtype parameterized by an element dtype: ``List[Utf8]``.

    Nullable elements are expressed as ``List[Float64 | None]``.
    """

    element: Any = None


class _MapMeta(type):
    _cache: dict[Any, type] = {}

    def __getitem__(cls, args: tuple[Any, Any]) -> type[Map]:
        key_dt, val_dt = args
        key = (cls, _dtype_key(key_dt), _dtype_key(val_dt))
        if key not in _MapMeta._cache:
            kn = getattr(key_dt, "__name__", repr(key_dt))
            vn = getattr(val_dt, "__name__", repr(val_dt))
            sub = type(
                f"Map[{kn},{vn}]", (Map,), {"key": key_dt, "value": val_dt}
            )
            _MapMeta._cache[key] = sub
        return _MapMeta._cache[key]  # type: ignore[return-value]


class Map(DType, metaclass=_MapMeta):
    """Map dtype parameterized ``Map[KeyDType, ValueDType]``, e.g.
    ``Map[Utf8, Int64]``; nullable values via ``Map[Utf8, Int64 | None]``
    (map KEYS are never null in Spark). EXTENSION beyond the reference
    dtype set (SURVEY.md §1.2 — the reference has no Map dtype)."""

    key: Any = None
    value: Any = None


def _dtype_key(dt: Any) -> Any:
    """Hashable cache key for possibly-union dtype arguments."""
    args = strip_nullable(dt)
    if args is not None:
        inner, nullable = args
        if nullable:
            return ("nullable", inner)
    return dt


def strip_nullable(dt: Any) -> tuple[Any, bool] | None:
    """Split ``T | None`` into ``(T, True)``; plain ``T`` → ``(T, False)``.

    Returns None if ``dt`` is not a dtype-ish object at all.
    """
    import types as _types
    import typing as _typing

    if isinstance(dt, (_types.UnionType,)) or _typing.get_origin(dt) is _typing.Union:
        args = [a for a in _typing.get_args(dt) if a is not type(None)]
        if len(args) != 1:
            raise TypeError(f"unsupported union dtype: {dt!r}")
        return args[0], True
    if isinstance(dt, type) and issubclass(dt, DType):
        return dt, False
    return None


def is_numeric(dt: type[DType]) -> bool:
    return isinstance(dt, type) and issubclass(dt, NumericType)


def is_float(dt: type[DType]) -> bool:
    return isinstance(dt, type) and issubclass(dt, FloatType)


def is_temporal(dt: type[DType]) -> bool:
    return isinstance(dt, type) and issubclass(dt, TemporalType)


def dtype_name(dt: Any) -> str:
    return getattr(dt, "__name__", repr(dt))
