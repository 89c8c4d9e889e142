"""Structural + FULL validation against Spark (model: reference
tests/integration/test_field_validation_*.py). The key scale property: the
clean path issues ONE aggregation job for all constraints, and structural
NULL counts come from parquet footers when the frame is a bare scan, else
from one null-count job."""

from __future__ import annotations

import pytest

from colnade_spark import DataFrame, Field, schema_check, set_validation
from colnade_spark.dtypes import Float64, Int64, List, Struct, UInt32, Utf8
from colnade_spark.errors import SchemaError
from colnade_spark.schema import Column, Schema
from colnade_spark.validation import ValidationLevel


class Users(Schema):
    id: Column[Int64] = Field(unique=True)
    name: Column[Utf8] = Field(min_length=1, max_length=100)
    age: Column[UInt32] = Field(ge=0, le=150)
    score: Column[Float64 | None] = Field(ge=0.0, le=100.0)


class Ranged(Schema):
    lo: Column[Int64]
    hi: Column[Int64]

    @schema_check
    def ordered(cls):
        return cls.lo <= cls.hi


CLEAN = {
    "id": [1, 2, 3],
    "name": ["a", "b", "c"],
    "age": [10, 20, 30],
    "score": [1.0, None, 99.0],
}


def test_validate_clean_passes(spark):
    DataFrame.from_dict(CLEAN, Users).validate()


def test_unique_violation(spark):
    df = DataFrame.from_dict({**CLEAN, "id": [1, 1, 2]}, Users)
    with pytest.raises(SchemaError) as ei:
        df.validate()
    v = next(x for x in ei.value.value_violations if x.constraint == "unique")
    assert v.column == "id" and v.got_count == 1
    assert 1 in v.sample_values


def test_bound_violations_with_samples(spark):
    df = DataFrame.from_dict({**CLEAN, "score": [150.0, -5.0, 50.0]}, Users)
    with pytest.raises(SchemaError) as ei:
        df.validate()
    kinds = {(v.column, v.constraint): v for v in ei.value.value_violations}
    assert kinds[("score", "le")].got_count == 1
    assert 150.0 in kinds[("score", "le")].sample_values
    assert kinds[("score", "ge")].got_count == 1


def test_length_violation(spark):
    df = DataFrame.from_dict({**CLEAN, "name": ["", "ok", "x"]}, Users)
    with pytest.raises(SchemaError) as ei:
        df.validate()
    assert any(
        v.column == "name" and v.constraint == "min_length"
        for v in ei.value.value_violations
    )


def test_unsigned_negative_caught(spark):
    # UInt32 is widened to LongType on Spark; FULL validation adds ge=0
    df = DataFrame.from_dict({**CLEAN, "age": [-1, 20, 30]}, Users)
    with pytest.raises(SchemaError) as ei:
        df.validate()
    assert any(
        v.column == "age" and v.constraint == "ge" for v in ei.value.value_violations
    )


def test_schema_check_invariant(spark):
    ok = DataFrame.from_dict({"lo": [1, 2], "hi": [2, 3]}, Ranged)
    ok.validate()
    bad = DataFrame.from_dict({"lo": [5, 2], "hi": [2, 3]}, Ranged)
    with pytest.raises(SchemaError) as ei:
        bad.validate()
    v = next(x for x in ei.value.value_violations)
    assert v.constraint == "schema_check:ordered" and v.got_count == 1


def test_structural_missing_and_extra_columns(spark):
    class Slim(Schema):
        id: Column[Int64]
        nope: Column[Utf8]

    df = DataFrame.from_dict(CLEAN, Users)
    err = df._backend.validate_schema(df.native, Slim)
    assert "nope" in err.missing_columns
    assert set(err.extra_columns) >= {"name", "age", "score"}


def test_structural_null_in_non_nullable(spark):
    class Strict(Schema):
        id: Column[Int64]
        name: Column[Utf8]  # declared non-nullable

    from colnade_spark.session import get_spark

    sp = get_spark()
    raw = sp.createDataFrame([(1, "a"), (2, None)], ["id", "name"])
    df = DataFrame(raw, Strict)
    err = df._backend.validate_schema(df.native, Strict)
    assert any(v.column == "name" and v.null_count == 1 for v in err.null_violations)


def test_boundary_validation_toggle(spark):
    set_validation(ValidationLevel.FULL)
    try:
        with pytest.raises(SchemaError):
            DataFrame.from_dict({**CLEAN, "id": [1, 1, 2]}, Users)
        set_validation(ValidationLevel.OFF)
        DataFrame.from_dict({**CLEAN, "id": [1, 1, 2]}, Users)  # no raise
    finally:
        set_validation(ValidationLevel.OFF)


def test_pattern_and_isin(spark):
    class Coded(Schema):
        code: Column[Utf8] = Field(pattern="^[A-Z]{3}", isin=["ABC-1", "XYZ-2", "bad"])

    ok = DataFrame.from_dict({"code": ["ABC-1", "XYZ-2"]}, Coded)
    ok.validate()
    bad = DataFrame.from_dict({"code": ["ABC-1", "bad"]}, Coded)
    with pytest.raises(SchemaError) as ei:
        bad.validate()
    assert any(v.constraint == "pattern" for v in ei.value.value_violations)


def test_assert_non_null(spark):
    class S(Schema):
        a: Column[Float64 | None]

    df = DataFrame.from_dict({"a": [1.0, None]}, S)
    with pytest.raises(SchemaError, match="assert_non_null"):
        df.with_columns((S.a.assert_non_null() + 1).alias("b"))
    clean = DataFrame.from_dict({"a": [1.0, 2.0]}, S)
    clean.with_columns((S.a.assert_non_null() + 1).alias("b"))


# -- NULL counts from parquet footers ----------------------------------------


class Flat(Schema):
    a: Column[Int64]
    b: Column[Utf8]
    c: Column[Float64]
    d: Column[Int64]


FLAT = ["a", "b", "c", "d"]


def _flat_files(path, n_files=3, **write_opts):
    """``n_files`` parquet files of 7 rows, 2-row row groups, NULLs
    planted in a, b and c (d is clean); returns the planted counts."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    path.mkdir(parents=True, exist_ok=True)
    planted = dict.fromkeys(FLAT, 0)
    for f in range(n_files):
        cols = {
            "a": [None if (i + f) % 3 == 0 else i for i in range(7)],
            "b": [None if i == f else f"s{i}" for i in range(7)],
            "c": [None if i % 2 else float(i) for i in range(7)],
            "d": list(range(7)),
        }
        for k, v in cols.items():
            planted[k] += sum(x is None for x in v)
        pq.write_table(pa.table(cols), str(path / f"part-{f}.parquet"), row_group_size=2, **write_opts)
    return planted


def _job_null_counts(data, cols):
    from pyspark.sql import functions as F

    row = data.agg(*[F.sum(F.col(c).isNull().cast("long")).alias(c) for c in cols]).first()
    return {c: row[c] or 0 for c in cols}


def _reported(data, schema):
    from colnade_spark.backend import SparkBackend

    err = SparkBackend().validate_schema(data, schema)
    assert not (err.missing_columns or err.extra_columns or err.type_mismatches)
    return {v.column: v.null_count for v in err.null_violations}


def _jobs_in(spark, group, fn):
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_footer_null_counts_equal_the_job(spark, tmp_path):
    from colnade_spark.io import footer_null_counts

    planted = _flat_files(tmp_path / "flat")
    data = spark.read.parquet(str(tmp_path / "flat")).select(*FLAT)
    assert len(data.inputFiles()) == 3
    assert footer_null_counts(data, FLAT) == _job_null_counts(data, FLAT) == planted
    assert min(planted[c] for c in "abc") > 0 and planted["d"] == 0
    # every planted NULL is reported with its exact count; the clean column is not
    assert _reported(data, Flat) == {c: n for c, n in planted.items() if n}


def test_footer_null_counts_clean_files_pass(spark, tmp_path):
    import pyarrow as pa
    import pyarrow.parquet as pq

    import colnade_spark as cs

    (tmp_path / "clean").mkdir()
    pq.write_table(pa.table({"a": [1, 2], "b": ["x", "y"], "c": [1.0, 2.0], "d": [3, 4]}),
                   str(tmp_path / "clean" / "f.parquet"))
    set_validation(ValidationLevel.STRUCTURAL)
    cs.scan_parquet(str(tmp_path / "clean"), Flat, spark=spark)  # no raise


def test_footer_null_counts_empty_directory_answers_zero(spark, tmp_path):
    from colnade_spark.conversion import to_struct_type
    from colnade_spark.io import footer_null_counts

    (tmp_path / "empty").mkdir()
    data = spark.read.schema(to_struct_type(Flat)).parquet(str(tmp_path / "empty"))
    assert footer_null_counts(data, FLAT) == dict.fromkeys(FLAT, 0)


def _filtered(spark, root):
    _flat_files(root / "t")
    return spark.read.parquet(str(root / "t")).filter("d > 2"), Flat, FLAT, None


def _computed(spark, root):
    from pyspark.sql import functions as F

    planted = _flat_files(root / "t")
    data = spark.read.parquet(str(root / "t")).withColumn("a", F.coalesce("a", F.lit(0)))
    return data, Flat, FLAT, {**planted, "a": 0}


def _partitioned(spark, root):
    import pyarrow as pa
    import pyarrow.parquet as pq

    for p in (1, 2):
        (root / "t" / f"p={p}").mkdir(parents=True)
        pq.write_table(pa.table({"a": [None, p], "b": ["x", None], "c": [1.0, 2.0], "d": [p, p]}),
                       str(root / "t" / f"p={p}" / "f.parquet"))
    return spark.read.parquet(str(root / "t")).select(*FLAT), Flat, FLAT, None


class Inner(Schema):
    s: Column[Int64 | None]


class Nested(Schema):
    a: Column[Int64]
    l: Column[List[Int64]]
    s: Column[Struct[Inner]]


def _nested_columns(spark, root):
    import pyarrow as pa
    import pyarrow.parquet as pq

    (root / "t").mkdir()
    # each leaf holds 2 NULLs (one inside the value, one row); only the
    # row is NULL. The struct's leaf is named like the struct itself.
    cols = {"a": [1, None, 3], "l": [[1, None], None, [3]], "s": [{"s": None}, None, {"s": 1}]}
    pq.write_table(pa.table(cols), str(root / "t" / "f.parquet"))
    return spark.read.parquet(str(root / "t")), Nested, ["l", "s"], {"l": 1, "s": 1}


def _missing_column(spark, root):
    import pyarrow as pa
    import pyarrow.parquet as pq

    from colnade_spark.conversion import to_struct_type

    planted = _flat_files(root / "t", n_files=1)
    pq.write_table(pa.table({"a": [1, 2], "b": ["x", "y"], "d": [5, 6]}), str(root / "t" / "no-c.parquet"))
    data = spark.read.schema(to_struct_type(Flat)).parquet(str(root / "t"))
    return data, Flat, ["c"], {**planted, "c": planted["c"] + 2}


def _no_statistics(spark, root):
    planted = _flat_files(root / "t", write_statistics=False)
    return spark.read.parquet(str(root / "t")), Flat, FLAT, planted


@pytest.mark.parametrize(
    "case", [_filtered, _computed, _partitioned, _nested_columns, _missing_column, _no_statistics],
    ids=lambda f: f.__name__.strip("_"),
)
def test_footer_null_counts_fall_back_to_the_job(spark, tmp_path, case):
    """Frames the footers cannot answer for: the listed columns are left
    out, the job counts them, and validation reports the same counts."""
    from colnade_spark.io import footer_null_counts

    data, schema, fallback, planted = case(spark, tmp_path)
    cols = list(schema._columns)
    assert not set(footer_null_counts(data, cols)) & set(fallback)
    want = _job_null_counts(data, cols)
    if planted is not None:
        assert want == {c: planted.get(c, want[c]) for c in cols}
    assert _reported(data, schema) == {c: n for c, n in want.items() if n}


def test_structural_validation_of_a_bare_scan_runs_no_job(spark, tmp_path):
    _flat_files(tmp_path / "flat")
    bare = spark.read.parquet(str(tmp_path / "flat")).select(*FLAT)
    assert _jobs_in(spark, "footer-bare", lambda: _reported(bare, Flat)) == 0
    # a filtered frame runs the one aggregation (AQE may split it in jobs)
    filtered = bare.filter("d > 2")
    one_agg = _jobs_in(spark, "footer-agg", lambda: _job_null_counts(filtered, FLAT))
    assert _jobs_in(spark, "footer-filtered", lambda: _reported(filtered, Flat)) == one_agg > 0
