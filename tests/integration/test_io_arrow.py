"""I/O round-trips (parquet + CSV) and the typed Arrow boundary
(model: reference tests/integration/test_*_io.py, test_arrow_boundary.py)."""

from __future__ import annotations

import pytest

from colnade_spark import (
    DataFrame,
    read_csv,
    read_parquet,
    scan_csv,
    write_csv,
    write_parquet,
)
from colnade_spark.dtypes import Float64, Int64, List, Utf8
from colnade_spark.errors import SchemaError
from colnade_spark.schema import Column, Schema
from colnade_spark.tpch import Customer, table_path


class Users(Schema):
    id: Column[Int64]
    name: Column[Utf8]
    score: Column[Float64 | None]


DATA = {"id": [1, 2, 3], "name": ["a", "b", "c"], "score": [1.5, None, 3.5]}


def test_parquet_round_trip(spark, tmp_path):
    df = DataFrame.from_dict(DATA, Users)
    p = str(tmp_path / "users.parquet")
    write_parquet(df, p)
    back = read_parquet(p, Users, spark=spark)
    assert sorted(r.id for r in back.rows()) == [1, 2, 3]
    assert back.filter(Users.score.is_null()).height == 1


def test_parquet_partitioned_write(spark, tmp_path):
    df = DataFrame.from_dict(DATA, Users)
    p = str(tmp_path / "part.parquet")
    write_parquet(df, p, partition_by=[Users.name])
    import os

    assert any(d.startswith("name=") for d in os.listdir(p))


def test_csv_round_trip(spark, tmp_path):
    df = DataFrame.from_dict(DATA, Users)
    p = str(tmp_path / "users_csv")
    write_csv(df, p)
    back = read_csv(p, Users, spark=spark)
    assert back.height == 3
    lazy = scan_csv(p, Users, spark=spark)
    assert lazy.collect().height == 3


def test_from_rows(spark):
    rows = [Users.Row(id=1, name="a", score=2.0), Users.Row(id=2, name="b")]
    df = DataFrame.from_rows(rows, Users)
    assert df.height == 2


def test_iter_rows_as(spark):
    class Plain:
        def __init__(self, **kw):
            self.__dict__.update(kw)

    df = DataFrame.from_dict(DATA, Users)
    objs = list(df.iter_rows_as(Plain))
    assert {o.id for o in objs} == {1, 2, 3}


def test_arrow_round_trip(spark):
    df = DataFrame.from_dict(DATA, Users)
    batches = list(df.to_batches())
    assert all(b.schema is Users for b in batches)
    assert sum(b.num_rows for b in batches) == 3
    back = DataFrame.from_batches(batches, Users)
    assert back.height == 3


def test_from_batches_preserves_nullable_ints(spark):
    """Regression: the old pandas hop turned nullable int64 into float64
    (nulls became NaN). The direct pyarrow.Table path must preserve both
    the dtype and the nulls."""
    import pyarrow as pa

    class MaybeInts(Schema):
        id: Column[Int64]
        v: Column[Int64 | None]

    batch = pa.RecordBatch.from_pydict(
        {
            "id": pa.array([1, 2, 3], pa.int64()),
            "v": pa.array([10, None, 30], pa.int64()),
        }
    )
    df = DataFrame.from_batches([batch], MaybeInts)
    assert dict(df.native.dtypes)["v"] == "bigint"
    rows = {r.id: r.v for r in df.rows()}
    assert rows == {1: 10, 2: None, 3: 30}


def test_from_batches_null_in_non_nullable_column_is_a_schema_error(spark):
    """A NULL in a declared non-null column raises SchemaError with the
    column's NULL count at every validation level, not PySpark's
    untyped ValueError from createDataFrame."""
    import pyarrow as pa

    from colnade_spark.errors import NullViolation
    from colnade_spark.validation import ValidationLevel, set_validation

    class MaybeInts(Schema):
        id: Column[Int64]
        v: Column[Int64 | None]

    batch = pa.RecordBatch.from_pydict(
        {
            "id": pa.array([1, None, None], pa.int64()),
            "v": pa.array([None, None, 30], pa.int64()),
        }
    )
    for level in ValidationLevel:
        set_validation(level)
        with pytest.raises(SchemaError) as ei:
            DataFrame.from_batches([batch], MaybeInts)
        assert ei.value.null_violations == [NullViolation(column="id", null_count=2)]


def test_arrow_batch_name_validation(spark):
    import pyarrow as pa

    from colnade_spark.arrow import ArrowBatch

    bad = pa.RecordBatch.from_pydict({"wrong": [1]})
    with pytest.raises(SchemaError):
        ArrowBatch(bad, Users)


def test_list_column_round_trip(spark, tmp_path):
    class Tagged(Schema):
        id: Column[Int64]
        tags: Column[List[Utf8]]

    df = DataFrame.from_dict({"id": [1, 2], "tags": [["a", "b"], ["c"]]}, Tagged)
    p = str(tmp_path / "tags.parquet")
    write_parquet(df, p)
    back = read_parquet(p, Tagged, spark=spark)
    out = back.with_columns(Tagged.tags.list.len().alias("n"))
    assert {r["n"] for r in out.native.select("n").collect()} == {1, 2}


def test_read_real_testdata_validates(spark, sf_dir):
    from colnade_spark import set_validation
    from colnade_spark.validation import ValidationLevel

    set_validation(ValidationLevel.STRUCTURAL)
    try:
        df = read_parquet(table_path(sf_dir, "customer"), Customer, spark=spark)
        assert df.height > 0
    finally:
        set_validation(ValidationLevel.OFF)


def test_json_round_trip(spark, sf_dir, tmp_path):
    import colnade_spark as cs

    src = cs.read_parquet(table_path(sf_dir, "customer"), Customer, spark=spark)
    path = str(tmp_path / "cust_json")
    cs.write_json(src, path)
    back = cs.read_json(path, Customer, spark=spark)
    assert back.height == src.height
    a = sorted(tuple(r) for r in src.native.collect())
    b = sorted(tuple(r) for r in back.native.collect())
    assert a == b


def test_orc_round_trip(spark, sf_dir, tmp_path):
    import colnade_spark as cs

    src = cs.read_parquet(table_path(sf_dir, "customer"), Customer, spark=spark)
    path = str(tmp_path / "cust_orc")
    cs.write_orc(src, path)
    back = cs.read_orc(path, Customer, spark=spark)
    assert back.height == src.height
    a = sorted(tuple(r) for r in src.native.collect())
    b = sorted(tuple(r) for r in back.native.collect())
    assert a == b


def test_orc_scan_pushdown(spark, sf_dir, tmp_path):
    """Filters and projections must reach the ORC scan like parquet."""
    import io as _io
    import contextlib

    import colnade_spark as cs

    src = cs.read_parquet(table_path(sf_dir, "customer"), Customer, spark=spark)
    path = str(tmp_path / "cust_orc_scan")
    cs.write_orc(src, path)
    lazy = cs.scan_orc(path, Customer, spark=spark)
    f = lazy.filter(Customer.c_acctbal > 1000.0).select(
        Customer.c_custkey, Customer.c_acctbal
    )
    buf = _io.StringIO()
    with contextlib.redirect_stdout(buf):
        f.explain("formatted")
    plan = buf.getvalue()
    assert "PushedFilters:" in plan
    pushed = plan.split("PushedFilters:")[1].splitlines()[0]
    assert "c_acctbal" in pushed
    rs = [l for l in plan.splitlines() if "ReadSchema" in l][0]
    assert "c_custkey" in rs and "c_mktsegment" not in rs


def test_partitioned_write_prunes_partitions(spark, sf_dir, tmp_path):
    """A filter on the partition column must prune directories at planning
    time (PartitionFilters on the scan), not read-then-filter."""
    import io as _io
    import contextlib

    import colnade_spark as cs
    from colnade_spark.tpch import Orders

    src = cs.read_parquet(table_path(sf_dir, "orders"), Orders, spark=spark)
    path = str(tmp_path / "orders_part")
    cs.write_parquet(src, path, partition_by=[Orders.o_orderpriority])
    back = cs.scan_parquet(path, Orders, spark=spark)
    f = back.filter(Orders.o_orderpriority == "1-URGENT")
    buf = _io.StringIO()
    with contextlib.redirect_stdout(buf):
        f.explain("formatted")
    plan = buf.getvalue()
    pf = [l for l in plan.splitlines() if "PartitionFilters" in l]
    assert pf and "o_orderpriority" in pf[0]
    # and the result is right
    want = src.filter(Orders.o_orderpriority == "1-URGENT").height
    assert f.collect().height == want


def test_sorted_write_produces_sorted_row_groups(spark, sf_dir, tmp_path):
    """sort_by layout: every parquet file's c_custkey column is
    non-decreasing, so row-group min/max stats are selective."""
    import glob

    import pyarrow.parquet as pq_

    import colnade_spark as cs

    src = cs.read_parquet(table_path(sf_dir, "customer"), Customer, spark=spark)
    path = str(tmp_path / "cust_sorted")
    cs.write_parquet(src, path, sort_by=[Customer.c_custkey])
    files = glob.glob(f"{path}/*.parquet")
    assert files
    for f in files:
        col = pq_.read_table(f, columns=["c_custkey"])["c_custkey"].to_pylist()
        assert col == sorted(col)


def test_zorder_key_matches_python_model(spark):
    import colnade_spark as cs

    df = spark.createDataFrame(
        [(x, y) for x in range(8) for y in range(8)], ["x", "y"]
    )
    got = {
        (r.x, r.y): r.z
        for r in df.withColumn("z", cs.io.zorder_key(["x", "y"], bits=3)).collect()
    }

    def morton(x, y, bits=3):
        z = 0
        for b in range(bits):
            z |= ((x >> b) & 1) << (2 * b) | ((y >> b) & 1) << (2 * b + 1)
        return z

    assert got == {(x, y): morton(x, y) for x in range(8) for y in range(8)}
    import pytest as _pt

    with _pt.raises(ValueError):
        cs.io.zorder_key(["x"], bits=3)
    with _pt.raises(ValueError):
        cs.io.zorder_key(["x", "y"], bits=40)


def test_compact_parquet_reduces_files(spark, sf_dir, tmp_path):
    import glob

    import colnade_spark as cs

    from colnade_spark.tpch import Orders

    src_frame = cs.read_parquet(table_path(sf_dir, "orders"), Orders, spark=spark)
    frag = str(tmp_path / "frag")
    # fragment: 40 tiny files
    src_frame.native.repartition(40).write.parquet(frag)
    assert len(glob.glob(f"{frag}/*.parquet")) == 40
    out = str(tmp_path / "compact")
    n = cs.io.compact_parquet(frag, out, target_mb=512)
    files = glob.glob(f"{out}/*.parquet")
    assert len(files) == n == 1
    a = spark.read.parquet(frag).count()
    assert spark.read.parquet(out).count() == a


def test_csv_and_json_quarantine(spark, tmp_path):
    """Malformed-row quarantine: clean rows come back typed, broken rows
    come back as raw text (not silently null-filled); the split is
    exhaustive."""
    import colnade_spark as cs
    from colnade_spark import Column, Int64, Schema, Utf8

    class Rec(Schema):
        rid: Column[Int64]
        name: Column[Utf8]

    csv = tmp_path / "in.csv"
    csv.write_text(
        "rid,name\n"
        "1,alice\n"
        "not_a_number,bob\n"      # type mismatch -> quarantined
        "3,carol\n"
        "5,dave,extra,columns\n"  # token-count mismatch -> quarantined
    )
    good, bad = cs.read_csv_quarantine(str(csv), Rec, spark=spark)
    assert sorted((r.rid, r.name) for r in good.rows()) == [(1, "alice"), (3, "carol")]
    bad_raw = sorted(r.raw_record for r in bad.collect())
    assert len(bad_raw) == 2
    assert any("not_a_number" in b for b in bad_raw)
    assert any("extra,columns" in b for b in bad_raw)

    js = tmp_path / "in.jsonl"
    js.write_text(
        '{"rid": 1, "name": "alice"}\n'
        'this is not json\n'
        '{"rid": "NaNo", "name": "bob"}\n'
        '{"rid": 3, "name": "carol"}\n'
    )
    good_j, bad_j = cs.read_json_quarantine(str(js), Rec, spark=spark)
    assert sorted((r.rid, r.name) for r in good_j.rows()) == [
        (1, "alice"),
        (3, "carol"),
    ]
    raws = [r.raw_record for r in bad_j.collect()]
    assert len(raws) == 2 and any("not json" in r for r in raws)
