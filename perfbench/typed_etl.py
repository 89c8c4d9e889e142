"""Typed schemas and chains for the ``typed_etl`` workload.

Each table gets a schema declared here with ``Field`` constraints and a
``@schema_check`` invariant that the generated data satisfies, so
validation runs its full value pass and finds nothing. Each chain has a
raw-PySpark twin whose optimized plan must equal the typed one; the
difference in their build times is the typed layer's driver overhead.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame as SparkDF
from pyspark.sql import Window
from pyspark.sql import functions as F

import colnade_spark as cs
from colnade_spark import Field, schema_check
from colnade_spark.dtypes import Datetime, Float32, Float64, Int32, Int64, List, Utf8
from colnade_spark.schema import Column, Schema
from colnade_spark.tpch import table_path
from perfbench.datagen import EVENT_TYPES, PART_TYPES, PRIORITIES, REGIONS, SEGMENTS


class RegionV(Schema):
    r_regionkey: Column[Int32] = Field(ge=0, le=4, unique=True)
    r_name: Column[Utf8] = Field(isin=REGIONS)

    @schema_check
    def key_in_range(cls):
        return cls.r_regionkey < 5


class NationV(Schema):
    n_nationkey: Column[Int32] = Field(ge=0, lt=25, unique=True)
    n_name: Column[Utf8] = Field(pattern="^NATION_[0-9]+$")
    n_regionkey: Column[Int32] = Field(ge=0, le=4)

    @schema_check
    def region_of_nation(cls):
        return cls.n_regionkey <= cls.n_nationkey


class CustomerV(Schema):
    c_custkey: Column[Int64] = Field(ge=0, unique=True)
    c_name: Column[Utf8] = Field(pattern="^Customer#[0-9]{9}$")
    c_nationkey: Column[Int32] = Field(ge=0, lt=25)
    c_acctbal: Column[Float64] = Field(ge=-1000.0, le=10000.0)
    c_mktsegment: Column[Utf8] = Field(isin=SEGMENTS)

    @schema_check
    def balance_bounded(cls):
        return cls.c_acctbal <= 10000.0


class SupplierV(Schema):
    s_suppkey: Column[Int64] = Field(ge=0, unique=True)
    s_name: Column[Utf8] = Field(pattern="^Supplier#[0-9]{9}$")
    s_nationkey: Column[Int32] = Field(ge=0, lt=25)
    s_acctbal: Column[Float64] = Field(ge=-1000.0, le=10000.0)

    @schema_check
    def balance_bounded(cls):
        return cls.s_acctbal >= -1000.0


class PartV(Schema):
    p_partkey: Column[Int64] = Field(ge=0, unique=True)
    p_name: Column[Utf8] = Field(min_length=3, max_length=32)
    p_brand: Column[Utf8] = Field(pattern="^Brand#[0-9]+$")
    p_type: Column[Utf8] = Field(isin=PART_TYPES)
    p_size: Column[Int32] = Field(ge=1, le=50)
    p_retailprice: Column[Float64] = Field(ge=900.0, lt=1000.0)

    @schema_check
    def price_above_size(cls):
        return cls.p_retailprice > cls.p_size


class OrdersV(Schema):
    o_orderkey: Column[Int64] = Field(ge=0, unique=True)
    o_custkey: Column[Int64] = Field(ge=0)
    o_orderstatus: Column[Utf8] = Field(isin=["F", "O", "P"])
    o_totalprice: Column[Float64] = Field(gt=0.0)
    o_orderdate: Column[Datetime]
    o_orderpriority: Column[Utf8] = Field(isin=PRIORITIES)

    @schema_check
    def price_positive(cls):
        return cls.o_totalprice > 0.0


class LineitemV(Schema):
    l_orderkey: Column[Int64] = Field(ge=0)
    l_partkey: Column[Int64] = Field(ge=0)
    l_suppkey: Column[Int64] = Field(ge=0)
    l_linenumber: Column[Int32] = Field(ge=1, le=7)
    l_quantity: Column[Float64] = Field(ge=1.0, le=50.0)
    l_extendedprice: Column[Float64] = Field(gt=0.0)
    l_discount: Column[Float64] = Field(ge=0.0, le=0.1)
    l_tax: Column[Float64] = Field(ge=0.0, le=0.08)
    l_returnflag: Column[Utf8] = Field(isin=["A", "N", "R"])
    l_linestatus: Column[Utf8] = Field(isin=["F", "O"])
    l_shipdate: Column[Datetime]

    @schema_check
    def price_covers_quantity(cls):
        return cls.l_extendedprice >= cls.l_quantity


class EventsV(Schema):
    event_id: Column[Int64] = Field(ge=0, unique=True)
    ts: Column[Datetime]
    user_id: Column[Int64] = Field(ge=0)
    event_type: Column[Utf8] = Field(isin=EVENT_TYPES)
    value: Column[Float64] = Field(gt=0.0)
    props: Column[Utf8] = Field(pattern='^\\{"k": [0-9]+\\}$')

    @schema_check
    def value_positive(cls):
        return cls.value > 0.0


class DocumentsV(Schema):
    doc_id: Column[Int64] = Field(ge=0, unique=True)
    text: Column[Utf8] = Field(min_length=1)
    lang: Column[Utf8] = Field(isin=["en", "de", "zh", "fr", "es"])
    source: Column[Utf8] = Field(pattern="^src[0-9]+$")
    n_chars: Column[Int64] = Field(ge=1)

    @schema_check
    def length_matches_text(cls):
        return cls.text.str_len() == cls.n_chars


class EmbeddingsV(Schema):
    vec_id: Column[Int64] = Field(ge=0, unique=True)
    embedding: Column[List[Float32]]
    label: Column[Int32] = Field(ge=0, le=9)

    @schema_check
    def label_bounded(cls):
        return cls.label < 10


TABLE_SCHEMAS: dict[str, type[Schema]] = {
    "region": RegionV,
    "nation": NationV,
    "customer": CustomerV,
    "supplier": SupplierV,
    "part": PartV,
    "orders": OrdersV,
    "lineitem": LineitemV,
    "events": EventsV,
    "documents": DocumentsV,
    "embeddings": EmbeddingsV,
}


# -- chain outputs ------------------------------------------------------------


class LineOrderFlat(Schema):
    l_orderkey: Column[Int64]
    o_custkey: Column[Int64]
    o_orderpriority: Column[Utf8]
    l_extendedprice: Column[Float64]
    l_discount: Column[Float64]


class LineOrder(Schema):
    l_orderkey: Column[Int64] = Field(ge=0)
    o_custkey: Column[Int64] = Field(ge=0)
    o_orderpriority: Column[Utf8] = Field(isin=PRIORITIES)
    l_extendedprice: Column[Float64] = Field(gt=0.0)
    l_discount: Column[Float64] = Field(ge=0.0, le=0.1)
    cust_revenue: Column[Float64] = Field(gt=0.0)

    @schema_check
    def line_within_customer(cls):
        return cls.l_extendedprice <= cls.cust_revenue


class SegmentRevenue(Schema):
    c_mktsegment: Column[Utf8] = Field(isin=SEGMENTS)
    n_orders: Column[Int64] = Field(ge=1)
    revenue: Column[Float64] = Field(gt=0.0)


class CustOrder(Schema):
    c_mktsegment: Column[Utf8]
    o_totalprice: Column[Float64]


class DocLang(Schema):
    doc_id: Column[Int64] = Field(ge=0, unique=True)
    lang: Column[Utf8] = Field(isin=["en", "de", "zh", "fr", "es"])
    source: Column[Utf8] = Field(pattern="^src[0-9]+$")
    n_chars: Column[Int64] = Field(ge=1)
    lang_chars: Column[Int64] = Field(ge=1)

    @schema_check
    def doc_within_lang(cls):
        return cls.n_chars <= cls.lang_chars


def _scan(d: str, name: str, spark):
    return cs.scan_parquet(table_path(d, name), TABLE_SCHEMAS[name], spark=spark)


def _raw(d: str, name: str, spark) -> SparkDF:
    return spark.read.parquet(table_path(d, name)).select(*TABLE_SCHEMAS[name]._columns)


def line_orders_typed(spark, d: str) -> cs.LazyFrame:
    li, o = _scan(d, "lineitem", spark), _scan(d, "orders", spark)
    flat = li.join(o, on=LineitemV.l_orderkey == OrdersV.o_orderkey).cast_schema(LineOrderFlat)
    out = flat.with_columns(
        LineOrderFlat.l_extendedprice.sum().over(LineOrderFlat.o_custkey).alias("cust_revenue")
    )
    return out.cast_schema(LineOrder)


def line_orders_raw(spark, d: str) -> SparkDF:
    li, o = _raw(d, "lineitem", spark), _raw(d, "orders", spark)
    flat = li.join(o, li["l_orderkey"] == o["o_orderkey"], "inner").select(
        "l_orderkey", "o_custkey", "o_orderpriority", "l_extendedprice", "l_discount"
    )
    return flat.withColumn("cust_revenue", F.sum("l_extendedprice").over(Window.partitionBy("o_custkey")))


def segment_revenue_typed(spark, d: str) -> cs.LazyFrame:
    c, o = _scan(d, "customer", spark), _scan(d, "orders", spark)
    flat = c.join(o, on=CustomerV.c_custkey == OrdersV.o_custkey).cast_schema(CustOrder)
    return (
        flat.group_by(CustOrder.c_mktsegment)
        .agg(
            CustOrder.o_totalprice.count().cast(Int64).alias("n_orders"),
            CustOrder.o_totalprice.sum().alias("revenue"),
        )
        .cast_schema(SegmentRevenue)
    )


def segment_revenue_raw(spark, d: str) -> SparkDF:
    c, o = _raw(d, "customer", spark), _raw(d, "orders", spark)
    flat = c.join(o, c["c_custkey"] == o["o_custkey"], "inner").select("c_mktsegment", "o_totalprice")
    return flat.groupBy("c_mktsegment").agg(
        F.count("o_totalprice").cast("long").alias("n_orders"),
        F.sum("o_totalprice").alias("revenue"),
    )


def doc_lang_typed(spark, d: str) -> cs.LazyFrame:
    docs = _scan(d, "documents", spark)
    out = docs.with_columns(DocumentsV.n_chars.sum().over(DocumentsV.lang).alias("lang_chars"))
    return out.cast_schema(DocLang)


def doc_lang_raw(spark, d: str) -> SparkDF:
    docs = _raw(d, "documents", spark)
    out = docs.withColumn("lang_chars", F.sum("n_chars").over(Window.partitionBy("lang")))
    return out.select("doc_id", "lang", "source", "n_chars", "lang_chars")


# name -> (typed builder, raw twin, output schema, partition_by, sort_by)
CHAINS = {
    "line_orders": (line_orders_typed, line_orders_raw, LineOrder, ["o_orderpriority"], ["o_custkey"]),
    "segment_revenue": (segment_revenue_typed, segment_revenue_raw, SegmentRevenue, ["c_mktsegment"], ["revenue"]),
    "doc_lang": (doc_lang_typed, doc_lang_raw, DocLang, ["lang"], ["doc_id"]),
}


def normalized_plan(df: SparkDF) -> str:
    """Optimized logical plan with expression and plan ids masked."""
    s = df._jdf.queryExecution().optimizedPlan().toString()
    return re.sub(r"plan_id=\d+", "plan_id=x", re.sub(r"#\d+L?", "#x", s))
