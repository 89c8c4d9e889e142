"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` — flagship query smoke check at sf0.001.
``queries()`` — one callable per implemented operator (SURVEY.md §2 +
training-pipeline extensions); each takes (spark, sf_dir) → pyspark DataFrame.
``oracle_sql()`` — DuckDB-equivalent ANSI SQL per query (omitted for
non-SQL-expressible ops: MinHash/SimHash/LSH sketches, mapInPandas stubs).

Float-determinism policy (so value-hashes match the oracle bit-for-bit):
- money sums go through DECIMAL (exact, order-independent) then CAST AS DOUBLE;
- averages are exact-decimal-sum / count, both sides;
- pure int / comparison / string outputs are exact by construction;
- everything else is ROUND()ed identically on both sides.
"""

from __future__ import annotations

import datetime as _dt
from collections.abc import Callable

from pyspark.sql import DataFrame as SparkDF
from pyspark.sql import SparkSession
from pyspark.sql import functions as F

import colnade_spark as cs
from colnade_spark.dtypes import Bool, Datetime, Decimal, Float64, Int32, Int64, Utf8
from colnade_spark.dtypes import Map as MapD
from colnade_spark.expr import when
from colnade_spark.operators import (
    chunking,
    classifier,
    cooccur,
    decontaminate,
    dedup,
    embeddings,
    funnel,
    packing,
    multimodal,
    quality,
    redact,
    sampling,
    similarity,
    spans,
    text,
    tfidf,
)
from colnade_spark.schema import Column, Schema
from colnade_spark.tpch import (
    Customer,
    Lineitem,
    Nation,
    Orders,
    Region,
    table_path,
)

# ---------------------------------------------------------------------------
# result schemas (extension-schema idiom: inherit + add computed columns)
# ---------------------------------------------------------------------------

Dec4 = Decimal[18, 4]
Dec6 = Decimal[18, 6]


class Q1Out(Schema):
    l_returnflag: Column[Utf8]
    l_linestatus: Column[Utf8]
    sum_qty: Column[Float64]
    sum_base_price: Column[Float64]
    sum_disc_price: Column[Float64]
    sum_charge: Column[Float64]
    avg_qty: Column[Float64]
    avg_price: Column[Float64]
    avg_disc: Column[Float64]
    count_order: Column[Int64]


def _load(spark: SparkSession, sf_dir: str, name: str, schema):
    return cs.read_parquet(table_path(sf_dir, name), schema, spark=spark)


# ---------------------------------------------------------------------------
# core queries (typed API end-to-end)
# ---------------------------------------------------------------------------

_CUTOFF = _dt.datetime(1998, 9, 2)


def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> SparkDF:
    """TPC-H Q1 shape: filter → derived decimal columns → group agg → sort.

    Exercises: read_parquet, filter, BinOp arithmetic, cast(Decimal),
    expression aggs, group_by().agg, cast_schema, sort.
    """
    li = _load(spark, sf_dir, "lineitem", Lineitem)
    disc_price = (Lineitem.l_extendedprice * (1 - Lineitem.l_discount)).cast(Dec4)
    charge = (
        Lineitem.l_extendedprice * (1 - Lineitem.l_discount) * (1 + Lineitem.l_tax)
    ).cast(Dec6)
    out = (
        li.filter(Lineitem.l_shipdate <= _CUTOFF)
        .group_by(Lineitem.l_returnflag, Lineitem.l_linestatus)
        .agg(
            Lineitem.l_quantity.cast(Decimal[18, 2]).sum().alias("sum_qty_d"),
            Lineitem.l_extendedprice.cast(Decimal[18, 2]).sum().alias("sum_base_d"),
            disc_price.sum().alias("sum_disc_d"),
            charge.sum().alias("sum_charge_d"),
            Lineitem.l_discount.cast(Decimal[18, 2]).sum().alias("sum_disc_only_d"),
            Lineitem.l_orderkey.count().alias("count_order"),
        )
    )
    # exact decimal sums → double; averages = exact-sum / count (bit-stable)
    n = F.col("count_order").cast("long")
    return (
        out.native.select(
            "l_returnflag",
            "l_linestatus",
            F.col("sum_qty_d").cast("double").alias("sum_qty"),
            F.col("sum_base_d").cast("double").alias("sum_base_price"),
            F.col("sum_disc_d").cast("double").alias("sum_disc_price"),
            F.col("sum_charge_d").cast("double").alias("sum_charge"),
            (F.col("sum_qty_d").cast("double") / n).alias("avg_qty"),
            (F.col("sum_base_d").cast("double") / n).alias("avg_price"),
            (F.col("sum_disc_only_d").cast("double") / n).alias("avg_disc"),
            n.alias("count_order"),
        )
    ).orderBy("l_returnflag", "l_linestatus")


def filter_sort_limit(spark: SparkSession, sf_dir: str) -> SparkDF:
    c = _load(spark, sf_dir, "customer", Customer)
    out = (
        c.filter(Customer.c_acctbal > 5000.0)
        .sort(Customer.c_acctbal.desc(), Customer.c_custkey)
        .limit(100)
        .select(Customer.c_custkey, Customer.c_name, Customer.c_acctbal)
    )
    return out.native


class CustOrder(Schema):
    c_mktsegment: Column[Utf8]
    o_totalprice: Column[Float64]


class SegAgg(Schema):
    c_mktsegment: Column[Utf8]
    n_orders: Column[Int64]
    sum_total_d: Column[Decimal[28, 2]]


def join_agg(spark: SparkSession, sf_dir: str) -> SparkDF:
    """customer ⋈ orders (broadcast-eligible dim side) → segment rollup."""
    c = _load(spark, sf_dir, "customer", Customer)
    o = _load(spark, sf_dir, "orders", Orders)
    joined = c.join(o, on=Customer.c_custkey == Orders.o_custkey, how="inner")
    flat = joined.cast_schema(CustOrder)
    out = flat.group_by(CustOrder.c_mktsegment).agg(
        CustOrder.o_totalprice.count().cast(Int64).alias("n_orders"),
        CustOrder.o_totalprice.cast(Decimal[18, 2]).sum().alias("sum_total_d"),
    )
    return out.native.select(
        "c_mktsegment",
        F.col("n_orders").cast("long").alias("n_orders"),
        F.col("sum_total_d").cast("double").alias("sum_total"),
        (F.col("sum_total_d").cast("double") / F.col("n_orders")).alias("avg_total"),
    )


class CustNation(Schema):
    c_custkey: Column[Int64]
    c_acctbal: Column[Float64]
    n_name: Column[Utf8]
    n_regionkey: Column[Int32]


class NationRegion(Schema):
    r_name: Column[Utf8]
    c_acctbal: Column[Float64]


def triple_join_region(spark: SparkSession, sf_dir: str) -> SparkDF:
    """Chained equi-joins through cast_schema: customer⋈nation⋈region."""
    c = _load(spark, sf_dir, "customer", Customer)
    n = _load(spark, sf_dir, "nation", Nation)
    r = _load(spark, sf_dir, "region", Region)
    cn = c.join(n, on=Customer.c_nationkey == Nation.n_nationkey).cast_schema(
        CustNation
    )
    cnr = cn.join(r, on=CustNation.n_regionkey == Region.r_regionkey).cast_schema(
        NationRegion
    )
    out = cnr.group_by(NationRegion.r_name).agg(
        NationRegion.c_acctbal.count().alias("n_cust"),
        NationRegion.c_acctbal.cast(Decimal[18, 2]).sum().alias("sum_bal_d"),
    )
    return out.native.select(
        "r_name",
        F.col("n_cust").cast("long").alias("n_cust"),
        F.col("sum_bal_d").cast("double").alias("sum_bal"),
    )


class StatusPriority(Schema):
    o_orderstatus: Column[Utf8]
    o_orderpriority: Column[Utf8]


def distinct_status_priority(spark: SparkSession, sf_dir: str) -> SparkDF:
    o = _load(spark, sf_dir, "orders", Orders)
    out = (
        o.select(Orders.o_orderstatus, Orders.o_orderpriority)
        .cast_schema(StatusPriority)
        .unique()
    )
    return out.native


def case_when_buckets(spark: SparkSession, sf_dir: str) -> SparkDF:
    c = _load(spark, sf_dir, "customer", Customer)
    bucket = (
        when(Customer.c_acctbal > 7500.0)
        .then("high")
        .when(Customer.c_acctbal > 2500.0)
        .then("mid")
        .when(Customer.c_acctbal >= 0.0)
        .then("low")
        .otherwise("neg")
    )
    out = c.with_columns(bucket.alias("bucket"))
    return (
        out.native.groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("c_acctbal").cast("decimal(18,2)"))
            .cast("double")
            .alias("sum_bal"),
        )
        .orderBy("bucket")
    )


def global_agg(spark: SparkSession, sf_dir: str) -> SparkDF:
    o = _load(spark, sf_dir, "orders", Orders)
    out = o.agg(
        Orders.o_totalprice.cast(Decimal[18, 2]).sum().alias("sum_total_d"),
        Orders.o_totalprice.min().alias("min_total"),
        Orders.o_totalprice.max().alias("max_total"),
        Orders.o_orderkey.count().cast(Int64).alias("n_rows"),
        Orders.o_custkey.n_unique().cast(Int64).alias("n_customers"),
    )
    return out.native.select(
        F.col("sum_total_d").cast("double").alias("sum_total"),
        "min_total",
        "max_total",
        F.col("n_rows").cast("long").alias("n_rows"),
        F.col("n_customers").cast("long").alias("n_customers"),
    )


class PartStr(Schema):
    p_partkey: Column[Int64]
    p_name: Column[Utf8]
    p_brand: Column[Utf8]
    p_type: Column[Utf8]


def str_funcs(spark: SparkSession, sf_dir: str) -> SparkDF:
    from colnade_spark.tpch import Part

    p = _load(spark, sf_dir, "part", Part)
    out = (
        p.filter(Part.p_name.str_contains("red"))
        .select(Part.p_partkey, Part.p_name, Part.p_brand, Part.p_type)
        .cast_schema(PartStr)
        .with_columns(
            PartStr.p_name.str_to_uppercase().alias("name_upper"),
            PartStr.p_type.str_to_lowercase().alias("type_lower"),
            PartStr.p_name.str_len().alias("name_len"),
            PartStr.p_name.str_starts_with("red").alias("starts_red"),
            PartStr.p_name.str_ends_with("bolt").alias("ends_bolt"),
            PartStr.p_name.str_replace("red", "RED").alias("name_replaced"),
            PartStr.p_brand.str_strip().alias("brand_stripped"),
        )
    )
    return out.native.withColumn("name_len", F.col("name_len").cast("long"))


def dt_extract_truncate(spark: SparkSession, sf_dir: str) -> SparkDF:
    from colnade_spark.tpch import Events

    e = _load(spark, sf_dir, "events", Events)
    out = e.with_columns(
        Events.ts.dt_truncate("day").alias("day"),
        Events.ts.dt_year().alias("yr"),
        Events.ts.dt_month().alias("mo"),
        Events.ts.dt_day().alias("dom"),
        Events.ts.dt_hour().alias("hr"),
        Events.ts.dt_minute().alias("minute_"),
        Events.ts.dt_second().alias("second_"),
    )
    return (
        out.native.groupBy("day", "event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("value").cast("decimal(18,6)")).cast("double").alias("sum_value"),
        )
        .orderBy("day", "event_type")
    )


def window_partition_agg(spark: SparkSession, sf_dir: str) -> SparkDF:
    """Partition-only window aggregates (the reference's ``over``)."""
    c = _load(spark, sf_dir, "customer", Customer)
    out = c.with_columns(
        Customer.c_custkey.count().over(Customer.c_mktsegment).alias("seg_n"),
        Customer.c_acctbal.max().over(Customer.c_mktsegment).alias("seg_max"),
        Customer.c_acctbal.min().over(Customer.c_mktsegment).alias("seg_min"),
        Customer.c_nationkey.n_unique().over(Customer.c_mktsegment).alias("seg_nations"),
    )
    return out.native.select(
        "c_custkey",
        "c_mktsegment",
        "c_acctbal",
        F.col("seg_n").cast("long").alias("seg_n"),
        "seg_max",
        "seg_min",
        F.col("seg_nations").cast("long").alias("seg_nations"),
    )


def concat_union(spark: SparkSession, sf_dir: str) -> SparkDF:
    o = _load(spark, sf_dir, "orders", Orders)
    f_part = o.filter(Orders.o_orderstatus == "F")
    o_part = o.filter(Orders.o_orderstatus == "O")
    both = cs.concat([f_part, o_part])
    out = both.group_by(Orders.o_orderpriority).agg(
        Orders.o_orderkey.count().cast(Int64).alias("n")
    )
    return out.native.select(
        "o_orderpriority", F.col("n").cast("long").alias("n")
    )


def list_ops(spark: SparkSession, sf_dir: str) -> SparkDF:
    from colnade_spark.tpch import Embeddings

    e = _load(spark, sf_dir, "embeddings", Embeddings)
    out = e.with_columns(
        Embeddings.embedding.list.len().alias("dim"),
        Embeddings.embedding.list.get(0).alias("first_val"),
        Embeddings.embedding.list.min().alias("min_val"),
        Embeddings.embedding.list.max().alias("max_val"),
    )
    return out.native.select(
        "vec_id",
        F.col("dim").cast("long").alias("dim"),
        F.col("first_val").cast("double").alias("first_val"),
        F.col("min_val").cast("double").alias("min_val"),
        F.col("max_val").cast("double").alias("max_val"),
    )


def cast_fill_null(spark: SparkSession, sf_dir: str) -> SparkDF:
    """when-without-otherwise (null default) + fill_null + int cast."""
    o = _load(spark, sf_dir, "orders", Orders)
    big = when(Orders.o_totalprice > 200000.0).then(Orders.o_totalprice)
    out = o.with_columns(
        big.alias("big_raw"),
        Orders.o_totalprice.cast(Int64).alias("price_int"),
    )
    return out.native.select(
        "o_orderkey",
        F.coalesce(F.col("big_raw"), F.lit(-1.0)).alias("big_filled"),
        "price_int",
    )


class OrdersBig(Orders):
    big_raw: Column[Float64 | None]


def drop_nulls_agg(spark: SparkSession, sf_dir: str) -> SparkDF:
    o = _load(spark, sf_dir, "orders", Orders)
    big = when(Orders.o_totalprice > 200000.0).then(Orders.o_totalprice)
    out = (
        o.with_columns(big.alias("big_raw"))
        .cast_schema(OrdersBig)
        .drop_nulls(OrdersBig.big_raw)
        .agg(
            OrdersBig.big_raw.count().cast(Int64).alias("n_big"),
            OrdersBig.big_raw.cast(Decimal[18, 2]).sum().alias("sum_big_d"),
        )
    )
    return out.native.select(
        F.col("n_big").cast("long").alias("n_big"),
        F.col("sum_big_d").cast("double").alias("sum_big"),
    )


# ---------------------------------------------------------------------------
# training-pipeline extension queries (documents / embeddings tables)
# ---------------------------------------------------------------------------


def _docs(spark: SparkSession, sf_dir: str) -> SparkDF:
    # footer-schema fast path: identical frame, minus ~100 ms of JVM
    # schema inference per build (see io.footer_schema) — the bench
    # rebuilds every query per rep, so inference was a per-rep tax
    from colnade_spark.io import read_parquet_table

    return read_parquet_table(table_path(sf_dir, "documents"), spark)


def _spread(df: SparkDF) -> SparkDF:
    """Guarded single-split spread: repartition only when the scan
    cannot feed every core (skew.few_input_splits — the analyzed-plan
    size estimate vs cores × maxPartitionBytes, milliseconds). The
    guard makes the 'dead at real scale' claim literal: point sf_dir at
    a dataset bigger than cores × 128 MB and the repartition vanishes
    instead of round-robin-shuffling the whole corpus."""
    from colnade_spark.operators.skew import few_input_splits

    if few_input_splits(df):
        return df.repartition(df.sparkSession.sparkContext.defaultParallelism)
    return df


def _docs_spread(spark: SparkSession, sf_dir: str) -> SparkDF:
    """Documents with the scan spread across the executor threads: the
    fixture is ONE parquet file -> one input split, which serializes
    compute-dense per-doc pipelines (gram inversion, feature hashing) on
    a single core. At real scale the reader's own splits provide this
    parallelism (guarded — see _spread); the repartition moves only
    ~KB/doc of text once."""
    return _spread(_docs(spark, sf_dir))


def _embs(spark: SparkSession, sf_dir: str) -> SparkDF:
    from colnade_spark.io import read_parquet_table

    return read_parquet_table(table_path(sf_dir, "embeddings"), spark)


def _embs_spread(spark: SparkSession, sf_dir: str) -> SparkDF:
    """Embeddings with the one-file fixture scan spread across cores —
    the _docs_spread twin for per-vector compute (dot products against
    broadcast query sets ran 0.55 s single-task on the raw scan).
    Guarded like _docs_spread: dead at real scale."""
    return _spread(_embs(spark, sf_dir))


def dedup_exact_ids(spark: SparkSession, sf_dir: str) -> SparkDF:
    return dedup.dedup_exact(_docs(spark, sf_dir))


def dedup_fingerprint_ids(spark: SparkSession, sf_dir: str) -> SparkDF:
    return dedup.dedup_fingerprint(_docs(spark, sf_dir))


def dedup_minhash_ids(spark: SparkSession, sf_dir: str) -> SparkDF:
    """MinHash-LSH near-dedup survivors. FULLY ORACLED since round 6: the
    vectorized signature path (polynomial shingle hash → murmur mix →
    affine rehash → min, all mod 2^64) is replayed exactly in DuckDB with
    HUGEINT split-multiply arithmetic (see _minhash_oracle_sql), banding
    replayed as band-slice equality (xxhash64 band keys are injective up
    to ~2^-64 collisions), survivors bit-equal at both SFs."""
    return dedup.dedup_minhash(_docs(spark, sf_dir), threshold=0.8)


def dedup_minhash_k13_ids(spark: SparkSession, sf_dir: str) -> SparkDF:
    """MinHash-LSH near-dedup at the PRODUCTION shingle length (k=13,
    Gopher/RefinedWeb practice). The round-7 scale board measured why
    this knob exists: char-5 shingles give unrelated docs background
    Jaccard ~0.14+ on any corpus with repeated vocabulary, so band
    collisions grow candidate pairs ~n^2 (7.2M at 500k docs), while
    k=13 keeps them exactly linear (26k) at the same drop rate — see
    SCALE.md "Measured scaling". Same fully-replayed HUGEINT oracle,
    parameterized at k=13."""
    return dedup.dedup_minhash(
        _docs(spark, sf_dir), threshold=0.8, shingle_k=13
    )


def minhash_estimate_pairs(spark: SparkSession, sf_dir: str) -> SparkDF:
    """Graded MinHash-estimator audit (dedup.minhash_estimate_audit): for
    every LSH candidate pair, estimated vs EXACT shingle-set Jaccard,
    absolute error, and threshold-decision agreement — the dedup analog of
    ann_recall_audit. Oracle replays the full signature pipeline (the
    HUGEINT mod-2^64 replay of _minhash_pair_ctes) plus string-shingle
    exact Jaccard; every column is a correctly-rounded IEEE division of
    exact integers, bit-identical across engines."""
    return dedup.minhash_estimate_audit(_docs(spark, sf_dir), threshold=0.8)


def incremental_minhash_ids(spark: SparkSession, sf_dir: str) -> SparkDF:
    """Continuous-ingest near-dedup (dedup.dedup_minhash_incremental):
    even-id documents play the persisted corpus (their signatures are the
    store), odd-id documents the incoming batch; survivors are odd ids
    with no est-Jaccard ≥ 0.8 match in the corpus and no smaller-odd-id
    match within the batch. The oracle reuses the shared HUGEINT pair
    replay — the `est` CTE already scores EVERY candidate pair, so the
    incremental semantics are just parity predicates over it."""
    docs = _docs(spark, sf_dir)
    corpus = docs.filter(F.col("doc_id") % 2 == 0)
    new = docs.filter(F.col("doc_id") % 2 == 1)
    # barrier the inline-computed corpus sigs: minhash_cross_pairs reads
    # its old side twice (banding + signature join-back) and deliberately
    # does NOT barrier it (the maintainer feeds a parquet-backed store
    # where a repartition would be a wasted shuffle); computed inline the
    # sketch UDF would run 2×, so materialize it once at this exchange
    # and let ReuseExchange share it
    corpus_sigs = (
        dedup.minhash_signatures(corpus, num_hashes=96)
        .select("doc_id", "_sig")
        .repartition(F.col("doc_id"))
    )
    return dedup.dedup_minhash_incremental(
        new, corpus_sigs, threshold=0.8
    ).select("doc_id")


def novelty_scores_docs(spark: SparkSession, sf_dir: str) -> SparkDF:
    """Graded novelty scoring against a frozen corpus
    (dedup.novelty_scores): even-id documents play the persisted corpus,
    odd-id documents the incoming batch; each odd doc reports the MAX
    signature-estimated Jaccard the banding surfaces against any even doc
    and novelty = 1 − that. The scoring twin of incremental_minhash_ids —
    same parity trick in the oracle: the shared `est` CTE scores every
    candidate pair, so cross-side best-match is a parity-filtered
    group-max over it, left-joined back to all odd ids (no candidate →
    max 0, novelty 1)."""
    docs = _docs(spark, sf_dir)
    corpus = docs.filter(F.col("doc_id") % 2 == 0)
    new = docs.filter(F.col("doc_id") % 2 == 1)
    # same materialization rationale as incremental_minhash_ids: the
    # cross-pairs old side is consumed twice, so barrier the inline sigs
    corpus_sigs = (
        dedup.minhash_signatures(corpus, num_hashes=96)
        .select("doc_id", "_sig")
        .repartition(F.col("doc_id"))
    )
    return dedup.novelty_scores(new, corpus_sigs)


def minhash_prt_summary(spark: SparkSession, sf_dir: str) -> SparkDF:
    """One-row precision/recall audit of the full MinHash-LSH pipeline
    against EXHAUSTIVE ground truth (dedup.minhash_prt_audit): candidate
    recall of the banding plus precision/recall of the est ≥ t decision,
    all vs lossless-blocked exact char-shingle Jaccard pairs. Ground
    truth is quadratic per size bucket BY NATURE (the operator docstring
    says: audit a bounded slice at corpus scale) — so the query audits a
    CONSTANT-size slice (doc_id < 100) augmented with planted near-dup
    copies (every 3rd doc re-appears with a tail edit at id+100000), so
    the audit has guaranteed true-pair signal and SF-independent cost.
    The oracle replays ground truth from string shingles with the same
    integer-bit-length buckets and integer size guard, the sketch side
    from the shared HUGEINT pair CTEs over the same augmented slice."""
    docs = _docs(spark, sf_dir).filter(F.col("doc_id") < 100)
    planted = (
        docs.filter(F.col("doc_id") % 3 == 0)
        .withColumn("doc_id", F.col("doc_id") + F.lit(100000))
        .withColumn(
            "text",
            F.concat(F.col("text"), F.lit(" planted near duplicate tail")),
        )
    )
    return dedup.minhash_prt_audit(
        docs.unionByName(planted), threshold=0.8
    )


def blended_quality_docs(spark: SparkSession, sf_dir: str) -> SparkDF:
    """Ensemble quality blending per language: three cheap signals
    (chars, whitespace tokens, BPE-ish tokens) rank-normalized with
    percent_rank inside each language and combined 0.5/0.3/0.2 — the
    classifier-ensemble curation shape. Ranks are unique ((score, id)
    order), percent_rank is one IEEE division, the mean a fixed-order
    float chain: bit-exact replay."""
    from colnade_spark.operators.quality import blend_quality_scores
    from colnade_spark.operators import text as _text

    d = _docs(spark, sf_dir).select(
        "doc_id",
        "lang",
        F.col("n_chars").alias("s1"),
        _text.token_count(F.col("text")).alias("s2"),
        _text.bpe_token_count(F.col("text")).alias("s3"),
    )
    out = blend_quality_scores(
        d, {"s1": 0.5, "s2": 0.3, "s3": 0.2}, domain_col="lang"
    )
    return out.select("doc_id", "lang", "blended_score")


def code_quality_docs(spark: SparkSession, sf_dir: str) -> SparkDF:
    """The Stack / StarCoder source-file filters over the corpus:
    per-doc line/char signals (exact ints + single IEEE divisions),
    long-line / low-alnum / auto-generated flags, and the keep verdict —
    every column replays in SQL (line splits, regex char counts, the
    published thresholds)."""
    from colnade_spark.operators.quality import code_quality_signals

    return code_quality_signals(_docs(spark, sf_dir))


def stratified_split_docs(spark: SparkSession, sf_dir: str) -> SparkDF:
    """Exact stratified train/val/test split over the documents table:
    within each language, rows rank in content-addressed hash order and
    cut at floor(cum_weight * n) — so the 80/10/10 proportions hold
    EXACTLY per language, not just in expectation. The full assignment
    replays in SQL (md5 rank order + the same float boundary products)."""
    from colnade_spark.operators.sampling import stratified_exact_split

    out = stratified_exact_split(
        _docs(spark, sf_dir),
        {"train": 0.8, "val": 0.1, "test": 0.1},
        strata_col="lang",
    )
    return out.select("doc_id", "lang", "split")


def soft_dedup_weights_docs(spark: SparkSession, sf_dir: str) -> SparkDF:
    """SoftDeDup-style reweighting (He et al. 2024): per-doc inverse mean
    corpus occurrence count of its word 3-grams — unique docs weigh 1.0,
    boilerplate-heavy docs are down-weighted instead of dropped. n_grams
    and sum_df are exact integer counts and the weight is one IEEE
    division, so every column replays bit-exactly."""
    from colnade_spark.operators.importance import commonness_weights

    # spread the one-file fixture scan: the tokenize+ngram+md5 gram
    # subtree runs twice (count build + join back, the documented
    # skew-robustness trade) and was serializing on a single input
    # split — measured two 1-task jobs of 1.8 s and 1.3 s at sf0.1
    return commonness_weights(_docs_spread(spark, sf_dir), n=3)


def commonness_frozen_docs(spark: SparkSession, sf_dir: str) -> SparkDF:
    """Stream-legal SoftDeDup scoring: fit the bucketed gram-count table
    once on the corpus (4096 buckets, word 3-grams, md5-hash60 mod
    buckets — bounded whatever the corpus size), then score every doc as
    a pure scan-side array fold with each gram's df clamped to >= 1.
    The production ingest shape: commonness_weights' corpus-wide gram
    aggregation is not stream-legal; the frozen table is (stateless-
    stream pin in tests/integration/test_streaming.py). n_grams/sum_df
    are exact longs, weight one IEEE division; the oracle replays the
    bucket table with the same md5 hashing and greatest(c, 1) clamp."""
    from colnade_spark.operators.importance import (
        commonness_score_frozen,
        fit_gram_counts,
    )

    # spread the FIT input too: the scoring side already spreads, but
    # the fit's gram aggregation ran on the fixture's one input split
    # (1.5 s single-task, paid eagerly at build per bench rep)
    docs = _docs_spread(spark, sf_dir)
    ct = fit_gram_counts(docs, n=3, buckets=4096)
    return commonness_score_frozen(docs, ct, n=3)


def dup_weight_docs(spark: SparkSession, sf_dir: str) -> SparkDF:
    """Cluster-size soft dedup: 1/|exact fingerprint cluster| per doc —
    the downweight-instead-of-drop twin of dedup_fingerprint. Exact
    counts + one IEEE division; NULL-fingerprint docs weigh 1.0."""
    from colnade_spark.operators.importance import duplication_weights

    return duplication_weights(_docs(spark, sf_dir))


def dedup_rates_by_lang(spark: SparkSession, sf_dir: str) -> SparkDF:
    """Per-language dedup datasheet: doc count, exact-duplicate count
    (rows beyond the first per content fingerprint), MinHash near-dup
    drops, and the near-dup fraction — the 'how duplicated is each slice'
    artifact a curation run reports before and after cleaning. Composes
    the fingerprint and minhash machinery; the oracle reuses the HUGEINT
    pair replay for the near side and md5-of-normalized-text for the
    exact side. The fraction is one IEEE division of exact longs."""
    from colnade_spark.operators.text import fingerprint

    docs = _docs(spark, sf_dir)
    surv = dedup.dedup_minhash(docs, threshold=0.8)
    drops = (
        docs.select("doc_id")
        .join(surv, "doc_id", "left_anti")
        .withColumn("_d", F.lit(1))
    )
    return (
        docs.join(drops, "doc_id", "left")
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            (
                F.count(F.lit(1)) - F.count_distinct(fingerprint(F.col("text")))
            ).cast("long").alias("exact_dup_docs"),
            F.count("_d").cast("long").alias("near_dup_drops"),
            (
                F.count("_d").cast("double") / F.count(F.lit(1))
            ).alias("near_dup_frac"),
        )
    )


def simhash_sketch(spark: SparkSession, sf_dir: str) -> SparkDF:
    """SimHash with the portable md5-derived 60-bit token hash so the full
    voting/packing logic is value-checked against the DuckDB oracle (the
    xxhash64 default stays the production fast path; both impls share the
    pack, pinned bit-identical in tests)."""
    return dedup.simhash(
        _docs(spark, sf_dir), token_hash=text.md5_hash60
    ).select("doc_id", "simhash")


def ngram_jaccard_dups(spark: SparkSession, sf_dir: str) -> SparkDF:
    return dedup.ngram_jaccard_pairs(
        _docs(spark, sf_dir), n=3, threshold=0.5, block_col="lang"
    ).select("id_a", "id_b", F.round(F.col("jaccard"), 6).alias("jaccard"))


def text_quality(spark: SparkSession, sf_dir: str) -> SparkDF:
    out = text.quality_features(_docs(spark, sf_dir))
    return out.select(
        "doc_id",
        F.col("q_chars").cast("long").alias("q_chars"),
        F.col("q_words").cast("long").alias("q_words"),
        F.round("q_avg_word_len", 6).alias("q_avg_word_len"),
        F.col("q_punct").cast("long").alias("q_punct"),
        F.round("q_punct_ratio", 6).alias("q_punct_ratio"),
        F.round("q_upper_ratio", 6).alias("q_upper_ratio"),
        F.round("q_stopword_ratio", 6).alias("q_stopword_ratio"),
    )


def token_fertility_by_lang(spark: SparkSession, sf_dir: str) -> SparkDF:
    """Per-language tokenizer-fertility datasheet: exact word/BPE/byte
    totals plus the fertility (subword per word) and bytes-per-token
    ratios — one scan-side projection into one |languages|-row
    aggregation. Totals are exact integer sums and each ratio is one
    IEEE division, so every column replays bit-exactly."""
    return text.fertility_stats(_docs(spark, sf_dir))


def token_counts(spark: SparkSession, sf_dir: str) -> SparkDF:
    d = _docs(spark, sf_dir)
    return d.select(
        "doc_id",
        text.token_count(F.col("text")).cast("long").alias("n_tokens"),
        text.bpe_token_count(F.col("text")).cast("long").alias("n_bpe"),
    )


def language_pred(spark: SparkSession, sf_dir: str) -> SparkDF:
    return text.language_id(_docs(spark, sf_dir)).select("doc_id", "lang_pred")


def repetition_profile(spark: SparkSession, sf_dir: str) -> SparkDF:
    """Per-doc repetition signals (duplicate line/paragraph/token
    fractions) — quality.repetition_stats, DuckDB-oracled."""
    out = quality.repetition_stats(_docs_spread(spark, sf_dir))
    return out.select(
        "doc_id",
        F.round("rep_dup_line_frac", 6).alias("rep_dup_line_frac"),
        F.round("rep_dup_line_char_frac", 6).alias("rep_dup_line_char_frac"),
        F.round("rep_dup_para_frac", 6).alias("rep_dup_para_frac"),
        F.round("rep_dup_token_frac", 6).alias("rep_dup_token_frac"),
        F.round("rep_dup_2gram_frac", 6).alias("rep_dup_2gram_frac"),
        F.round("rep_dup_3gram_frac", 6).alias("rep_dup_3gram_frac"),
    )


def top_ngram_profile(spark: SparkSession, sf_dir: str) -> SparkDF:
    """Most-frequent word-bigram fraction per doc (MassiveText repetition
    signal at n=2) — same one-shuffle shape as top_token_profile."""
    out = quality.top_ngram_stats(_docs_spread(spark, sf_dir), 2)
    return out.select(
        "doc_id",
        "n_grams",
        "top_ngram_count",
        F.round("top_ngram_frac", 6).alias("top_ngram_frac"),
    )


def top_token_profile(spark: SparkSession, sf_dir: str) -> SparkDF:
    """Most-frequent-token stats per doc — the one shuffle-backed quality
    signal (explode → two-level agg with map-side combine)."""
    out = quality.top_token_stats(_docs(spark, sf_dir))
    return out.select(
        "doc_id",
        "n_tokens",
        "top_token_count",
        F.round("top_token_frac", 6).alias("top_token_frac"),
    )


def gopher_rules(spark: SparkSession, sf_dir: str) -> SparkDF:
    """Gopher rule flags (Rae et al. 2021 §A1.1) on the documents table;
    flags cast to long for engine-neutral hashing."""
    out = quality.gopher_flags(_docs(spark, sf_dir), min_words=10, min_stopword_hits=1)
    flags = [c for c in out.columns if c.startswith("g_") or c == "gopher_keep"]
    return out.select(
        "doc_id", *[F.col(c).cast("long").alias(c) for c in flags]
    )


def chunk_windows(spark: SparkSession, sf_dir: str) -> SparkDF:
    """Overlapping 32-token chunk windows (stride 24) over documents —
    chunking.chunk_by_tokens, DuckDB-oracled."""
    return chunking.chunk_by_tokens(
        _docs(spark, sf_dir), chunk_size=32, overlap=8
    )


def hash_sample_ids(spark: SparkSession, sf_dir: str) -> SparkDF:
    """Deterministic 25% content-addressed sample — identical row set on
    every engine (md5-gated, salt 's1')."""
    return sampling.hash_sample(_docs(spark, sf_dir), 0.25, salt="s1").select(
        "doc_id", "lang"
    )


def hash_split_stats(spark: SparkSession, sf_dir: str) -> SparkDF:
    """Deterministic train/val/test split (80/10/10 by key hash), counted
    per label. Boundary thresholds accumulate in float exactly as the
    operator does; the oracle embeds the same integers."""
    out = sampling.hash_split(
        _docs(spark, sf_dir), {"train": 0.8, "val": 0.1, "test": 0.1}
    )
    return (
        out.groupBy("split")
        .agg(F.count("*").cast("long").alias("n_docs"))
        .select("split", "n_docs")
    )


def stratified_sample_docs(spark: SparkSession, sf_dir: str) -> SparkDF:
    """Exact k=20 docs per language by sampling-hash order — the
    deterministic reservoir; one shuffle on the group column."""
    return sampling.stratified_sample(_docs(spark, sf_dir), "lang", k=20).select(
        "doc_id", "lang"
    )


def pii_redaction(spark: SparkSession, sf_dir: str) -> SparkDF:
    """PII scrub over documents. The synthetic corpus contains no PII, so
    both engines inject the same deterministic email/URL/IP suffix from
    doc_id before redacting — the oracle then checks the actual rule
    behavior, not an identity map."""
    d = _docs(spark, sf_dir)
    injected = d.withColumn(
        "text",
        F.concat(
            F.col("text"),
            F.lit(" contact user"),
            F.col("doc_id").cast("string"),
            F.lit("@example.com or http://site"),
            (F.col("doc_id") % 7).cast("string"),
            F.lit(".org/page or 10.0."),
            (F.col("doc_id") % 256).cast("string"),
            F.lit(".1"),
        ),
    )
    staged = injected.withColumn("_t", F.col("text"))
    out = redact.redact_pii(staged, text_col="text", out_col="red_text")
    return out.select(
        "doc_id",
        "red_text",
        F.size(redact.extract_urls(F.col("_t"))).cast("long").alias("n_urls"),
        F.get(redact.extract_domains(F.col("_t")), 0).alias("first_domain"),
    )


def pii_count_stats(spark: SparkSession, sf_dir: str) -> SparkDF:
    """Per-doc PII audit counts over the same injected corpus as
    pii_redaction (email + URL + IP per doc, phones absent): the
    observability table behind the scrub. Independent per-pattern
    counts; the oracle replays every regex count."""
    d = _docs_spread(spark, sf_dir)
    injected = d.withColumn(
        "text",
        F.concat(
            F.col("text"),
            F.lit(" contact user"),
            F.col("doc_id").cast("string"),
            F.lit("@example.com or http://site"),
            (F.col("doc_id") % 7).cast("string"),
            F.lit(".org/page or 10.0."),
            (F.col("doc_id") % 256).cast("string"),
            F.lit(".1"),
        ),
    )
    return redact.pii_counts(injected)


# Fixed literal centroids for the cluster-assignment contract queries:
# quarter-step values are exact in binary, so the literals embed
# identically in Spark and DuckDB SQL.
_CENTROIDS = [
    [((((j * 31) + (d * 17)) % 7) - 3) / 4.0 for d in range(64)] for j in range(4)
]


def cluster_assignments(spark: SparkSession, sf_dir: str) -> SparkDF:
    """Fixed-centroid cluster assignment over the embeddings table —
    embeddings.cluster_assign with 4 literal centroids; dots rounded to
    6dp before argmax so assignment is engine-stable."""
    e = _embs(spark, sf_dir)
    out = embeddings.cluster_assign(e, _CENTROIDS)
    return out.select("vec_id", "cluster_id")


def cluster_profile(spark: SparkSession, sf_dir: str) -> SparkDF:
    """Per-cluster membership stats (count + min/max winning dot) —
    order-independent aggregates only."""
    e = _embs(spark, sf_dir)
    out = embeddings.cluster_stats(e, _CENTROIDS)
    return out.select(
        "cluster_id",
        "n_members",
        F.round("min_sim", 6).alias("min_sim"),
        F.round("max_sim", 6).alias("max_sim"),
    )


def ann_bruteforce(spark: SparkSession, sf_dir: str) -> SparkDF:
    e = _embs_spread(spark, sf_dir)
    q = e.filter(F.col("vec_id") < 8)
    return similarity.brute_force_topk(e, q, k=5)


def ann_lsh(spark: SparkSession, sf_dir: str) -> SparkDF:
    """RP-LSH top-1 with PLANTED exact-duplicate queries — a deterministic
    recall check against an independently computed DuckDB ground truth.
    Each query is an exact copy of a corpus vector (vec_id < 8) under id
    +1_000_000: identical vectors produce identical sign sketches in EVERY
    hash table, so the bucket join is guaranteed to surface the planted
    source, and it is the unique rank-1 neighbor (cosine 1.0; the fixture's
    max non-identical cosine is ~0.6, so no tie is possible). The oracle
    recomputes the same argmax by brute force — LSH recall on planted
    neighbors is thereby bit-checked, not just row-counted."""
    e = _embs(spark, sf_dir)
    planted = e.filter(F.col("vec_id") < 8).select(
        (F.col("vec_id") + F.lit(1_000_000)).alias("vec_id"), "embedding"
    )
    return similarity.lsh_topk(e, planted, dim=64, k=1, bits=10, tables=6)


def ann_lsh_multiprobe(spark: SparkSession, sf_dir: str) -> SparkDF:
    """RP-LSH top-1 with PLANTED NEAR-copy queries (vec_id < 8 with
    dimension 1 bumped +0.2 — cosine to the source ~0.97-0.99 vs ~0.6
    background, so the brute-force rank-1 is unambiguous) through the
    QUERY-SIDE multiprobe knob (the ivf nprobe analog): at bits=12 the
    near-copies land across a low-margin plane for some queries —
    single-probe measurably returns a wrong (background) rank-1 for
    1 of 8 queries at sf0.1 — and probing the 2 lowest-margin bit flips
    recovers the exact brute-force answer for every query at every
    fixture SF. The corpus index is untouched (one home bucket per
    vector per table); only query fanout pays."""
    e = _embs(spark, sf_dir).select("vec_id", "embedding")
    q = e.filter(F.col("vec_id") < 8).select(
        (F.col("vec_id") + F.lit(1_000_000)).alias("vec_id"),
        F.transform(
            "embedding",
            lambda x, i: F.when(i == 0, x + F.lit(0.2)).otherwise(x),
        ).alias("embedding"),
    )
    return similarity.lsh_topk(
        e, q, dim=64, k=1, bits=12, tables=4, multiprobe=2
    )


def ann_lsh_multiprobe2(spark: SparkSession, sf_dir: str) -> SparkDF:
    """Multi-BIT multiprobe (Lv et al. 2007's perturbation sequences,
    size <= 2 sets) with planted near-copies that SINGLE-flip probing
    provably cannot reach: at bump +0.35 on dimension 1 (cosine ~0.94
    vs ~0.6 background), query 6's sketch differs from its source in
    AT LEAST TWO planes in EVERY table at sf0.01 (verified offline from
    the hyperplanes; sf0.1's query 4 misses at the probe budget too),
    so no budget of one-bit flips ever surfaces the true rank-1 —
    multiprobe=2 (identical to the historical single-flip variant)
    measurably returns a background vector. The pair perturbation sets
    recover the exact brute-force answer for every query at every
    fixture SF (measured green from multiprobe=8; 12 adds margin).
    The oracle recomputes rank-1 by brute force, so this is a
    recall bit-check of exactly the regime the single-flip knob's
    measured 0.73 ceiling comes from."""
    e = _embs(spark, sf_dir).select("vec_id", "embedding")
    q = e.filter(F.col("vec_id") < 8).select(
        (F.col("vec_id") + F.lit(1_000_000)).alias("vec_id"),
        F.transform(
            "embedding",
            lambda x, i: F.when(i == 0, x + F.lit(0.35)).otherwise(x),
        ).alias("embedding"),
    )
    return similarity.lsh_topk(
        e, q, dim=64, k=1, bits=12, tables=4, multiprobe=12
    )


def ann_ivf(spark: SparkSession, sf_dir: str) -> SparkDF:
    """IVF top-k with nprobe == nlist (probes every inverted list): result
    is exactly brute force, so the same SQL oracle applies — validating the
    quantize→bucket→probe machinery end-to-end. Production uses
    nprobe < nlist for the |corpus|·nprobe/nlist cost cut."""
    e = _embs(spark, sf_dir)
    q = e.filter(F.col("vec_id") < 8)
    return similarity.ivf_topk(e, q, k=5, nlist=8, nprobe=8)


def emb_near_dup_pairs(spark: SparkSession, sf_dir: str) -> SparkDF:
    """Embedding near-duplicate pairs over the corpus with PLANTED exact
    duplicates (copies of every vec_id % 50 == 0 under id +1_000_000).
    At threshold 0.95 the TRUE pair set is exactly the planted
    (source, copy) pairs — the fixture's max non-identical cosine is ~0.6,
    so no other pair qualifies and no boundary case exists — and identical
    vectors collide in every LSH table, so the approximate pipeline must
    recover that set exactly. The oracle recomputes it brute-force in
    DuckDB: a full recall+precision bit-check of the LSH near-dup path."""
    e = _embs(spark, sf_dir).select("vec_id", "embedding")
    planted = e.filter(F.col("vec_id") % 50 == 0).select(
        (F.col("vec_id") + F.lit(1_000_000)).alias("vec_id"), "embedding"
    )
    allv = e.unionByName(planted)
    return similarity.embedding_near_dups(
        allv, dim=64, threshold=0.95, bits=8, tables=4
    ).select("id_a", "id_b", F.round(F.col("cos_sim"), 6).alias("cos_sim"))


def emb_near_dup_multiprobe(spark: SparkSession, sf_dir: str) -> SparkDF:
    """Multiprobe LSH near-dup pairs with PLANTED NEAR-copies (every
    vec_id % 50 == 0 re-planted under id +1_000_000 with dimension 1
    bumped by +0.2 — cosine ~0.97-0.99, so unlike the exact-copy
    fixture the copies land in DIFFERENT buckets when a low-margin
    plane separates them). At the sizing-rule-breaking bits=12 over
    2k vectors, single-probe measurably misses 1-3 of the planted
    pairs at every fixture SF; probing the 2 lowest-margin bit flips
    recovers the full true set, which the oracle recomputes brute-force
    (recall+precision bit-check of the multiprobe path, the knob's
    design contract: buy recall back WITHOUT coarsening buckets)."""
    e = _embs(spark, sf_dir).select("vec_id", "embedding")
    planted = e.filter(F.col("vec_id") % 50 == 0).select(
        (F.col("vec_id") + F.lit(1_000_000)).alias("vec_id"),
        F.transform(
            "embedding",
            lambda x, i: F.when(i == 0, x + F.lit(0.2)).otherwise(x),
        ).alias("embedding"),
    )
    allv = e.unionByName(planted)
    return similarity.embedding_near_dups(
        allv, dim=64, threshold=0.95, bits=12, tables=4, multiprobe=2
    ).select("id_a", "id_b", F.round(F.col("cos_sim"), 6).alias("cos_sim"))


def emb_near_dup_fractional(spark: SparkSession, sf_dir: str) -> SparkDF:
    """Near-dup pairs through the round-10 OCCUPANCY-STABLE cell sizing
    (fractional-bit refinement, the sized_lsh production path): half the
    2^8 coarse cells are split by a 9th hyperplane's sign, multiprobe=2
    probes the two lowest-margin perturbations THROUGH the refinement
    mapping. PLANTED exact duplicates (vec_id % 50 == 0 under
    id +1_000_000) collide at every cell sizing — identical sketches map
    to identical keys, refined or not — and the fixture's max
    non-identical cosine is ~0.6, so the true pair set at threshold 0.95
    is exactly the planted pairs and the oracle recomputes it
    brute-force: a full recall+precision bit-check of the fractional
    bucketing + multiprobe key mapping end to end."""
    e = _embs(spark, sf_dir).select("vec_id", "embedding")
    planted = e.filter(F.col("vec_id") % 50 == 0).select(
        (F.col("vec_id") + F.lit(1_000_000)).alias("vec_id"), "embedding"
    )
    allv = e.unionByName(planted)
    return similarity.embedding_near_dups(
        allv, dim=64, threshold=0.95, bits=8, refine_frac=0.5, tables=4,
        multiprobe=2,
    ).select("id_a", "id_b", F.round(F.col("cos_sim"), 6).alias("cos_sim"))


def emb_near_dup_arrow(spark: SparkSession, sf_dir: str) -> SparkDF:
    """The PRODUCTION near-dup configuration end to end: sized_lsh
    occupancy-stable cells from one corpus count and multiprobe=2,
    scored in the meeting join like every near-dup path. Same
    planted-exact-copy fixture as emb_near_dup_fractional: identical
    vectors collide at every sizing and the fixture's max non-identical
    cosine is ~0.6, so the true pair set at threshold 0.95 is exactly
    the planted pairs and the brute-force oracle replays the same
    cosine bits."""
    from colnade_spark.operators.similarity import sized_lsh

    e = _embs(spark, sf_dir).select("vec_id", "embedding")
    planted = e.filter(F.col("vec_id") % 50 == 0).select(
        (F.col("vec_id") + F.lit(1_000_000)).alias("vec_id"), "embedding"
    )
    allv = e.unionByName(planted)
    bits, frac = sized_lsh(allv.count(), target_occupancy=8.0)
    return similarity.embedding_near_dups(
        allv, dim=64, threshold=0.95, bits=bits, refine_frac=frac,
        tables=4, multiprobe=2,
    ).select("id_a", "id_b", F.round(F.col("cos_sim"), 6).alias("cos_sim"))


def emb_near_dup_injoin(spark: SparkSession, sf_dir: str) -> SparkDF:
    """The same query as emb_near_dup_arrow: sized cells, multiprobe=2,
    every bucket meeting scored inside the join and only threshold
    survivors reaching the distinct, where duplicate meetings collapse
    because the kernel is bit-symmetric and batch-independent. Both
    names stay because the bench board and its goldens list them. Same
    planted-exact-copy fixture and the same brute-force oracle."""
    from colnade_spark.operators.similarity import sized_lsh

    e = _embs(spark, sf_dir).select("vec_id", "embedding")
    planted = e.filter(F.col("vec_id") % 50 == 0).select(
        (F.col("vec_id") + F.lit(1_000_000)).alias("vec_id"), "embedding"
    )
    allv = e.unionByName(planted)
    bits, frac = sized_lsh(allv.count(), target_occupancy=8.0)
    return similarity.embedding_near_dups(
        allv, dim=64, threshold=0.95, bits=bits, refine_frac=frac,
        tables=4, multiprobe=2,
    ).select("id_a", "id_b", F.round(F.col("cos_sim"), 6).alias("cos_sim"))


# 16 centroids for SemDeDup: cluster count is the knob that bounds the
# within-cluster quadratic pass — k=16 cuts candidate pairs 4x vs k=4
# and gives the pairwise join 16-way key parallelism. Quarter-step
# values embed exactly in both engines' SQL literals.
_SEM_CENTROIDS = [
    [((((j * 29) + (d * 13)) % 9) - 4) / 4.0 for d in range(64)]
    for j in range(16)
]


def semdedup_survivors(spark: SparkSession, sf_dir: str) -> SparkDF:
    """SemDeDup cluster-then-prune semantic dedup with PLANTED exact
    duplicates (copies of every vec_id % 25 == 0 under id +1_000_000).
    Identical vectors always share a cluster (identical rounded dots),
    so at threshold 0.95 — above the fixture's ~0.6 max non-identical
    cosine — the drop set is exactly the planted copies, with no
    boundary case. The oracle replays the full rule in DuckDB: same
    argmax cluster assignment, same within-cluster EXISTS prune."""
    from colnade_spark.operators.semdedup import semantic_dedup

    e = _embs(spark, sf_dir).select("vec_id", "embedding")
    planted = e.filter(F.col("vec_id") % 25 == 0).select(
        (F.col("vec_id") + F.lit(1_000_000)).alias("vec_id"), "embedding"
    )
    allv = e.unionByName(planted)
    out = semantic_dedup(allv, _SEM_CENTROIDS, threshold=0.95)
    return out.select("vec_id")


# fixed literal PQ codebooks for the contract query: m=8 subspaces of 8
# dims, ksub=8 codewords, quarter-step values (exact in both engines'
# SQL literals). Untrained — the contract checks the encode+ADC
# machinery, not recall; tests cover trained-codebook recall.
_PQ_CODEBOOKS = [
    [
        [((((j * 37) + (c * 11) + (d * 5)) % 9) - 4) / 4.0 for d in range(8)]
        for c in range(8)
    ]
    for j in range(8)
]


def blocked_url_ids(spark: SparkSession, sf_dir: str) -> SparkDF:
    """URL-blocklist gate (C4/RefinedWeb stage) over INJECTED urls:
    every doc gets a synthetic link on host h<id%5>.site<id%3>.com; the
    blocklist blocks one apex domain (subdomain suffix match) and one
    exact host. The suffix-chain explode keeps the join a broadcast
    hash semi-join — the oracle recomputes extraction, chaining, and
    matching from the same injected text."""
    from colnade_spark.operators.redact import blocked_doc_ids

    docs = _docs(spark, sf_dir).withColumn(
        "text",
        F.concat(
            F.col("text"),
            F.lit(" link http://h"),
            (F.col("doc_id") % 5).cast("string"),
            F.lit(".site"),
            (F.col("doc_id") % 3).cast("string"),
            F.lit(".com/x"),
        ),
    )
    return blocked_doc_ids(
        docs, ["site0.com", "h2.site1.com"], subdomains=True
    )


def hard_negative_pairs(spark: SparkSession, sf_dir: str) -> SparkDF:
    """Contrastive hard-negative mining: per anchor (vec_id < 8), the 5
    most-similar vectors carrying a DIFFERENT synthetic source label
    (vec_id % 4). Broadcast anchors, one corpus scan; rounded cosines,
    id tie-breaks — the oracle replays ranking and the label rule."""
    from colnade_spark.operators.mining import hard_negative_topk

    e = _embs(spark, sf_dir).select(
        "vec_id", "embedding", (F.col("vec_id") % 4).alias("label")
    )
    anchors = e.filter(F.col("vec_id") < 8)
    return hard_negative_topk(e, anchors, k=5)


def ann_pq(spark: SparkSession, sf_dir: str) -> SparkDF:
    """Product-quantization ADC top-k: corpus encoded to 8 nearest-
    codeword ids (integer-space distances — exact argmin, ties to lowest
    code), queries scored by codebook lookup tables. Deterministic end
    to end, so the oracle replays encode AND search bit-for-bit."""
    from colnade_spark.operators.pq import pq_encode, pq_topk

    e = _embs(spark, sf_dir)
    codes = pq_encode(e, _PQ_CODEBOOKS)
    q = e.filter(F.col("vec_id") < 8)
    return pq_topk(codes, q, _PQ_CODEBOOKS, k=5)


def ann_recall_audit(spark: SparkSession, sf_dir: str) -> SparkDF:
    """ANN quality audit: per-query recall@5 of PQ ADC top-k against the
    exact brute-force top-5 (recall_at_k — the audit every index
    parameter change should run). PQ is genuinely lossy, so recall
    fractions are meaningful (not all 1.0); both sides are
    deterministic, so the oracle recomputes approx AND exact
    independently in SQL and replays the set-intersection recall
    bit-for-bit."""
    from colnade_spark.operators.pq import pq_encode, pq_topk
    from colnade_spark.operators.similarity import (
        brute_force_topk,
        recall_at_k,
    )

    e = _embs(spark, sf_dir)
    q = e.filter(F.col("vec_id") < 8)
    exact = brute_force_topk(e, q, k=5)
    approx = pq_topk(pq_encode(e, _PQ_CODEBOOKS), q, _PQ_CODEBOOKS, k=5)
    return recall_at_k(approx, exact)


def pq_screen_survivors(spark: SparkSession, sf_dir: str) -> SparkDF:
    """Stateless semantic-decontamination screen over PQ codes: the 4
    benchmark vectors (vec_id < 4) fold into literal ADC lookup tables,
    every corpus row is encoded and scored at scan speed, and rows whose
    max reconstructed dot reaches 1.7 (ADC units of the synthetic
    literal codebooks) are dropped — including the benchmark members
    themselves. Shuffle-free end to end, so the identical gate runs on
    a stream (pinned by test_pq_screen_gate_is_stateless_on_streams);
    the oracle replays encode, per-query ADC, and the max/threshold
    compare bit-for-bit."""
    from colnade_spark.operators.pq import pq_screen_gate

    e = _embs(spark, sf_dir).select("vec_id", "embedding")
    bench = [
        r.embedding
        for r in e.filter(F.col("vec_id") < 4).orderBy("vec_id").collect()
    ]
    return pq_screen_gate(e, bench, _PQ_CODEBOOKS, threshold=1.7).select(
        "vec_id"
    )


def pq_contamination_bench(spark: SparkSession, sf_dir: str) -> SparkDF:
    """Graded SEMANTIC contamination over compact codes: per benchmark
    vector (vec_id < 4), how many corpus rows its reconstructed-dot ADC
    reaches 1.7 against, the hit fraction, and the max ADC — the
    {semantic, graded-report} cell of the contamination matrix
    (pq_screen_survivors is its boolean-gate twin; the oracle replays
    encode, per-query ADC, and the per-query aggregate)."""
    from colnade_spark.operators.pq import pq_contamination_report, pq_encode

    e = _embs(spark, sf_dir).select("vec_id", "embedding")
    bench = [
        r.embedding
        for r in e.filter(F.col("vec_id") < 4).orderBy("vec_id").collect()
    ]
    codes = pq_encode(e, _PQ_CODEBOOKS)
    return pq_contamination_report(
        codes, bench, _PQ_CODEBOOKS, threshold=1.7
    ).withColumn("query_id", F.col("query_id").cast("long"))


def pq_residual_contamination_bench(spark: SparkSession, sf_dir: str) -> SparkDF:
    """Graded semantic contamination over the RESIDUAL IVF-PQ index:
    per benchmark vector (vec_id < 4), how many corpus rows its
    q·centroid[list] + LUT[residual codes] score reaches 0.5 against,
    the hit fraction, and the max — the {residual index, graded-report}
    cell beside pq_residual_screen_survivors' boolean gate. Oracle
    replays coarse assignment, residual encode, scoring, and the
    per-query aggregate."""
    from colnade_spark.operators.pq import (
        pq_residual_contamination_report,
        pq_residual_encode,
    )

    e = _embs(spark, sf_dir).select("vec_id", "embedding")
    bench = [
        r.embedding
        for r in e.filter(F.col("vec_id") < 4).orderBy("vec_id").collect()
    ]
    codes = pq_residual_encode(e, _PQ_CODEBOOKS, _CENTROIDS)
    return pq_residual_contamination_report(
        codes, bench, _PQ_CODEBOOKS, _CENTROIDS, threshold=0.5
    ).withColumn("query_id", F.col("query_id").cast("long"))


def pq_residual_screen_survivors(spark: SparkSession, sf_dir: str) -> SparkDF:
    """Stateless semantic screen over the RESIDUAL IVF-PQ index: per
    row, ADC = q·centroid[list] + LUT[residual codes] (the q·(c + r̂)
    identity), max over the 4 benchmark vectors, rows reaching 0.5
    dropped — pq_screen_survivors for the persisted-index
    representation (one int + m codes per vector, vectors never
    reconstructed). The synthetic literal codebooks are a CORRECTNESS
    fixture (coarse+residual scoring replayed bit-exactly; 0.5 sits
    inside the fixture's score spread at BOTH test SFs so the gate
    genuinely fires);
    the self-match separation property is pinned with TRAINED residual
    codebooks in tests/ext/test_pq.py. Shuffle-free; the oracle
    replays coarse assignment, residual encode, and the q·c +
    lookup-sum score."""
    from colnade_spark.operators.pq import pq_residual_screen_gate

    e = _embs(spark, sf_dir).select("vec_id", "embedding")
    bench = [
        r.embedding
        for r in e.filter(F.col("vec_id") < 4).orderBy("vec_id").collect()
    ]
    return pq_residual_screen_gate(
        e, bench, _PQ_CODEBOOKS, _CENTROIDS, threshold=0.5
    ).select("vec_id")


def ann_ivfpq(spark: SparkSession, sf_dir: str) -> SparkDF:
    """IVF-PQ with nprobe == nlist (probes every inverted list): result
    is exactly pq_topk, so the same ADC oracle applies — validating the
    bucket→probe→lookup composition end to end. Production uses
    nprobe < nlist for the |corpus|·nprobe/nlist candidate cut."""
    from colnade_spark.operators.pq import ivfpq_topk

    e = _embs(spark, sf_dir)
    q = e.filter(F.col("vec_id") < 8)
    return ivfpq_topk(
        e, q, _PQ_CODEBOOKS, _CENTROIDS, k=5, nprobe=len(_CENTROIDS)
    )


def ann_ivfpq_residual(spark: SparkSession, sf_dir: str) -> SparkDF:
    """Residual IVF-PQ (FAISS IVFPQ proper) with nprobe == nlist: codes
    quantize v - centroid[list]; ADC adds the per-(query, list) q·c
    scalar to the residual lookup sum. Full probe makes every corpus row
    a candidate, so the oracle scores each row directly from its
    deterministic (list, residual codes)."""
    from colnade_spark.operators.pq import ivfpq_residual_topk

    e = _embs(spark, sf_dir)
    q = e.filter(F.col("vec_id") < 8)
    return ivfpq_residual_topk(
        e, q, _PQ_CODEBOOKS, _CENTROIDS, k=5, nprobe=len(_CENTROIDS)
    )


def dsir_doc_weights(spark: SparkSession, sf_dir: str) -> SparkDF:
    """DSIR importance weights (hashed unigram+bigram features, 256
    buckets; target = the English subset, raw = the whole corpus).
    Per-bucket log-ratios are integer-micro-scaled before the per-doc
    sum, so the weight is exact integer arithmetic — order-independent
    and bit-comparable after the final /1e6. The fit uses the fused
    single-pass path (target = a predicate-subset of the corpus, so both
    bucket distributions fall out of ONE tokenize+explode aggregation —
    bit-identical to the two-pass fit, pinned by test)."""
    from colnade_spark.operators.importance import (
        dsir_score_frozen,
        fit_logratio_flagged,
    )

    docs = _docs_spread(spark, sf_dir)
    lr = fit_logratio_flagged(docs, F.col("lang") == "en", buckets=256)
    w = dsir_score_frozen(docs, lr)
    return w.select(
        "doc_id", "n_feats", F.round("weight", 6).alias("weight")
    )


def dsir_sample_ids(spark: SparkSession, sf_dir: str) -> SparkDF:
    """Deterministic Gumbel-top-k importance resampling over the DSIR
    weights: content-addressed uniforms (md5 of salted id), keys rounded
    before ranking, ties on id — the draw replays identically in SQL.
    Same fused single-pass fit as dsir_doc_weights."""
    from colnade_spark.operators.importance import (
        dsir_score_frozen,
        fit_logratio_flagged,
        gumbel_topk,
    )

    docs = _docs_spread(spark, sf_dir)
    lr = fit_logratio_flagged(docs, F.col("lang") == "en", buckets=256)
    w = dsir_score_frozen(docs, lr)
    return gumbel_topk(w, k=100).select("doc_id", "rk")


def image_features_stub(spark: SparkSession, sf_dir: str) -> SparkDF:
    """Multimodal plumbing over mapInPandas with the deterministic fake
    decoder (media payload synthesized from document text bytes).

    FULLY ORACLED since round 6: the fake decoder is a sha256 counter-mode
    expansion with an ASCII counter suffix, and the feature math is the
    integer-moment / integer-phash formulation (multimodal.py) — so DuckDB
    rebuilds the 768 image bytes from sha256(text || ':' || i) hex and
    replays width/height/mean/std/phash bit-for-bit, UDF path included."""
    media = _docs_spread(spark, sf_dir).select(
        F.col("doc_id").alias("media_id"), F.encode("text", "utf-8").alias("payload")
    )
    return multimodal.image_features(media, decoder=multimodal.fake_decode_image)


# Synthetic media fixture: real magic-byte signatures prepended to the
# document text bytes, with a DECLARED format that deliberately disagrees
# on a subset — deterministic, so DuckDB rebuilds the identical payloads
# and replays the hex-prefix sniffing byte for byte.
_MEDIA_SIGS = [
    ("png", "89504E470D0A1A0A"),
    ("jpeg", "FFD8FFE000104A46"),
    ("gif", "474946383961"),
    ("wav", "524946460000000057415645"),  # RIFF + size + 'WAVE' tag
    ("mp3", "494433040000"),  # 'ID3' v2.4 header
]
_MEDIA_DECLARED = ["png", "jpg", "gif", "wav", "mp3"]  # 'jpg' → normalization


def _media_docs(spark: SparkSession, sf_dir: str) -> SparkDF:
    """(media_id, payload, meta{format}) synthesized from documents:
    magic bytes by doc_id % 5, declared format by (doc_id % 7) % 5
    (mismatched whenever the residues differ), and every 11th payload
    signature-less (sniffs to NULL — the corrupt-at-ingest case)."""
    docs = _docs_spread(spark, sf_dir)
    idx = (F.col("doc_id") % 5).cast("int")
    sig = None
    for i, (_, hexsig) in enumerate(_MEDIA_SIGS):
        branch = F.unhex(F.lit(hexsig))
        sig = F.when(idx == i, branch) if sig is None else sig.when(idx == i, branch)
    body = F.encode("text", "utf-8")
    payload = F.when(F.col("doc_id") % 11 == 0, body).otherwise(
        F.concat(sig, body)
    )
    declared = F.element_at(
        F.array(*[F.lit(x) for x in _MEDIA_DECLARED]),
        ((F.col("doc_id") % 7) % 5 + 1).cast("int"),
    )
    return docs.select(
        F.col("doc_id").alias("media_id"),
        payload.alias("payload"),
        F.struct(declared.alias("format")).alias("meta"),
    )


def media_format_mismatch_docs(spark: SparkSession, sf_dir: str) -> SparkDF:
    """Decode-free mislabel audit: rows whose declared meta.format
    disagrees with the payload's magic bytes (jpg/jpeg normalized),
    including unrecognized signatures (sniffed NULL). Pure hex/substring
    built-ins at scan speed — media bytes never leave the scan. The
    oracle rebuilds the payloads and replays the signature CASE chain."""
    return multimodal.media_format_mismatches(_media_docs(spark, sf_dir))


def media_byte_stats_docs(spark: SparkSession, sf_dir: str) -> SparkDF:
    """Decode-free corruption screen: per-payload byte length and
    distinct-byte count from byte_stats' one Arrow-batched pandas pass
    (its entropy output stays unit-tested against numpy — float log2
    sums are not oracle-replayable bit-exactly; the integer columns
    are, via DuckDB byte-slicing)."""
    media = _media_docs(spark, sf_dir)
    return multimodal.byte_stats(media.select("media_id", "payload")).select(
        "media_id", "n_bytes", "n_distinct_bytes"
    )


class OrderLine(Schema):
    l_orderkey: Column[Int64]
    l_extendedprice: Column[Float64]
    l_discount: Column[Float64]
    o_orderdate: Column[Datetime]
    o_orderpriority: Column[Utf8]


def q3_shipping_priority(spark: SparkSession, sf_dir: str) -> SparkDF:
    """TPC-H Q3 shape: selective dim filter (customer segment) broadcast
    into orders, then the orders⋈lineitem fact-fact shuffle join, revenue
    rollup per order. The big-join stress test: both sides shuffle on
    l_orderkey/o_orderkey; AQE handles skew."""
    c = _load(spark, sf_dir, "customer", Customer)
    o = _load(spark, sf_dir, "orders", Orders)
    li = _load(spark, sf_dir, "lineitem", Lineitem)

    building = c.filter(Customer.c_mktsegment == "BUILDING")
    cust_orders = building.join(
        o, on=Customer.c_custkey == Orders.o_custkey
    ).cast_schema(OrdersOfBuilding)
    jo = li.join(
        cust_orders, on=Lineitem.l_orderkey == OrdersOfBuilding.o_orderkey
    ).cast_schema(OrderLine)
    revenue = (
        (OrderLine.l_extendedprice * (1 - OrderLine.l_discount)).cast(Dec4)
    )
    out = (
        jo.filter(OrderLine.o_orderdate < _dt.datetime(1998, 3, 15))
        .group_by(OrderLine.l_orderkey, OrderLine.o_orderdate, OrderLine.o_orderpriority)
        .agg(revenue.sum().alias("rev_d"))
    )
    return (
        out.native.select(
            "l_orderkey",
            F.col("rev_d").cast("double").alias("revenue"),
            "o_orderdate",
            "o_orderpriority",
        )
        .orderBy(F.col("revenue").desc(), "l_orderkey")
        .limit(100)
    )


class OrdersOfBuilding(Schema):
    o_orderkey: Column[Int64]
    o_orderdate: Column[Datetime]
    o_orderpriority: Column[Utf8]


def approx_stats(spark: SparkSession, sf_dir: str) -> SparkDF:
    """Sketch-based stats for 100 TB interactive profiling: HLL distinct +
    t-digest-style quantile, emitted as a DRIVER-VERIFIABLE projection.

    The sketch estimates themselves are engine-specific (not SQL-
    expressible), so the query computes them AND their exact twins in one
    aggregation and emits the exact values plus within-tolerance booleans —
    bit-exact columns a DuckDB oracle replays as (exact, TRUE, TRUE). A
    broken sketch path (wrong column, garbage estimate, lost rows) flips a
    boolean and hash-mismatches. Tolerances: approx_count_distinct's
    default rsd is 0.05 (observed 6.7% @sf0.01, 5.1% @sf0.1 → bound 0.15);
    percentile_approx at accuracy 10000 observed ≤ 1.2e-4 → bound 0.005.
    Raw-estimate surface stays available via the same built-ins
    (tests/ext/test_sketches.py)."""
    o = _load(spark, sf_dir, "orders", Orders).native
    exact_med = F.expr("percentile(o_totalprice, 0.5)").cast("double")
    approx_med = F.percentile_approx("o_totalprice", 0.5, 10000).cast("double")
    # distinct-counts and percentiles aggregate SEPARATELY: mixing a
    # DISTINCT aggregate with percentile buffers in one agg forces the
    # Expand-based multi-distinct plan, whose duplicated rows run the
    # exact-percentile ObjectAggs too — measured 3.6 s vs 0.6 s for the
    # two single-shape aggs + 1-row broadcast crossJoin at sf0.1 (each
    # component alone is ≤0.6 s). The two scans run as concurrent jobs.
    meds = o.agg(
        exact_med.alias("exact_median"),
        (F.abs(approx_med - exact_med) <= 0.005 * exact_med).alias("median_ok"),
    )
    cds = o.agg(
        F.countDistinct("o_custkey").alias("exact_customers"),
        (
            F.abs(F.approx_count_distinct("o_custkey") - F.countDistinct("o_custkey"))
            <= 0.15 * F.countDistinct("o_custkey")
        ).alias("customers_ok"),
    )
    return cds.crossJoin(F.broadcast(meds)).select(
        "exact_customers", "exact_median", "customers_ok", "median_ok"
    )


def asof_align(spark: SparkSession, sf_dir: str) -> SparkDF:
    """As-of join: each click event picks up the most recent prior-or-equal
    purchase value of the same user (operators.asof union+window trick —
    one shuffle on user_id, no range-join blowup)."""
    from colnade_spark.operators.asof import asof_join
    from colnade_spark.tpch import Events

    e = _load(spark, sf_dir, "events", Events).native
    clicks = e.filter(F.col("event_type") == "click").select("event_id", "user_id", "ts")
    purchases = e.filter(F.col("event_type") == "purchase").select("user_id", "ts", "value")
    out = asof_join(clicks, purchases, key="user_id", ts="ts", right_cols=["value"])
    return out.select("event_id", "user_id", "ts", F.col("value_right"))


def rollup_daily(spark: SparkSession, sf_dir: str) -> SparkDF:
    """Hierarchical rollup (day × event_type → day → grand total) — the
    hypertable-style pre-aggregation a metrics store materializes."""
    from colnade_spark.tpch import Events

    e = _load(spark, sf_dir, "events", Events).native
    day = F.date_trunc("day", F.col("ts")).alias("day")
    return (
        e.select(day, "event_type", "value")
        .rollup("day", "event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("value").cast("decimal(18,6)")).cast("double").alias("sum_value"),
        )
    )


def quantiles_totalprice(spark: SparkSession, sf_dir: str) -> SparkDF:
    """Exact linear-interpolation quantiles (extension: reference has no
    quantile op; percentile_approx is the 100 TB path, exact percentile is
    the oracle-checkable one)."""
    o = _load(spark, sf_dir, "orders", Orders).native
    q = F.percentile(F.col("o_totalprice"), F.array(F.lit(0.25), F.lit(0.5), F.lit(0.75)))
    return o.agg(
        F.get(q, 0).alias("q25"), F.get(q, 1).alias("q50"), F.get(q, 2).alias("q75")
    )


def embedding_dim_stats(spark: SparkSession, sf_dir: str) -> SparkDF:
    """posexplode over the embedding column → per-dimension stats (the
    unnest/explode surface; shuffle is on the small (pos) key)."""
    e = _embs(spark, sf_dir)
    return (
        e.select(F.posexplode(F.col("embedding")).alias("pos", "v"))
        .groupBy("pos")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.min("v").cast("double").alias("min_v"),
            F.max("v").cast("double").alias("max_v"),
        )
    )


def struct_field_access(spark: SparkSession, sf_dir: str) -> SparkDF:
    """Struct construction + field access (nested-type surface): pack event
    fields into a struct, extract, aggregate."""
    from colnade_spark.tpch import Events

    e = _load(spark, sf_dir, "events", Events).native
    packed = e.select(
        F.struct(
            F.col("event_type").alias("et"), F.col("value").alias("v")
        ).alias("s")
    )
    return (
        packed.groupBy(F.col("s").getField("et").alias("et"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("s").getField("v").cast("decimal(18,6)"))
            .cast("double")
            .alias("sum_v"),
        )
    )


def latest_order_per_customer(spark: SparkSession, sf_dir: str) -> SparkDF:
    """Keep-newest-per-key via the typed ordered-window extension
    (row_number over (custkey, orderdate desc)) — the canonical
    training-pipeline dedup-by-recency shape."""
    from colnade_spark import row_number

    o = _load(spark, sf_dir, "orders", Orders)
    rn = row_number(
        partition_by=Orders.o_custkey,
        order_by=(Orders.o_orderdate.desc(), Orders.o_orderkey.desc()),
    )
    out = o.with_columns(rn.alias("rn")).with_raw(lambda d: d.filter("rn = 1"))
    return out.native.select("o_custkey", "o_orderkey", "o_orderdate", "o_totalprice")


def json_props_agg(spark: SparkSession, sf_dir: str) -> SparkDF:
    """JSON metadata extraction (from_json with an explicit schema — typed,
    vectorized) + rollup. Training pipelines parse JSON sidecar metadata at
    the scan; schema-on-read with from_json keeps it JVM-side."""
    from colnade_spark.tpch import Events

    e = _load(spark, sf_dir, "events", Events)
    parsed = e.native.withColumn(
        "k", F.from_json(F.col("props"), "struct<k: bigint>").getField("k")
    )
    return (
        parsed.groupBy("event_type")
        .agg(
            F.sum("k").alias("sum_k"),
            F.count(F.when(F.col("k").isNotNull(), 1)).alias("n_with_k"),
        )
        .select("event_type", F.col("sum_k").cast("long").alias("sum_k"), "n_with_k")
    )


def sorted_tail(spark: SparkSession, sf_dir: str) -> SparkDF:
    """tail() after a total sort — deterministic last-n semantics."""
    c = _load(spark, sf_dir, "customer", Customer)
    out = c.sort(Customer.c_custkey).tail(50)
    return out.native.select("c_custkey", "c_name", "c_acctbal")


def sessionize(spark: SparkSession, sf_dir: str) -> SparkDF:
    """Gap-based sessionization (30-min) of the events table — the batch
    twin of operators.sessions.sessionize_stream."""
    from colnade_spark.operators import sessions
    from colnade_spark.tpch import Events

    e = _load(spark, sf_dir, "events", Events)
    return sessions.sessionize_batch(e.native, gap_minutes=30)


def pack_bins(spark: SparkSession, sf_dir: str) -> SparkDF:
    """Chunk documents then pack chunks into 256-token offset bins across
    8 md5-derived shards — per-bin fill stats (operators.packing)."""
    chunks = chunking.chunk_by_tokens(_docs(spark, sf_dir), chunk_size=32, overlap=8)
    return packing.pack_stats(chunks, budget=256, n_shards=8)


def grouped_quantiles(spark: SparkSession, sf_dir: str) -> SparkDF:
    """Exact per-group quantiles (priority × {p25,p50,p75} of totalprice).
    Exact percentile sorts within each group — oracle-checkable twin; at
    100 TB use the approx_percentile path (grouped_quantiles_approx in
    tests) which is one pass, mergeable sketches."""
    o = _load(spark, sf_dir, "orders", Orders).native
    q = F.percentile(
        F.col("o_totalprice"), F.array(F.lit(0.25), F.lit(0.5), F.lit(0.75))
    )
    return (
        o.groupBy("o_orderpriority")
        .agg(q.alias("_q"))
        .select(
            "o_orderpriority",
            F.round(F.get("_q", 0), 6).alias("q25"),
            F.round(F.get("_q", 1), 6).alias("q50"),
            F.round(F.get("_q", 2), 6).alias("q75"),
        )
    )


def tfidf_top_terms(spark: SparkSession, sf_dir: str) -> SparkDF:
    """Top-3 TF-IDF terms per doc (score desc, term asc — total order).
    Two window exchanges + one broadcast of the 1-row corpus count."""
    out = tfidf.top_terms(_docs(spark, sf_dir), k=3)
    return out.select(
        "doc_id",
        F.col("rank").cast("long").alias("rank"),
        "term",
        F.round("tfidf", 6).alias("tfidf"),
    )


def vocab_top_terms(spark: SparkSession, sf_dir: str) -> SparkDF:
    """Corpus-wide vocabulary head: top-50 terms by total count (count
    desc, term asc — total order). Explode → map-side-combined agg →
    TakeOrderedAndProject; shuffle volume is the distinct vocabulary."""
    d = _docs(spark, sf_dir)
    terms = d.select(
        F.explode(
            F.filter(text.tokens(F.lower(F.col("text"))), lambda t: t != "")
        ).alias("term")
    )
    return (
        terms.groupBy("term")
        .agg(F.count("*").cast("long").alias("n"))
        .orderBy(F.col("n").desc(), F.col("term").asc())
        .limit(50)
    )


def doc_length_histogram(spark: SparkSession, sf_dir: str) -> SparkDF:
    """Document length distribution: 10 fixed-width char buckets over
    [0, 1000). One tiny aggregation — the corpus-profiling staple."""
    d = _docs(spark, sf_dir)
    bucket = F.least(
        F.floor(F.length("text") / F.lit(100)), F.lit(9)
    ).cast("long")
    return (
        d.select(bucket.alias("bucket"))
        .groupBy("bucket")
        .agg(F.count("*").cast("long").alias("n_docs"))
    )


def weighted_sample_docs(spark: SparkSession, sf_dir: str) -> SparkDF:
    """Deterministic weighted sample (Efraimidis-Spirakis, hash-derived
    uniforms): 50 docs weighted by length — longer docs proportionally
    favored, same rows on every engine."""
    out = sampling.weighted_sample(_docs(spark, sf_dir), k=50, weight_col="n_chars")
    return out.select("doc_id", "lang")


def decontaminated_ids(spark: SparkSession, sf_dir: str) -> SparkDF:
    """GPT-3-style benchmark decontamination: docs sharing any normalized
    13-gram with the 'benchmark' slice (doc_id % 50 == 0) are dropped —
    which removes the slice itself plus its planted near-copies. The
    oracle replicates with STRING grams (no xxhash64 in DuckDB); results
    agree unless xxhash64 collides (~2^-64 per pair)."""
    # spread: the corpus gram probe ran on the fixture's one input split
    # (0.87 s single-task); dead at scale (reader splits)
    d = _docs_spread(spark, sf_dir)
    bench = d.filter(F.col("doc_id") % 50 == 0)
    out = decontaminate.decontaminate(d, bench, n=13)
    return out.select("doc_id", "lang")


_FUNNEL_STEPS = ["signup", "view", "purchase"]


def funnel_stages(spark: SparkSession, sf_dir: str) -> SparkDF:
    """Per-user ordered funnel (signup → view → purchase, strictly
    increasing event times) — operators.funnel, one user-keyed shuffle,
    no self-joins."""
    from colnade_spark.tpch import Events

    e = _load(spark, sf_dir, "events", Events)
    out = funnel.funnel_user_stages(e.native, _FUNNEL_STEPS)
    return out.select("user_id", "t_1", "t_2", "t_3", "stage_reached")


def funnel_summary(spark: SparkSession, sf_dir: str) -> SparkDF:
    """Aggregate funnel reach counts per step."""
    from colnade_spark.tpch import Events

    e = _load(spark, sf_dir, "events", Events)
    return funnel.funnel_counts(e.native, _FUNNEL_STEPS)


def winnow_sketch(spark: SparkSession, sf_dir: str) -> SparkDF:
    """Winnowing/bottom-k sketch with the portable md5-derived hash; the
    oracle recomputes every sketch row-by-row in DuckDB. h0/hx (first
    element + xor-fold) pin the full sketch content, not just its length."""
    # the per-character substr+md5 winnow transform ran 7.4 s on the ONE
    # task of the single-file fixture scan; the spread is dead at scale
    d = _docs_spread(spark, sf_dir).withColumn(
        "_norm", text.normalized_text(F.col("text"))
    )
    sk_expr = text.winnowing_fingerprint(
        F.col("_norm"), window=8, keep=16, normalized=True, hash_fn=text.md5_hash60
    )
    # stage the sketch as a column: h0/hx would otherwise re-evaluate it
    d = d.withColumn("_sk", sk_expr)
    sk = F.col("_sk")
    hx = F.aggregate(sk, F.lit(0).cast("long"), lambda a, x: a.bitwiseXOR(x))
    return d.select(
        "doc_id",
        F.size(sk).cast("long").alias("sketch_len"),
        F.get(sk, 0).alias("h0"),
        hx.alias("hx"),
    )


def semi_join_urgent_customers(spark: SparkSession, sf_dir: str) -> SparkDF:
    """Typed left-semi join (filtering join, extension): customers with at
    least one 1-URGENT order. Right side is projected to its key pre-join
    — shuffle volume is the key set, AQE broadcasts it when small."""
    c = _load(spark, sf_dir, "customer", Customer)
    o = _load(spark, sf_dir, "orders", Orders)
    urgent = o.filter(Orders.o_orderpriority == "1-URGENT")
    out = c.semi_join(urgent, Customer.c_custkey == Orders.o_custkey)
    return out.native.select("c_custkey", "c_mktsegment")


def anti_join_quiet_customers(spark: SparkSession, sf_dir: str) -> SparkDF:
    """Typed left-anti join: customers with NO 1-URGENT order — the
    filtering-join complement of semi_join_urgent_customers."""
    c = _load(spark, sf_dir, "customer", Customer)
    o = _load(spark, sf_dir, "orders", Orders)
    urgent = o.filter(Orders.o_orderpriority == "1-URGENT")
    out = c.anti_join(urgent, Customer.c_custkey == Orders.o_custkey)
    return out.native.select("c_custkey", "c_mktsegment")


def cube_order_stats(spark: SparkSession, sf_dir: str) -> SparkDF:
    """cube(status, priority) — all four grouping sets in ONE Expand +
    hash aggregate (one exchange); ``gid`` disambiguates subtotal NULLs
    (first key = MSB, same convention as DuckDB GROUPING_ID)."""
    o = _load(spark, sf_dir, "orders", Orders)
    out = o.cube(Orders.o_orderstatus, Orders.o_orderpriority).agg(
        Orders.o_totalprice.cast(Decimal[18, 2]).sum().alias("sum_price_d"),
        Orders.o_orderkey.count().alias("n"),
    )
    return out.native.select(
        "o_orderstatus",
        "o_orderpriority",
        "gid",
        F.col("sum_price_d").cast("double").alias("sum_price"),
        F.col("n").cast("long").alias("n"),
    )


def rollup_returnflag_stats(spark: SparkSession, sf_dir: str) -> SparkDF:
    """rollup(returnflag, linestatus) over lineitem — hierarchical
    subtotals + grand total, decimal-exact sums."""
    li = _load(spark, sf_dir, "lineitem", Lineitem)
    out = li.rollup(Lineitem.l_returnflag, Lineitem.l_linestatus).agg(
        Lineitem.l_quantity.cast(Decimal[18, 2]).sum().alias("sum_qty_d"),
        Lineitem.l_orderkey.count().alias("n"),
    )
    return out.native.select(
        "l_returnflag",
        "l_linestatus",
        "gid",
        F.col("sum_qty_d").cast("double").alias("sum_qty"),
        F.col("n").cast("long").alias("n"),
    )


def melt_part_measures(spark: SparkSession, sf_dir: str) -> SparkDF:
    """Typed melt (unpivot): part measures to (variable, value) rows — a
    narrow Expand, no shuffle, no UDF. Measures pre-cast to double so the
    value column has one exact type on both engines."""
    from colnade_spark.tpch import Part

    p = _load(spark, sf_dir, "part", Part)
    # p_retailprice is already Float64; overwrite p_size as double in place
    p2 = p.with_columns(Part.p_size.cast(Float64).alias(Part.p_size))
    out = p2.melt(
        [Part.p_partkey],
        [Part.p_retailprice, Part.p_size],
        var_name="measure",
        value_name="val",
    )
    return out.native


def interval_click_counts(spark: SparkSession, sf_dir: str) -> SparkDF:
    """Bin-blocked range join (operators.intervals): clicks falling in
    [error-5min, error+5min) windows, counted per error event. The bins
    turn the inequality join into an equi-join — no cartesian, no
    broadcast-nested-loop; the oracle is DuckDB's native inequality
    join."""
    from colnade_spark.operators.intervals import interval_join
    from colnade_spark.tpch import Events

    ev = _load(spark, sf_dir, "events", Events).native
    errors = ev.filter(F.col("event_type") == "error").select(
        F.col("event_id").alias("err_id"),
        (F.col("ts") - F.expr("INTERVAL 5 MINUTES")).alias("w_start"),
        (F.col("ts") + F.expr("INTERVAL 5 MINUTES")).alias("w_end"),
    )
    clicks = ev.filter(F.col("event_type") == "click").select("ts")
    j = interval_join(clicks, errors, "ts", "w_start", "w_end", bin_width_s=600)
    return j.groupBy("err_id").agg(F.count("*").cast("long").alias("n_clicks"))


def dedup_components(spark: SparkSession, sf_dir: str) -> SparkDF:
    """Duplicate-CLUSTER resolution: near-dup PAIRS → per-doc component ids
    via iterative min-label propagation (operators.graph, localCheckpoint
    per round, O(diameter) shuffle-joins). The edge set here is
    deterministic and SQL-expressible (docs adjacent in the per-lang
    length ordering with Δn_chars ≤ 2 — chain-structured, non-trivial
    diameters), so DuckDB window SQL can reproduce the exact component
    labeling the iterative algorithm must converge to."""
    from pyspark.sql.window import Window

    from colnade_spark.operators.graph import connected_components
    from colnade_spark.tpch import Documents

    d = _load(spark, sf_dir, "documents", Documents).native
    w = Window.partitionBy("lang").orderBy("n_chars", "doc_id")
    s = d.select(
        "doc_id",
        "lang",
        "n_chars",
        F.lag("doc_id").over(w).alias("prev_id"),
        F.lag("n_chars").over(w).alias("prev_nc"),
    )
    edges = s.filter(
        F.col("prev_nc").isNotNull() & ((F.col("n_chars") - F.col("prev_nc")) <= 2)
    ).select(F.col("prev_id").alias("src"), F.col("doc_id").alias("dst"))
    nodes = d.select("doc_id")
    return connected_components(edges, nodes=nodes)


def _curation_gates(spark: SparkSession, sf_dir: str):
    """(docs, gates) for the curation report queries: URL blocklist
    (injected links, as in blocked_url_ids), 8-gram benchmark
    contamination (bench = doc_id % 50 == 0), and a n_chars < 120
    length floor."""
    from colnade_spark.operators.decontaminate import contaminated_ids
    from colnade_spark.operators.redact import blocked_doc_ids

    docs = _docs_spread(spark, sf_dir)
    injected = docs.withColumn(
        "text",
        F.concat(
            F.col("text"),
            F.lit(" link http://h"),
            (F.col("doc_id") % 5).cast("string"),
            F.lit(".site"),
            (F.col("doc_id") % 3).cast("string"),
            F.lit(".com/x"),
        ),
    )
    gates = {
        "blocked": blocked_doc_ids(
            injected, ["site0.com", "h2.site1.com"], subdomains=True
        ),
        "contaminated": contaminated_ids(
            docs, docs.filter(F.col("doc_id") % 50 == 0), n=8
        ),
        "short": docs.filter(F.col("n_chars") < 120).select("doc_id"),
    }
    return docs, gates


def curation_funnel_docs(spark: SparkSession, sf_dir: str) -> SparkDF:
    """The curation funnel over the shared three-gate chain (blocked ->
    contaminated -> short, pipeline order): per stage, docs entering,
    dropped (attributed to the FIRST firing gate), surviving, and the
    drop fraction. Exact counts + one IEEE division; the oracle replays
    first-gate attribution as an EXPLICIT literal CASE over the gate
    membership CTEs in pipeline order — independent of the sorted-name
    order the decisions reasons array uses, so renaming a gate cannot
    silently reorder attribution (pinned operator-side by the
    renamed-gate test in tests/ext/test_report.py)."""
    from colnade_spark.operators import report

    docs, gates = _curation_gates(spark, sf_dir)
    ordered = {k: gates[k] for k in ("blocked", "contaminated", "short")}
    return report.curation_funnel(docs, ordered)


def curation_decisions_docs(spark: SparkSession, sf_dir: str) -> SparkDF:
    """Explainable curation verdicts: every doc's keep/drop decision
    with the sorted list of gates it failed (see _curation_gates). The
    oracle replays all three gate memberships and the reasons-array
    construction."""
    from colnade_spark.operators import report

    docs, gates = _curation_gates(spark, sf_dir)
    # The operator's native output carries reasons as array<string>
    # (tested in tests/ext/test_report.py); the registry emits the
    # driver-safe scalar form — the correctness harness canonicalizes
    # via pandas sort/factorize, which cannot hash list values.
    return report.curation_decisions(docs, gates).withColumn(
        "reasons", F.array_join("reasons", "|")
    )


def _churned_snapshot(docs: SparkDF) -> SparkDF:
    """The synthetic 'new' corpus snapshot both diff queries share:
    every 17th doc dropped, every 13th edited, a copy of every 29th
    added under a fresh id."""
    return (
        docs.filter(F.col("doc_id") % 17 != 0)
        .withColumn(
            "text",
            F.when(
                F.col("doc_id") % 13 == 0,
                F.concat(F.col("text"), F.lit(" EDIT")),
            ).otherwise(F.col("text")),
        )
        .unionByName(
            docs.filter(F.col("doc_id") % 29 == 0).withColumn(
                "doc_id", F.col("doc_id") + 1_000_000
            )
        )
    )


def source_overlap_docs(spark: SparkSession, sf_dir: str) -> SparkDF:
    """Cross-source duplication matrix over a three-source corpus built
    in-query (the fixture corpus has no exact cross-source duplicates at
    small SFs): 'full' is the corpus as-is, 'mirror_even' re-ids every
    even doc with case/punctuation mangling, 'mirror_third' every third
    doc with leading whitespace — both normalize to IDENTICAL
    fingerprints, so the expected overlaps are the even/third/sixth
    populations and the matrix also demonstrates normalization
    robustness. Counts are exact ints; jaccard is one IEEE division."""
    from colnade_spark.operators.report import source_overlap_matrix

    d = _docs(spark, sf_dir)
    base = d.select("doc_id", "text", F.lit("full").alias("src"))
    mirror = d.filter(F.col("doc_id") % 2 == 0).select(
        (F.col("doc_id") + 100000).alias("doc_id"),
        F.concat(F.upper("text"), F.lit("!!!")).alias("text"),
        F.lit("mirror_even").alias("src"),
    )
    third = d.filter(F.col("doc_id") % 3 == 0).select(
        (F.col("doc_id") + 200000).alias("doc_id"),
        F.concat(F.lit("   "), F.col("text")).alias("text"),
        F.lit("mirror_third").alias("src"),
    )
    u = base.unionByName(mirror).unionByName(third)
    return source_overlap_matrix(u, group_col="src")


def source_overlap_near_docs(spark: SparkSession, sf_dir: str) -> SparkDF:
    """NEAR-dup cross-source overlap matrix (report.source_overlap_near:
    distinct MinHash band keys per source, shared keys, jaccard) over a
    three-source corpus whose mirrors are NEAR copies that exact
    fingerprints cannot see: 'near_even' re-ids every even doc with a
    TRAILING PHRASE APPENDED, 'near_third' every third doc with a
    LEADING PHRASE — both survive normalization as different strings
    (the exact matrix reports zero overlap here), but at shingle_k=13
    the shingle sets stay ~J>=0.9 and the banded sketch pairs them.
    The oracle replays the ENTIRE pipeline structurally — the HUGEINT
    minhash CTEs (signatures bit-equal to the UDF), band-slice
    grouping, distinct (source, band) pairs, and the matrix tail — so
    every count and the IEEE jaccard division are bit-checked, not
    just sampled."""
    from colnade_spark.operators.report import source_overlap_near

    d = _docs(spark, sf_dir)
    base = d.select("doc_id", "text", F.lit("full").alias("src"))
    near_even = d.filter(F.col("doc_id") % 2 == 0).select(
        (F.col("doc_id") + 100000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" near duplicate tail")).alias("text"),
        F.lit("near_even").alias("src"),
    )
    near_third = d.filter(F.col("doc_id") % 3 == 0).select(
        (F.col("doc_id") + 200000).alias("doc_id"),
        F.concat(F.lit("prefixed variant "), F.col("text")).alias("text"),
        F.lit("near_third").alias("src"),
    )
    u = base.unionByName(near_even).unionByName(near_third)
    return source_overlap_near(
        u, group_col="src", num_hashes=64, bands=16, shingle_k=13
    )


def length_drift_psi_docs(spark: SparkSession, sf_dir: str) -> SparkDF:
    """Per-language PSI drift report between the even-id and odd-id
    halves of the corpus (the standing two-snapshot convention): one row
    per (lang, length bin) with exact counts, add-1-smoothed fractions,
    and the bin's rounded PSI contribution. Exact ints + IEEE divisions
    + the round-6 ln convention, so every column replays."""
    from colnade_spark.operators.report import length_drift_psi

    d = _docs(spark, sf_dir)
    old = d.filter(F.col("doc_id") % 2 == 0)
    new = d.filter(F.col("doc_id") % 2 == 1)
    out = length_drift_psi(
        old, new=new, value_col="n_chars",
        edges=(100, 200, 300, 400, 500), group_col="lang",
    )
    return out.withColumn("bin", F.col("bin").cast("long"))


def blend_frozen_audit_docs(spark: SparkSession, sf_dir: str) -> SparkDF:
    """Within-tolerance audit of the stream-legal frozen-quantile blend
    (blend_quality_frozen) against the EXACT percent_rank blend: per
    language, the exact doc count plus a boolean pinning the max
    |frozen - exact| rank deviation to <= 0.06 — the surrogate's design
    bound is 1/n_quantiles (0.02 at n=50) plus sketch rank error and
    tie spread; measured max on both fixture SFs is 0.020-0.027, so
    0.06 carries >2x margin while still failing on any real drift. The
    oracle replays the exact side and asserts the booleans TRUE (the
    approx_stats / approx_prune_stats pattern: a drifting sketch flips
    the bit and fails the value hash)."""
    from colnade_spark.operators.quality import (
        blend_quality_frozen,
        blend_quality_scores,
        fit_blend_quantiles,
    )

    docs = _docs(spark, sf_dir).select(
        "doc_id", "lang", F.col("n_chars").cast("double").alias("s1")
    )
    model = fit_blend_quantiles(docs, ["s1"], "lang", n_quantiles=50)
    fr = blend_quality_frozen(docs, {"s1": 1.0}, model, "lang")
    ex = blend_quality_scores(docs, {"s1": 1.0}, "lang")
    j = fr.select(
        "doc_id", "lang", F.col("blended_score").alias("_f")
    ).join(ex.select("doc_id", F.col("blended_score").alias("_e")), "doc_id")
    return j.groupBy("lang").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        (F.max(F.abs(F.col("_f") - F.col("_e"))) <= F.lit(0.06)).alias(
            "max_dev_ok"
        ),
    )


def blend_drift_psi_docs(spark: SparkSession, sf_dir: str) -> SparkDF:
    """PSI drift over ENSEMBLE BLEND scores between two corpus snapshots
    (even-id vs odd-id halves, the standing convention): each half is
    rank-blended independently (the blended_quality_docs 0.5/0.3/0.2
    signal mix per language), then the two blended-score distributions
    are binned on FLOAT edges (0.2/0.4/0.6/0.8) per language — the
    'did my quality-score distribution move between runs' report a
    curation pipeline owes its operators. Exact counts, add-1 smoothing,
    one rounded ln term per bin; the oracle replays the per-half
    percent_rank blend and the float-edge binning."""
    from colnade_spark.operators import text as _text
    from colnade_spark.operators.quality import blend_quality_scores
    from colnade_spark.operators.report import length_drift_psi

    d = _docs(spark, sf_dir).select(
        "doc_id",
        "lang",
        F.col("n_chars").alias("s1"),
        _text.token_count(F.col("text")).alias("s2"),
        _text.bpe_token_count(F.col("text")).alias("s3"),
    )

    def blend(half: SparkDF) -> SparkDF:
        return blend_quality_scores(
            half, {"s1": 0.5, "s2": 0.3, "s3": 0.2}, domain_col="lang"
        ).select("doc_id", "lang", "blended_score")

    old = blend(d.filter(F.col("doc_id") % 2 == 0))
    new = blend(d.filter(F.col("doc_id") % 2 == 1))
    out = length_drift_psi(
        old,
        new=new,
        value_col="blended_score",
        edges=(0.2, 0.4, 0.6, 0.8),
        group_col="lang",
    )
    return out.withColumn("bin", F.col("bin").cast("long"))


def psi_frozen_baseline_docs(spark: SparkSession, sf_dir: str) -> SparkDF:
    """The frozen-baseline PSI path (report.fit_psi_baseline ->
    psi_against_baseline): fit the even-id half's exact bin counts once
    (a bounded |groups|x|bins| driver-side artifact — the monitoring
    shape: fit a reference snapshot, score every ingest batch against
    it forever, maintain_drift_reports on streams), then score the
    odd-id half. Deliberately the SAME report as length_drift_psi_docs
    computed through the frozen artifact instead of a second scan —
    bit-equality between the two paths is the point (also pinned in
    tests/ext/test_report.py), so the oracle is shared."""
    from colnade_spark.operators.report import (
        fit_psi_baseline,
        psi_against_baseline,
    )

    d = _docs(spark, sf_dir)
    base = fit_psi_baseline(
        d.filter(F.col("doc_id") % 2 == 0),
        "n_chars",
        (100, 200, 300, 400, 500),
        group_col="lang",
    )
    out = psi_against_baseline(
        d.filter(F.col("doc_id") % 2 == 1),
        base,
        "n_chars",
        (100, 200, 300, 400, 500),
        group_col="lang",
    )
    return out.withColumn("bin", F.col("bin").cast("long"))


def blend_drift_frozen_docs(spark: SparkSession, sf_dir: str) -> SparkDF:
    """The FULLY stream-legal blend-drift monitor
    (quality.blend_drift_frozen, the batch twin of
    maintain_blend_drift): raw signals (n_chars + whitespace token
    count) rank-blend against a LITERAL frozen quantile model — edges
    pinned in-code so the rank surrogate is deterministic and
    SQL-replayable; a sketch-fit model is exercised by
    blend_frozen_audit_docs — then the even-id half's blended-score
    bin counts freeze into a PSI baseline (exact longs,
    report.fit_psi_baseline) and the odd-id half is scored against it.
    No window anywhere: both halves are scan-side folds over literal
    edge arrays, so the scoring path drops into a micro-batch
    unchanged. The oracle replays the frozen ranks (count of edges <=
    score over the literal model), the float-edge binning, and the
    add-1-smoothed PSI report."""
    from colnade_spark.operators import text as _text
    from colnade_spark.operators.quality import (
        blend_drift_frozen,
        blend_quality_frozen,
    )
    from colnade_spark.operators.report import fit_psi_baseline

    d = _docs(spark, sf_dir).select(
        "doc_id",
        "lang",
        F.col("n_chars").cast("double").alias("s1"),
        _text.token_count(F.col("text")).cast("double").alias("s2"),
    )
    model = [
        {"s1": [150.0, 250.0, 350.0, 450.0], "s2": [25.0, 45.0, 65.0, 85.0]}
    ]
    weights = {"s1": 0.6, "s2": 0.4}
    base = fit_psi_baseline(
        blend_quality_frozen(d.filter(F.col("doc_id") % 2 == 0), weights, model),
        "blended_score",
        (0.2, 0.4, 0.6, 0.8),
        group_col="lang",
    )
    out = blend_drift_frozen(
        d.filter(F.col("doc_id") % 2 == 1),
        weights,
        model,
        base,
        edges=(0.2, 0.4, 0.6, 0.8),
        group_col="lang",
    )
    return out.withColumn("bin", F.col("bin").cast("long"))


def corpus_diff_docs(spark: SparkSession, sf_dir: str) -> SparkDF:
    """Incremental-ingest verification: diff two corpus snapshots into
    (doc_id, status ∈ added/removed/changed) by normalized-text
    fingerprint over the shared churn fixture (_churned_snapshot). Only
    the churn is emitted; the oracle replays the snapshot construction,
    both fingerprint sides, and the full-outer status resolution."""
    from colnade_spark.operators import report

    docs = _docs_spread(spark, sf_dir)
    return report.corpus_diff(docs, new=_churned_snapshot(docs))


def changed_docs_gate(spark: SparkSession, sf_dir: str) -> SparkDF:
    """The ingest-side half of the diff: the churned snapshot's rows
    worth processing (added / changed vs the old corpus) with payload
    columns attached — the filter an incremental pipeline puts in
    front of re-tokenize/re-embed. Append-legal on streams (pinned by
    test_changed_rows_gate_is_append_legal_on_streams); the oracle
    replays the fingerprint left join and the status rule."""
    from colnade_spark.operators import report

    docs = _docs_spread(spark, sf_dir)
    return report.changed_rows_gate(_churned_snapshot(docs), old=docs).select(
        "doc_id", "lang", "n_chars", "status"
    )


def corpus_card_docs(spark: SparkSession, sf_dir: str) -> SparkDF:
    """Per-language dataset datasheet: doc count, total character mass,
    and EXACT p50/p90 size quantiles at the pinned integer rank
    (p*n + 99) div 100 — no float rank math, so the per-group window
    replay is bit-exact in any engine."""
    from colnade_spark.operators import report

    return report.corpus_card(
        _docs_spread(spark, sf_dir), group_col="lang", size_col="n_chars"
    )


def corpus_card_binned_docs(spark: SparkSession, sf_dir: str) -> SparkDF:
    """The datasheet's STREAM-MAINTAINABLE tier
    (report.corpus_card_binned, the batch twin of
    maintain_corpus_card/merge_corpus_card): exact per-language doc
    counts and size mass from a fixed-edge bin histogram — pure
    associative sums, so per-batch tables merge losslessly — plus
    bin-resolution quantile UPPER BOUNDS (q_p_le = the smallest pinned
    edge covering the integer-rank quantile; NULL in the unbounded top
    bin). No sort window anywhere. The oracle replays the binning, the
    cumulative threshold at rank (p*n + 99) div 100, and the
    edge-array lookup."""
    from colnade_spark.operators import report

    return report.corpus_card_binned(
        _docs_spread(spark, sf_dir),
        group_col="lang",
        size_col="n_chars",
        edges=(100, 200, 300, 400, 500),
    )


def corpus_card_autofit_docs(spark: SparkSession, sf_dir: str) -> SparkDF:
    """corpus_card_binned over AUTO-FIT edges (report.fit_size_edges):
    log-spaced integer bins from a bounded content-addressed sample —
    the 2048 rows with the smallest md5_hash60(doc_id), lo/hi their
    min/max, ratio = smallest integer r >= 2 with lo * r^5 >= hi, edges
    lo * r^k. The whole fit is integer-exact and replayed STRUCTURALLY
    in the oracle (same top-k-by-hash sample, same minimal-ratio scan,
    same products), so the fitted edges — not just the card tail — are
    bit-checked. This is the frozen-artifact answer to hand-picked
    edges going stale: fit once on a snapshot, pin in the maintainer
    manifest (maintain_corpus_card refuses a refit resume)."""
    from colnade_spark.operators import report

    d = _docs(spark, sf_dir)
    edges = report.fit_size_edges(
        d, size_col="n_chars", id_col="doc_id", n_edges=6, sample_n=2048
    )
    return report.corpus_card_binned(
        _docs_spread(spark, sf_dir),
        group_col="lang",
        size_col="n_chars",
        edges=edges,
    )


def corpus_card_approx_docs(spark: SparkSession, sf_dir: str) -> SparkDF:
    """The datasheet's scan-side twin, driver-verified: corpus_card_approx
    (percentile_approx in one hash agg — NO per-group sort window, plan-
    gated) joined against the exact card, emitting the exact counts/mass
    plus within-5%-of-exact booleans per quantile. GK at accuracy 10000 is
    rank-exact below 10k rows/group (observed approx == exact at both
    SFs), so the 5% bound has enormous margin; the oracle replays
    (exact, TRUE, TRUE)."""
    from colnade_spark.operators import report

    docs = _docs_spread(spark, sf_dir)
    ex = report.corpus_card(docs, group_col="lang", size_col="n_chars")
    ap = report.corpus_card_approx(docs, group_col="lang", size_col="n_chars")
    exr = ex.select(
        F.col("lang"),
        F.col("q_50").alias("_ex_q50"),
        F.col("q_90").alias("_ex_q90"),
    )
    return ap.join(exr, "lang").select(
        "lang",
        "n_docs",
        "total_size",
        (F.abs(F.col("q_50") - F.col("_ex_q50")) <= 0.05 * F.col("_ex_q50")).alias(
            "q50_ok"
        ),
        (F.abs(F.col("q_90") - F.col("_ex_q90")) <= 0.05 * F.col("_ex_q90")).alias(
            "q90_ok"
        ),
    )


def curation_summary_docs(spark: SparkSession, sf_dir: str) -> SparkDF:
    """The one-screen pipeline health check over the same three gates:
    how many documents each gate fired on (a doc failing two gates
    counts under both) plus the __kept__ row — one explode + count over
    the corpus-ID-sized decisions table. The oracle replays the gate
    memberships, the unnest, and the counts."""
    from colnade_spark.operators import report

    docs, gates = _curation_gates(spark, sf_dir)
    return report.curation_summary(report.curation_decisions(docs, gates))


def winnow_overlap_docs(spark: SparkSession, sf_dir: str) -> SparkDF:
    """MOSS-style span-overlap audit: doc pairs sharing >= 10 of their 16
    winnowing fingerprints (md5 rolling hash, window 8; fingerprints
    shared by >20 docs excluded as boilerplate — true near-dup
    fingerprints have document frequency 2-3, and the pair join's cost
    is sum(df²)). The fixture's shared-count
    distribution is bimodal — random-text noise dies at 8 shared, true
    near-dups sit at 14-16 — so 10 sits in the gap. The oracle
    recomputes sketches, the df filter, and the pair counts."""
    from colnade_spark.operators.dedup import winnow_overlap_pairs

    return winnow_overlap_pairs(
        _docs_spread(spark, sf_dir), min_shared=10, max_df=20
    )


def dup_cluster_sizes(spark: SparkSession, sf_dir: str) -> SparkDF:
    """Dedup-audit histogram head: the 20 largest near-dup components of
    the length-chain graph (size desc, ties to lowest component id) —
    the "how bad is the worst cluster" summary every dedup run should
    print. Oracle replays components + the ordered head."""
    from colnade_spark.operators.graph import largest_component_sizes

    cc = dedup_components(spark, sf_dir)
    return largest_component_sizes(cc, top=20)


def canonical_docs_map(spark: SparkSession, sf_dir: str) -> SparkDF:
    """Duplicate-cluster RESOLUTION end-to-end: the dedup_components edge
    set resolved into (doc_id, canonical_id) where the canonical member
    is the cluster's highest-n_chars doc (ties -> lowest id) — the
    "which copy do we keep" step after pair generation + components.
    Singleton docs map to themselves."""
    from pyspark.sql.window import Window

    from colnade_spark.operators.canonical import resolve_canonical
    from colnade_spark.tpch import Documents

    d = _load(spark, sf_dir, "documents", Documents).native
    w = Window.partitionBy("lang").orderBy("n_chars", "doc_id")
    s = d.select(
        "doc_id",
        "n_chars",
        F.lag("doc_id").over(w).alias("prev_id"),
        F.lag("n_chars").over(w).alias("prev_nc"),
    )
    edges = s.filter(
        F.col("prev_nc").isNotNull() & ((F.col("n_chars") - F.col("prev_nc")) <= 2)
    ).select(F.col("prev_id").alias("src"), F.col("doc_id").alias("dst"))
    out = resolve_canonical(
        d.select("doc_id", "n_chars"), edges, score_col="n_chars", src="src", dst="dst"
    )
    return out.select("doc_id", "canonical_id")


def leakage_safe_split_stats(spark: SparkSession, sf_dir: str) -> SparkDF:
    """LEAKAGE-SAFE train/val/test split audit: near-dup components (the
    dedup_components length-chain graph) hash to splits as WHOLE groups
    (sampling.group_split), so no cluster straddles the train/eval
    boundary. Output: per-split doc and group counts. The oracle
    replays components via window SQL and the same md5 gate on the
    component id — any split-purity violation would change the group
    counts and break the bit-compare."""
    from pyspark.sql.window import Window

    from colnade_spark.operators.graph import connected_components
    from colnade_spark.operators.sampling import group_split
    from colnade_spark.tpch import Documents

    d = _load(spark, sf_dir, "documents", Documents).native
    w = Window.partitionBy("lang").orderBy("n_chars", "doc_id")
    s = d.select(
        "doc_id",
        "n_chars",
        F.lag("doc_id").over(w).alias("prev_id"),
        F.lag("n_chars").over(w).alias("prev_nc"),
    )
    edges = s.filter(
        F.col("prev_nc").isNotNull() & ((F.col("n_chars") - F.col("prev_nc")) <= 2)
    ).select(F.col("prev_id").alias("src"), F.col("doc_id").alias("dst"))
    cc = connected_components(edges, nodes=d.select("doc_id"))
    labeled = group_split(
        d.select("doc_id"),
        cc.select(F.col("node").alias("doc_id"), "component"),
        _SPLIT_WEIGHTS,
        salt="split4",
    )
    return (
        labeled.join(
            cc.select(F.col("node").alias("doc_id"), "component"), "doc_id"
        )
        .groupBy("split")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.countDistinct("component").cast("long").alias("n_groups"),
        )
    )


class PartSuppTotals(Schema):
    ps_partkey: Column[Int64]
    ps_suppkey: Column[Int64]
    ps_total_qty: Column[Float64]


def multikey_join_partsupp(spark: SparkSession, sf_dir: str) -> SparkDF:
    """Composite-key equi-join (extension: the reference joins on exactly
    one key). Per-(partkey, suppkey) totals join BACK to lineitem on BOTH
    keys as ONE composite-key hash join — a single shuffle, never
    join-on-one-key-then-filter. Decimal sums for order-independent
    hashes."""
    li = _load(spark, sf_dir, "lineitem", Lineitem)
    totals = (
        li.group_by(Lineitem.l_partkey, Lineitem.l_suppkey)
        .agg(Lineitem.l_quantity.cast(Decimal[18, 2]).sum().alias("ps_total_qty_d"))
        .native.select(
            F.col("l_partkey").alias("ps_partkey"),
            F.col("l_suppkey").alias("ps_suppkey"),
            # decimal total (2 dp) fits a double exactly — order-independent
            F.col("ps_total_qty_d").cast("double").alias("ps_total_qty"),
        )
    )
    keyed = cs.DataFrame(totals, PartSuppTotals)
    j = li.join(
        keyed,
        [
            Lineitem.l_partkey == PartSuppTotals.ps_partkey,
            Lineitem.l_suppkey == PartSuppTotals.ps_suppkey,
        ],
    )
    out = j.native.groupBy("l_returnflag").agg(
        F.sum(F.col("ps_total_qty").cast("decimal(18,2)")).alias("sum_ps_d"),
        F.count("*").cast("long").alias("n"),
    )
    return out.select(
        "l_returnflag",
        F.col("sum_ps_d").cast("double").alias("sum_ps_qty"),
        "n",
    )


def exploded_label_stats(spark: SparkSession, sf_dir: str) -> SparkDF:
    """Typed explode (list column → one row per element; Generate node, no
    shuffle) feeding a per-label aggregate. min/max/count only — float
    sums would be order-dependent across engines."""
    from colnade_spark.tpch import Embeddings

    e = _load(spark, sf_dir, "embeddings", Embeddings)
    flat = e.explode(Embeddings.embedding)
    return flat.native.groupBy("label").agg(
        F.count("*").cast("long").alias("n"),
        F.min(F.col("embedding").cast("double")).alias("lo"),
        F.max(F.col("embedding").cast("double")).alias("hi"),
    ).withColumn("label", F.col("label").cast("long"))


def pivot_status_revenue(spark: SparkSession, sf_dir: str) -> SparkDF:
    """Typed pivot with DECLARED values — compiled to conditional
    aggregation (one exchange; Spark's native pivotfirst plan costs two).
    Decimal-exact sums so the hash is order-independent."""
    o = _load(spark, sf_dir, "orders", Orders)
    piv = o.group_by(Orders.o_orderpriority).pivot(
        Orders.o_orderstatus, ["F", "O", "P"]
    ).agg(Orders.o_totalprice.cast(Decimal[18, 2]).sum().alias("rev"))
    return piv.native.select(
        "o_orderpriority",
        F.col("F").cast("double").alias("F"),
        F.col("O").cast("double").alias("O"),
        F.col("P").cast("double").alias("P"),
    )


def cumulative_acctbal(spark: SparkSession, sf_dir: str) -> SparkDF:
    """Running (cumulative) sum — ROWS UNBOUNDED PRECEDING frame over a
    unique order key, decimal accumulation for cross-engine bit-exactness.
    One hash-partition exchange on nationkey + sort + Window."""
    from colnade_spark import cum_sum

    c = _load(spark, sf_dir, "customer", Customer)
    out = c.with_columns(
        cum_sum(
            Customer.c_acctbal.cast(Decimal[18, 2]),
            partition_by=Customer.c_nationkey,
            order_by=Customer.c_custkey,
        ).alias("run_bal_d")
    )
    return out.native.select(
        "c_custkey",
        "c_nationkey",
        F.col("run_bal_d").cast("double").alias("run_bal"),
    )


def ntile_price_quartiles(spark: SparkSession, sf_dir: str) -> SparkDF:
    """ntile(4) by totalprice within each order status (unique composite
    order key for determinism), then per-(status, quartile) stats."""
    from colnade_spark import ntile

    o = _load(spark, sf_dir, "orders", Orders)
    q = o.with_columns(
        ntile(
            4,
            partition_by=Orders.o_orderstatus,
            order_by=[Orders.o_totalprice.asc(), Orders.o_orderkey.asc()],
        ).alias("quartile")
    )
    return (
        q.native.groupBy("o_orderstatus", "quartile")
        .agg(
            F.count("*").cast("long").alias("n"),
            F.min("o_totalprice").alias("lo"),
            F.max("o_totalprice").alias("hi"),
        )
        .withColumn("quartile", F.col("quartile").cast("long"))
    )


def custkeys_intersect_except(spark: SparkSession, sf_dir: str) -> SparkDF:
    """ANSI set ops on the typed surface: custkeys with BOTH an urgent and
    a finished order (INTERSECT), tagged, unioned with custkeys having
    urgent but NO finished order (EXCEPT). Each set op is one hash shuffle
    on the projected key column only."""
    o = _load(spark, sf_dir, "orders", Orders)
    urgent = o.filter(Orders.o_orderpriority == "1-URGENT").select(Orders.o_custkey)
    fin = o.filter(Orders.o_orderstatus == "F").select(Orders.o_custkey)
    both = urgent.intersect(fin).native.withColumn("tag", F.lit("both"))
    only = urgent.except_(fin).native.withColumn("tag", F.lit("urgent_only"))
    return both.unionByName(only)


def rolling_window_revenue(spark: SparkSession, sf_dir: str) -> SparkDF:
    """Event-time rolling windows (EXTENSION): per customer, trailing
    30-day order revenue/count via RANGE BETWEEN 29 PRECEDING AND CURRENT
    ROW over integer epoch-days — tie-insensitive (same-day orders share
    one frame), so the result is deterministic without a unique order key.
    One hash exchange on o_custkey + sort; decimal accumulation for
    cross-engine bit-exactness."""
    from colnade_spark import rolling_count, rolling_sum

    o = _load(spark, sf_dir, "orders", Orders)
    day = Orders.o_orderdate.dt_epoch_day()
    out = o.with_columns(
        rolling_sum(
            Orders.o_totalprice.cast(Decimal[18, 2]),
            partition_by=Orders.o_custkey,
            order_by=day,
            preceding=29,
            range_frame=True,
        ).alias("rev_30d_d"),
        rolling_count(
            Orders.o_orderkey,
            partition_by=Orders.o_custkey,
            order_by=day,
            preceding=29,
            range_frame=True,
        ).alias("n_30d"),
    )
    return out.native.select(
        "o_orderkey",
        "o_custkey",
        F.col("rev_30d_d").cast("double").alias("rev_30d"),
        F.col("n_30d").cast("long").alias("n_30d"),
    )


def math_regex_funcs(spark: SparkSession, sf_dir: str) -> SparkDF:
    """Math + regex scalar-function extensions in one projection: decimal
    half-up rounding, sqrt/ln (rounded to 6 places — the cross-engine
    float convention), floor, regex extract (no-match → NULL on both
    engines), regex search, 0-based slice, and is_in membership pushdown.
    All JVM built-ins inside one codegen stage; the is_in filter reaches
    the parquet scan."""
    from colnade_spark.tpch import Part

    p = _load(spark, sf_dir, "part", Part)
    out = p.filter(Part.p_brand.is_in(["Brand#12", "Brand#17", "Brand#23"])).with_columns(
        Part.p_retailprice.cast(Decimal[12, 2]).round(0).alias("price_r0_d"),
        Part.p_retailprice.sqrt().round(6).alias("price_sqrt"),
        Part.p_retailprice.ln().round(6).alias("price_ln"),
        Part.p_retailprice.floor().alias("price_floor_l"),
        Part.p_name.str_extract("^([a-z]+)", 1).alias("first_word"),
        Part.p_type.str_matches("ECO|SMA").alias("is_eco_small"),
        Part.p_name.str_slice(0, 5).alias("head5"),
    )
    return out.native.select(
        "p_partkey",
        F.col("price_r0_d").cast("double").alias("price_r0"),
        "price_sqrt",
        "price_ln",
        F.col("price_floor_l").cast("long").alias("price_floor"),
        "first_word",
        "is_eco_small",
        "head5",
    )


def edit_distance_dups(spark: SparkSession, sf_dir: str) -> SparkDF:
    """Bounded-Levenshtein near-dup pairs: length-band blocked candidate
    join (ids+lengths only), thresholded banded-DP verify after the text
    joins back. Exact twin of the LSH pipelines — and the exact VERIFIER
    for them via the candidates= parameter."""
    from colnade_spark.operators import dedup

    return dedup.edit_distance_pairs(
        _docs(spark, sf_dir), max_dist=16, block_cols=("lang",)
    )


def price_rank_dist(spark: SparkSession, sf_dir: str) -> SparkDF:
    """percent_rank + cume_dist over a unique composite order key — both
    are (small-int)/(small-int) divisions, so the doubles are identical
    across engines with no rounding convention needed."""
    from colnade_spark import cume_dist, percent_rank

    o = _load(spark, sf_dir, "orders", Orders)
    out = o.with_columns(
        percent_rank(
            partition_by=Orders.o_orderstatus,
            order_by=[Orders.o_totalprice.asc(), Orders.o_orderkey.asc()],
        ).alias("pr"),
        cume_dist(
            partition_by=Orders.o_orderstatus,
            order_by=[Orders.o_totalprice.asc(), Orders.o_orderkey.asc()],
        ).alias("cd"),
    )
    return out.native.select("o_orderkey", "o_orderstatus", "pr", "cd")


def unigram_quality(spark: SparkSession, sf_dir: str) -> SparkDF:
    """Corpus-unigram negative log-likelihood per doc (the cheap
    perplexity proxy): two map-side-combined explode aggregations and a
    token-keyed join — the same shuffle shape as TF-IDF. Scores rounded
    to 6 places on both engines (float log sums)."""
    from colnade_spark.operators.quality import unigram_logprob

    out = unigram_logprob(_docs_spread(spark, sf_dir))
    return out.select(
        "doc_id", "n_toks", F.round("neg_logprob", 6).alias("neg_logprob")
    )


def semantic_decontaminated_ids(spark: SparkSession, sf_dir: str) -> SparkDF:
    """Semantic decontamination: corpus embeddings with cosine >= 0.4 to
    any held-out 'benchmark' embedding (vec_id % 50 == 0). The benchmark
    side broadcasts (eval sets are small); the corpus streams through one
    narrow BroadcastNestedLoopJoin — no shuffle."""
    from colnade_spark.operators.decontaminate import semantic_contaminated_ids

    emb = _embs(spark, sf_dir)
    bench = emb.filter(F.col("vec_id") % 50 == 0)
    corpus = emb.filter(F.col("vec_id") % 50 != 0)
    return semantic_contaminated_ids(corpus, bench, threshold=0.4)


_MIX_TARGETS = {"src0": 0.5, "src1": 0.3, "src2": 0.2}
# Normalized exactly as operators.sampling.mixture_sample normalizes (one
# float sum, then one divide per weight); the oracle embeds THESE values so
# Python-vs-SQL normalization order can never diverge in the last bits,
# even for target dicts whose raw sum is not IEEE-exactly 1.0.
_MIX_T = {
    s: w / sum(_MIX_TARGETS.values()) for s, w in _MIX_TARGETS.items()
}


def mixture_sample_docs(spark: SparkSession, sf_dir: str) -> SparkDF:
    """Domain-mixture resampling: subsample sources src0/src1/src2 to a
    50/30/20 output mixture (downsampling only; the binding source keeps
    every row). Per-source md5 hash gates — deterministic membership,
    no data shuffle; rates derive from one counting aggregate. The
    DuckDB twin starts from the SAME Python-normalized weights
    (``_MIX_T``) and recomputes the rates with the same float operation
    order, so the surviving ROW SET matches bit-exact."""
    return sampling.mixture_sample(
        _docs(spark, sf_dir),
        "source",
        _MIX_TARGETS,
        salt="mix1",
    ).select("doc_id", "source")


def temperature_mixture_docs(spark: SparkSession, sf_dir: str) -> SparkDF:
    """Temperature-flattened source mixture at alpha=0.5 (the XLM-R
    exponentiated-sampling recipe): output ∝ sqrt(n_s), downsampling
    only. The fixture's sources are uniform (flattening would be a
    no-op), so a skewed 60/30/10 domain label is derived in-query —
    sqrt-flattening then MUST downsample the big domains while the
    smallest keeps every row. alpha=0.5 keeps every threshold inside
    correctly-rounded IEEE ops (sqrt, *, /), so the DuckDB twin
    recomputes the identical integer thresholds from the same
    per-domain counts and the surviving ROW SET matches bit-exact."""
    d = _docs(spark, sf_dir).withColumn(
        "domain",
        F.when(F.col("doc_id") % 10 < 6, "head")
        .when(F.col("doc_id") % 10 < 9, "torso")
        .otherwise("tail"),
    )
    return sampling.temperature_mixture(
        d, alpha=0.5, source_col="domain", salt="temp4"
    ).select("doc_id", "domain")


def contamination_report_bench(spark: SparkSession, sf_dir: str) -> SparkDF:
    """Graded decontamination audit at n=8: per benchmark doc (doc_id %
    50 == 0), the fraction of its distinct 8-gram set found anywhere in
    the rest of the corpus. Exact integer counts; the fraction is one
    long/long division (identical doubles both engines)."""
    from colnade_spark.operators.decontaminate import contamination_report

    docs = _docs_spread(spark, sf_dir)
    bench = docs.filter(F.col("doc_id") % 50 == 0)
    corpus = docs.filter(F.col("doc_id") % 50 != 0)
    return contamination_report(corpus, bench, n=8)


def token_budget_pruned_ids(spark: SparkSession, sf_dir: str) -> SparkDF:
    """Per-lang token-budget pruning: docs taken longest-first (ties to
    lowest id) until each lang's cumulative n_chars reaches 20000 — the
    boundary-crossing doc excluded. Exact integer cumulative sums; the
    oracle replays the running-sum window and the budget cut."""
    from colnade_spark.operators.quality import token_budget_prune

    out = token_budget_prune(
        _docs(spark, sf_dir),
        budget=20_000,
        token_col="n_chars",
        domain_col="lang",
        score_col="n_chars",
    )
    return out.select("doc_id", "lang", "n_chars")


def training_order_docs(spark: SparkSession, sf_dir: str) -> SparkDF:
    """Deterministic training order: every doc assigned (shard, pos) —
    shard = md5 order-key mod 8, pos = rank within shard by (key, id).
    Reading shards in index order replays one stable pseudo-random
    permutation; the oracle recomputes the identical coordinates."""
    from colnade_spark.operators.shards import training_order

    return training_order(
        _docs(spark, sf_dir), n_shards=8, salt="ord4"
    ).select("doc_id", "shard", "pos")


def balanced_shards_docs(spark: SparkSession, sf_dir: str) -> SparkDF:
    """Token-balanced training shards: membership cuts the
    content-addressed hash order into 16 contiguous spans at
    equal-weight boundaries (weight = n_chars here), so each shard's
    size sum lands within one max-document of total/16 — the FFD/LPT
    balance target as a distributed prefix sum (bucketed in Spark, a
    plain running sum in the oracle; the decompositions are exactly
    equal)."""
    from colnade_spark.operators.shards import training_order

    return training_order(
        _docs_spread(spark, sf_dir),
        n_shards=16,
        salt="bal5",
        balance_col="n_chars",
    ).select("doc_id", "shard", "pos")


def semantic_contamination_scores(spark: SparkSession, sf_dir: str) -> SparkDF:
    """Graded semantic audit: every corpus embedding's cosine to its
    nearest benchmark vector (vec_id < 4), rounded to 6. The fold, the
    norm guards, and the division replay bitwise in DuckDB
    (list_inner_product == the sequential Spark fold)."""
    from colnade_spark.operators.decontaminate import (
        semantic_contamination_report,
    )

    e = _embs(spark, sf_dir)
    return semantic_contamination_report(e, e.filter(F.col("vec_id") < 4))


def approx_prune_stats(spark: SparkSession, sf_dir: str) -> SparkDF:
    """Within-tolerance audit of quality_prune_threshold — the scan-side
    (percentile_approx) reduction of quality_prune, previously the one
    pipeline operator with no driver-checkable value signal. Per lang:
    exact doc count and a boolean pinning the approx-pruned kept fraction
    to 0.4 ± 0.12 (the slack covers GK rank error plus ties-at-threshold
    inflation, which the operator documents as all-surviving). The oracle
    replays the exact side and asserts the booleans TRUE — a drifting
    sketch flips the bit and fails the value hash (same pattern as
    approx_stats / corpus_card_approx_docs)."""
    from colnade_spark.operators.quality import quality_prune_threshold

    docs = _docs(spark, sf_dir)
    kept = quality_prune_threshold(
        docs, frac=0.4, score_col="n_chars", domain_col="lang"
    )
    kept_counts = kept.groupBy("lang").agg(F.count(F.lit(1)).alias("_k"))
    totals = docs.groupBy("lang").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs")
    )
    return totals.join(kept_counts, "lang", "left").select(
        "lang",
        "n_docs",
        (
            F.abs(
                F.coalesce(F.col("_k"), F.lit(0)).cast("double")
                / F.col("n_docs")
                - F.lit(0.4)
            )
            <= F.lit(0.12)
        ).alias("kept_frac_ok"),
    )


def quality_pruned_ids(spark: SparkSession, sf_dir: str) -> SparkDF:
    """Per-domain quality pruning: keep the top 40% of documents by
    n_chars WITHIN each lang (ceil(0.4·n) rows per lang, ties to lowest
    doc_id) — pruning per bucket instead of globally so no language is
    crowded out. The oracle replays the rank window, the per-domain
    count, and the ceil cutoff."""
    from colnade_spark.operators.quality import quality_prune

    out = quality_prune(
        _docs(spark, sf_dir), frac=0.4, score_col="n_chars", domain_col="lang"
    )
    return out.select("doc_id", "lang", "n_chars")


def describe_orders(spark: SparkSession, sf_dir: str) -> SparkDF:
    """describe(): one aggregation job summarizing every numeric column
    (count/mean/std/min/max), reshaped long. Float stats rounded to 6
    places on both engines (the cross-engine float-agg convention)."""
    o = _load(spark, sf_dir, "orders", Orders)
    d = o.describe(Orders.o_orderkey, Orders.o_custkey, Orders.o_totalprice)
    return d.native.select(
        "col_name",
        F.col("n_non_null").cast("long").alias("n_non_null"),
        F.round("mean", 6).alias("mean"),
        F.round("std", 6).alias("std"),
        "lo",
        "hi",
    )


def dt_arith_funcs(spark: SparkSession, sf_dir: str) -> SparkDF:
    """Temporal arithmetic + row-wise extremes + separator concat +
    regex match counting, one projection. dt_diff counts COMPLETE units
    (== DuckDB's boundary counting here because both operands are
    midnight timestamps)."""
    from colnade_spark import concat_str, greatest, least

    o = _load(spark, sf_dir, "orders", Orders)
    out = o.with_columns(
        Orders.o_orderdate.dt_add("day", 30).alias("due"),
        Orders.o_orderdate.dt_diff(
            "day", Orders.o_orderdate.dt_truncate("month")
        ).alias("mday"),
        concat_str(Orders.o_orderstatus, Orders.o_orderpriority, sep="-").alias(
            "tag"
        ),
        Orders.o_orderpriority.str_count_matches("[0-9]").alias("ndig"),
        greatest(Orders.o_totalprice, 100000.0).alias("hi"),
        least(Orders.o_totalprice, 100000.0).alias("lo"),
    )
    return out.native.select(
        "o_orderkey",
        "due",
        F.col("mday").cast("long").alias("mday"),
        "tag",
        F.col("ndig").cast("long").alias("ndig"),
        "hi",
        "lo",
    )


def list_ops_ext(spark: SparkSession, sf_dir: str) -> SparkDF:
    """Extension list ops chained on a computed expression: split the doc
    text into tokens, then unique/sort/slice/join — all JVM array
    built-ins in one projection, no shuffle, no Python."""
    from colnade_spark.tpch import Documents

    d = _load(spark, sf_dir, "documents", Documents)
    toks = Documents.text.str_split(" ")
    out = d.with_columns(
        toks.list.len().alias("n_toks"),
        toks.list.unique().list.len().alias("n_uniq"),
        toks.list.slice(0, 3).list.join(" ").alias("head3"),
        toks.list.sort().list.get(0).alias("first_alpha"),
    )
    return out.native.select(
        "doc_id",
        F.col("n_toks").cast("long").alias("n_toks"),
        F.col("n_uniq").cast("long").alias("n_uniq"),
        "head3",
        "first_alpha",
    )


def prototype_pruned_ids(spark: SparkSession, sf_dir: str) -> SparkDF:
    """Self-supervised-prototype data pruning end-to-end (Sorscher et al.
    2022 "Beyond neural scaling laws"): train k-means centroids (k=4,
    one Lloyd iteration, lowest-id init), score every embedding's
    distance to its nearest centroid, and keep the HARDEST half of each
    cluster (farthest from centroid — the abundant-data regime where
    prototypical examples are redundant). Training, assignment, and the
    per-cluster rank cut are ALL replayed in SQL — distances are
    deterministic IEEE folds over integer-scaled vectors, so the emitted
    proto_dist doubles match bit-for-bit."""
    from colnade_spark.operators.clustering import kmeans, prototype_prune

    emb = _embs(spark, sf_dir)
    _, cents = kmeans(
        emb, "vec_id", "embedding", k=4, iters=1, return_centroids=True
    )
    out = prototype_prune(emb, cents, frac=0.5, mode="keep_hard")
    return out.select("vec_id", "cluster", "proto_dist")


def kmeans_clusters(spark: SparkSession, sf_dir: str) -> SparkDF:
    """Distributed Lloyd's k-means (k=4, 2 iterations, lowest-id init) on
    the embeddings table. Reproducible by construction: integer-scaled
    vectors make centroid numerators exact order-independent sums, so the
    DuckDB twin (same unrolled iterations in SQL) matches bit-exact —
    a cross-engine-verified ITERATIVE algorithm, not just a snapshot."""
    from colnade_spark.operators.clustering import kmeans

    return kmeans(_embs(spark, sf_dir), "vec_id", "embedding", k=4, iters=2)


def _kmeans_ctes(k: int = 4, iters: int = 2, dim: int = 64) -> str:
    """Unrolled Lloyd iterations as a DuckDB WITH-body, mirroring
    operators/clustering.py operation-for-operation (same scale, same
    left-to-right distance fold, same lowest-cid tie-break). The final
    assignment CTE ``asg{iters}`` carries both the centroid id AND the
    squared distance (id, cid, d) so the kmeans oracle and the
    prototypicality oracles share one replay; callers append their own
    final SELECT."""
    scale = float(1 << 20)
    dist = (
        "list_reduce(list_transform(range(1, {d1}), i -> "
        "(CAST(p.v[i] AS DOUBLE) - c.c[i]) * (CAST(p.v[i] AS DOUBLE) - c.c[i])"
        "), (a, b) -> a + b)"
    ).format(d1=dim + 1)
    parts = [
        f"""WITH pts AS (
          SELECT vec_id AS id,
                 list_transform(embedding, x ->
                   CAST(round(CAST(x AS DOUBLE) * {scale}) AS BIGINT)) AS v
          FROM embeddings
        ), cent0 AS (
          SELECT CAST(row_number() OVER (ORDER BY id) - 1 AS INT) AS cid,
                 list_transform(v, x -> CAST(x AS DOUBLE)) AS c
          FROM (SELECT id, v FROM pts ORDER BY id LIMIT {k})
        )"""
    ]
    for it in range(iters + 1):
        parts.append(
            f""", asg{it} AS (
          SELECT p.id, (min({{'d': {dist}, 'cid': c.cid}})).cid AS cid,
                 (min({{'d': {dist}, 'cid': c.cid}})).d AS d
          FROM pts p CROSS JOIN cent{it} c
          GROUP BY p.id
        )"""
        )
        if it == iters:
            break
        parts.append(
            f""", sums{it} AS (
          SELECT a.cid, t.i AS pos,
                 CAST(sum(p.v[t.i]) AS BIGINT) AS s, count(*) AS n
          FROM asg{it} a JOIN pts p USING (id)
          CROSS JOIN range(1, {dim + 1}) t(i)
          GROUP BY a.cid, t.i
        ), cent{it + 1} AS (
          SELECT cp.cid, COALESCE(m.c, cp.c) AS c
          FROM cent{it} cp LEFT JOIN (
            SELECT cid, list(CAST(s AS DOUBLE) / n ORDER BY pos) AS c
            FROM sums{it} GROUP BY cid
          ) m USING (cid)
        )"""
        )
    return "".join(parts)


def _kmeans_oracle_sql(k: int = 4, iters: int = 2, dim: int = 64) -> str:
    """DuckDB twin of kmeans_clusters: the shared Lloyd CTEs plus the
    (vec_id, cluster) projection."""
    return (
        _kmeans_ctes(k, iters, dim)
        + f"\nSELECT id AS vec_id, CAST(cid AS BIGINT) AS cluster FROM asg{iters}"
    )


def _prototype_prune_oracle_sql(
    k: int = 4, iters: int = 1, dim: int = 64, frac: float = 0.5
) -> str:
    """DuckDB twin of prototype_pruned_ids: the shared Lloyd CTEs train
    the centroids, the final assignment's (cid, d) is exactly
    clustering.prototypicality's output (same fold, same tie rule), and
    the keep_hard cut replays the per-cluster rank window — farthest
    first, ties to the lowest id, ceil(frac * n_cluster) survivors."""
    return f"""
        {_kmeans_ctes(k, iters, dim)},
        ranked AS (
          SELECT id, cid, d,
            row_number() OVER (PARTITION BY cid
                               ORDER BY d DESC, id) AS rn,
            count(*) OVER (PARTITION BY cid) AS n
          FROM asg{iters}
        )
        SELECT id AS vec_id, CAST(cid AS BIGINT) AS cluster, d AS proto_dist
        FROM ranked WHERE rn <= ceil(n * {frac!r})
    """


def sketch_rollup_users(spark: SparkSession, sf_dir: str) -> SparkDF:
    """Mergeable HLL sketch table: one scan builds per-(event_type, day)
    binary sketches; the per-type distinct-user estimate comes from
    LOSSLESS sketch union, never a rescan.

    Emitted as a DRIVER-VERIFIABLE projection: the DataSketches binary and
    its estimate aren't SQL-expressible, so the query joins the rolled-up
    estimate against the exact per-type countDistinct and emits the exact
    value plus a within-5%-tolerance boolean (observed union-estimate error
    0% @sf0.01, 0.8% @sf0.1). The oracle replays (exact, TRUE); a broken
    build/merge/estimate path flips the boolean. Raw estimate surface +
    estimate==direct-estimate losslessness stay pinned in
    tests/ext/test_sketches.py."""
    from colnade_spark.operators.sketches import (
        build_sketch_table,
        estimate,
        merge_sketch_table,
    )
    from colnade_spark.tpch import table_path as _tp

    from colnade_spark.io import read_parquet_table

    ev = read_parquet_table(_tp(sf_dir, "events"), spark).withColumn(
        "day", F.to_date("ts")
    )
    daily = build_sketch_table(ev, ["event_type", "day"], "user_id")
    est = estimate(merge_sketch_table(daily, ["event_type"]))
    exact = ev.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("exact_users")
    )
    return est.join(exact, "event_type").select(
        "event_type",
        "exact_users",
        (
            F.abs(F.col("n_distinct_est") - F.col("exact_users"))
            <= 0.05 * F.col("exact_users")
        ).alias("within_5pct"),
    )


# ---------------------------------------------------------------------------
# contract functions
# ---------------------------------------------------------------------------


class OrderFlagMap(Schema):
    l_orderkey: Column[Int64]
    fm: Column[MapD[Utf8, Float64]]


def map_flag_stats(spark: SparkSession, sf_dir: str) -> SparkDF:
    """Map-dtype end-to-end (EXTENSION — the reference has no Map dtype):
    a per-order map of returnflag → total quantity is built in-query
    (map_from_entries over per-flag partial sums — two map-side-combined
    aggregations, one exchange each), then the TYPED Map accessors extract
    deterministic scalars: try-get ('N'), contains ('R'), size, and the
    SORTED key list joined to a string. Maps never cross the comparison
    boundary — only these deterministic projections do — so the DuckDB
    twin expresses the same semantics relationally (CASE max / bool_or /
    count / ordered string_agg)."""
    from colnade_spark.dataframe import DataFrame as TypedDF

    li = _load(spark, sf_dir, "lineitem", Lineitem)
    per = li.native.groupBy("l_orderkey", "l_returnflag").agg(
        F.sum("l_quantity").alias("q")
    )
    m = per.groupBy("l_orderkey").agg(
        F.map_from_entries(
            F.array_sort(
                F.collect_list(
                    F.struct(
                        F.col("l_returnflag").alias("k"), F.col("q").alias("v")
                    )
                )
            )
        ).alias("fm")
    )
    f = TypedDF(m, OrderFlagMap)
    out = f.with_columns(
        OrderFlagMap.fm.map.get("N").alias("qty_n"),
        OrderFlagMap.fm.map.contains("R").alias("has_r"),
        OrderFlagMap.fm.map.len().alias("n_flags"),
        OrderFlagMap.fm.map.keys().list.join("|").alias("flags"),
    )
    return out.native.select(
        "l_orderkey",
        "qty_n",
        "has_r",
        F.col("n_flags").cast("long").alias("n_flags"),
        "flags",
    )


# epoch weights for the domain-upsampling query; the fractional-epoch hash
# gates are computed ONCE here with the operator's own arithmetic
# (int(frac * 2^60) on IEEE floats) and embedded into BOTH engines
_UPSAMPLE_EPOCHS = {"en": 1.0, "de": 2.5, "fr": 2.0, "es": 1.4, "zh": 3.2}
_UPSAMPLE_GATES = {
    lang: int((e - int(e)) * (1 << 60)) for lang, e in _UPSAMPLE_EPOCHS.items()
}


def duplicate_span_stats(spark: SparkSession, sf_dir: str) -> SparkDF:
    """Corpus-internal duplicated-span profile (Lee et al. 2022): per doc,
    the number of maximal duplicated >=8-token spans and the token count
    they cover. Only docs with at least one duplicated span appear."""
    sp = spans.duplicate_spans(_docs_spread(spark, sf_dir), k=8, min_count=2)
    return sp.groupBy("doc_id").agg(
        F.count("*").alias("n_spans"),
        F.sum(F.col("span_end") - F.col("span_start") + 1)
        .cast("long")
        .alias("dup_tokens"),
    )


def span_decontaminated_docs(spark: SparkSession, sf_dir: str) -> SparkDF:
    """SURGICAL decontamination end-to-end: benchmark = every 97th doc
    (in-query — its passages are corpus text by construction, so
    contamination is guaranteed), n=13 GPT-3 rule; each doc's normalized
    text with benchmark-overlapping spans excised, plus the exact count
    of removed tokens. String + count compare against the oracle's
    reconstruction."""
    from colnade_spark.operators import decontaminate as _dc

    d = _docs_spread(spark, sf_dir)
    bench = _docs(spark, sf_dir).filter(F.col("doc_id") % 97 == 0)
    out = _dc.remove_contaminated_spans(d, bench, n=13)
    n_clean = F.size(
        F.filter(F.split(F.col("text_clean"), " "), lambda x: x != "")
    )
    return out.select(
        "doc_id",
        "text_clean",
        (F.size(spans.clean_tokens(F.col("text"))) - n_clean)
        .cast("long")
        .alias("n_removed"),
    )


def span_removal_clean(spark: SparkSession, sf_dir: str) -> SparkDF:
    """End-to-end duplicated-span REMOVAL: every doc's normalized text
    with corpus-duplicated >=8-token spans excised (string-compared
    against the oracle's reconstruction)."""
    out = spans.remove_duplicate_spans(_docs_spread(spark, sf_dir), k=8, min_count=2)
    return out.select("doc_id", F.col("text_dedup").alias("text_clean"))


def _lined_docs(spark: SparkSession, sf_dir: str) -> SparkDF:
    """documents plus ``lined``: normalized tokens grouped into 8-token
    lines joined with newlines — a deterministic multi-line derivation
    both engines express identically (the fixture has no raw newlines,
    so line-level dedup needs a derived line structure). Spread scan:
    the nested HOF line derivation is compute-dense and the fixture is
    one parquet split."""
    d = _docs_spread(spark, sf_dir)
    staged = d.withColumn("_lt", spans.clean_tokens(F.col("text")))
    n_lines = F.ceil(F.size("_lt") / F.lit(8)).cast("int")
    # filter-guard, not F.when: F.sequence(0, -1) descends (see
    # operators/text.char_ngrams)
    positions = F.filter(
        F.sequence(F.lit(0), F.greatest(n_lines - 1, F.lit(-1))),
        lambda i: (i >= 0) & (i <= n_lines - 1),
    )
    lines = F.transform(
        positions, lambda i: F.array_join(F.slice(F.col("_lt"), i * 8 + 1, 8), " ")
    )
    return staged.withColumn("lined", F.array_join(lines, "\n")).drop("_lt")


def line_dedup_clean(spark: SparkSession, sf_dir: str) -> SparkDF:
    """Corpus-wide boilerplate LINE removal (CCNet/RefinedWeb stage): any
    8-token line occurring in >=2 distinct docs is dropped everywhere;
    surviving lines rejoin in order."""
    lined = _lined_docs(spark, sf_dir)
    out = spans.remove_duplicate_lines(lined, text_col="lined", min_docs=2)
    return out.select("doc_id", F.col("text_dedup").alias("text_clean"))


def quality_classifier_scores(spark: SparkSession, sf_dir: str) -> SparkDF:
    """Hashed-feature linear quality classifier (fastText-style): exact
    integer weight sum (bit-exact anchor) plus derived score/softsign
    probability. score and prob are emitted UNROUNDED: both derive from
    the integer anchor through correctly-rounded IEEE ops only
    (division, softsign), so the doubles are bit-identical across
    engines — whereas round(x, 6) is engine-implemented (BigDecimal
    ties vs float-multiply ties) and flipped a last digit on a real
    sf0.1 decimal-tie score (-4039/16000)."""
    out = classifier.hashed_linear_score(
        _docs_spread(spark, sf_dir), dim=4096, seed=7
    )
    return out.select("doc_id", "clf_int", "clf_score", "clf_prob")


def upsample_epoch_counts(spark: SparkSession, sf_dir: str) -> SparkDF:
    """Materialized domain upsampling (LLaMA-style epoch mixing): per
    language, the replicated row count, distinct docs, and max epoch
    number after content-addressed fractional-epoch replication."""
    up = sampling.upsample_epochs(
        _docs(spark, sf_dir), _UPSAMPLE_EPOCHS, domain_col="lang", salt="up1"
    )
    return up.groupBy("lang").agg(
        F.count("*").alias("n_rows"),
        F.countDistinct("doc_id").alias("n_docs"),
        F.max("epoch").cast("long").alias("max_epoch"),
    )


def bloom_decontaminated_ids(spark: SparkSession, sf_dir: str) -> SparkDF:
    """Bloom-filter decontamination: contaminated ids flagged by probing
    a 2^16-bit Bloom of the benchmark's 13-gram set (every-50th doc).
    The bitmap broadcast is constant-size regardless of benchmark scale;
    false positives are deterministic given (m, k) so the oracle
    reproduces them bit-for-bit."""
    docs = _docs(spark, sf_dir)
    bench = docs.filter(F.col("doc_id") % 50 == 0)
    words = decontaminate.build_bloom(bench, n=13, m_bits=1 << 16, n_hashes=4)
    # the fixture is ONE parquet file -> one input split; spread the
    # probe scan (at real scale the reader's own splits already do this)
    spread = docs.repartition(spark.sparkContext.defaultParallelism)
    return decontaminate.bloom_contaminated_ids(
        spread, words, n=13, m_bits=1 << 16, n_hashes=4
    )


def bigram_pmi_top(spark: SparkSession, sf_dir: str) -> SparkDF:
    """Top-30 adjacent-bigram collocations by PMI (min support 20):
    exact integer counts, one ln, rounded before the cross-engine
    compare; (tok_a, tok_b) uniqueness makes the order total."""
    out = cooccur.bigram_pmi(_docs_spread(spark, sf_dir), min_count=20)
    return (
        out.select(
            "tok_a", "tok_b", "n_ab", F.round("pmi", 6).alias("pmi")
        )
        .orderBy(F.desc("pmi"), "tok_a", "tok_b")
        .limit(30)
    )


def bigram_nll_docs(spark: SparkSession, sf_dir: str) -> SparkDF:
    """Per-doc mean NLL under an add-1 bigram LM fit on the same corpus
    (the CCNet-style perplexity signal). Each bigram's ln is rounded to
    1e-4 and integer-summed (order-independent), so the oracle replays
    the exact value from the same counts."""
    return cooccur.bigram_logprob(_docs_spread(spark, sf_dir))


def ppl_bucketed_docs(spark: SparkSession, sf_dir: str) -> SparkDF:
    """CCNet head/middle/tail perplexity buckets per language: bigram-LM
    mean NLL (bigram_nll_docs' exact integer-summed score) ranked
    ascending within each lang, cut at the 33rd/66th integer-percent
    ranks. Docs without bigrams are excluded (their NLL is undefined
    and NULL ordering differs across engines). The oracle replays the
    LM, the join, and the window cuts."""
    from colnade_spark.operators.quality import perplexity_buckets

    docs = _docs_spread(spark, sf_dir)
    nll = cooccur.bigram_logprob(docs).filter(F.col("n_bigrams") > 0)
    joined = docs.select("doc_id", "lang").join(
        nll.select("doc_id", "nll"), "doc_id"
    )
    return perplexity_buckets(joined, "nll", domain_col="lang").select(
        "doc_id", "lang", "nll", "ppl_bucket"
    )


def cms_token_estimates(spark: SparkSession, sf_dir: str) -> SparkDF:
    """Count-min-sketch frequency estimates for the exact top-30 corpus
    tokens (d=4, w=2^12): estimates are >= the exact counts by
    construction and deterministic given the md5 hash family, so the
    oracle reproduces them exactly. The corpus is tokenized ONCE into a
    vocab-sized term-count table (lazily localCheckpoint'ed); the exact
    top-30, the CMS build (weighted inserts over distinct terms), and
    the probe set all derive from it."""
    from colnade_spark.operators import cms
    from colnade_spark.operators.spans import clean_tokens

    tc = (
        _docs_spread(spark, sf_dir)
        .select(F.explode(clean_tokens(F.col("text"))).alias("term"))
        .groupBy("term")
        .agg(F.count("*").alias("n_exact"))
        .localCheckpoint(eager=False)
    )
    exact = tc.orderBy(F.desc("n_exact"), "term").limit(30)
    table = cms.cms_build(
        tc, "term", depth=4, width=1 << 12, weight_col="n_exact"
    )
    est = cms.cms_estimate(table, exact, "term", depth=4, width=1 << 12)
    return exact.join(est, "term").select("term", "n_exact", "n_est")


def entry(spark: SparkSession) -> SparkDF:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    return q1_pricing_summary(spark, "/root/testdata/sf0.001")


# Entries added or semantically changed in the CURRENT round — they lead
# the driver's bounded sweep so the newest code gets certified first.
# Update this tuple each round; everything else rotates automatically.
_ROUND_CHANGED: tuple[str, ...] = (
    # Round-10 restructures whose implementation changed in that round's
    # INHERITED (interrupted) session and therefore fell outside the
    # round-10 driver sample (VERDICT r10, correctness-gate residual):
    # the PQ pandas-UDF rewrite, the spans window rewrite, the CC edge
    # checkpoint, the minhash band-array parse, the semantic-decon norm
    # staging, the clustering SQL-parse argmin. All verified bit-exact
    # against the local sf0.01 oracle mirror; listed here so the round-11
    # driver sweep certifies them FIRST.
    "ann_pq",
    "ann_ivfpq",
    "ann_ivfpq_residual",
    "ann_recall_audit",
    "pq_residual_screen_survivors",
    "duplicate_span_stats",
    "span_removal_clean",
    "line_dedup_clean",
    "dup_cluster_sizes",
    "canonical_docs_map",
    "leakage_safe_split_stats",
    "dedup_minhash_ids",
    "incremental_minhash_ids",
    "minhash_estimate_pairs",
    "minhash_prt_summary",
    "dedup_rates_by_lang",
    "source_overlap_near_docs",
    "semantic_decontaminated_ids",
    "semantic_contamination_scores",
    "cluster_assignments",
    "prototype_pruned_ids",
    "semdedup_survivors",
    "emb_near_dup_pairs",
    "emb_near_dup_multiprobe",
    # Round-11 optimization restructures (results identical, pinned by
    # test + local oracle; listed so the driver certifies them first):
    "dsir_doc_weights",  # fused single-pass fit (fit_logratio_flagged)
    "dsir_sample_ids",  # same fused fit
)


def _driver_check_rounds() -> dict[str, int]:
    """name -> latest driver round whose CORRECTNESS_r*.json row contains
    the entry (i.e. the round the driver last checked it). Read from the
    files the driver drops next to this module, so the recertification
    rotation below needs no hand-maintained history and keeps working in
    future rounds without edits. Missing/unparsable files mean 'never
    checked' — those entries sort first."""
    import json as _json
    import re as _re
    from pathlib import Path

    out: dict[str, int] = {}
    for p in Path(__file__).resolve().parent.glob("CORRECTNESS_r*.json"):
        m = _re.fullmatch(r"CORRECTNESS_r(\d+)", p.stem)
        if not m:
            continue
        try:
            data = _json.loads(p.read_text())
        except (OSError, ValueError):
            continue
        if not isinstance(data, dict):
            continue
        rnd = int(m.group(1))
        for name in data:
            out[name] = max(out.get(name, 0), rnd)
    return out


def queries() -> dict[str, Callable[[SparkSession, str], SparkDF]]:
    # Recertification rotation: the driver's bounded correctness sweep
    # only reaches the first ~50 entries each round, so the dict is
    # ordered (this round's new/changed entries) ++ (never driver-checked)
    # ++ (least-recently-driver-checked first, from the CORRECTNESS_r*.json
    # history). Each round the sweep therefore re-certifies the ~46 stalest
    # entries after the new ones, and every entry's driver row stays at
    # most ~3 rounds old. The literal dict below is the REGISTRY (grouped
    # by the round that introduced each entry); the returned order is
    # computed, and scripts/check_registry_docs.py gates the invariant.
    registry: dict[str, Callable[[SparkSession, str], SparkDF]] = {
        # --- round-6 additions ---
        "corpus_card_approx_docs": corpus_card_approx_docs,
        "minhash_estimate_pairs": minhash_estimate_pairs,
        "incremental_minhash_ids": incremental_minhash_ids,
        "novelty_scores_docs": novelty_scores_docs,
        "approx_prune_stats": approx_prune_stats,
        "dedup_rates_by_lang": dedup_rates_by_lang,
        "blended_quality_docs": blended_quality_docs,
        "code_quality_docs": code_quality_docs,
        "stratified_split_docs": stratified_split_docs,
        "soft_dedup_weights_docs": soft_dedup_weights_docs,
        "commonness_frozen_docs": commonness_frozen_docs,
        "dup_weight_docs": dup_weight_docs,
        "minhash_prt_summary": minhash_prt_summary,
        # --- round-5 additions ---
        "curation_summary_docs": curation_summary_docs,
        "curation_funnel_docs": curation_funnel_docs,
        "media_format_mismatch_docs": media_format_mismatch_docs,
        "media_byte_stats_docs": media_byte_stats_docs,
        "balanced_shards_docs": balanced_shards_docs,
        "pq_contamination_bench": pq_contamination_bench,
        "corpus_diff_docs": corpus_diff_docs,
        "source_overlap_docs": source_overlap_docs,
        "length_drift_psi_docs": length_drift_psi_docs,
        "blend_drift_psi_docs": blend_drift_psi_docs,
        "psi_frozen_baseline_docs": psi_frozen_baseline_docs,
        # --- round-8 additions ---
        "blend_drift_frozen_docs": blend_drift_frozen_docs,
        "emb_near_dup_multiprobe": emb_near_dup_multiprobe,
        "ann_lsh_multiprobe": ann_lsh_multiprobe,
        "corpus_card_binned_docs": corpus_card_binned_docs,
        # --- round-10 additions ---
        "emb_near_dup_fractional": emb_near_dup_fractional,
        "emb_near_dup_arrow": emb_near_dup_arrow,
        "emb_near_dup_injoin": emb_near_dup_injoin,
        # --- round-9 additions ---
        "ann_lsh_multiprobe2": ann_lsh_multiprobe2,
        "corpus_card_autofit_docs": corpus_card_autofit_docs,
        "source_overlap_near_docs": source_overlap_near_docs,
        "blend_frozen_audit_docs": blend_frozen_audit_docs,
        "corpus_card_docs": corpus_card_docs,
        "ppl_bucketed_docs": ppl_bucketed_docs,
        "pii_count_stats": pii_count_stats,
        "changed_docs_gate": changed_docs_gate,
        "pq_residual_screen_survivors": pq_residual_screen_survivors,
        "pq_residual_contamination_bench": pq_residual_contamination_bench,
        # --- modified round 5 (scalar reasons / oracle-ranking fixes) ---
        "curation_decisions_docs": curation_decisions_docs,
        "ann_recall_audit": ann_recall_audit,
        "temperature_mixture_docs": temperature_mixture_docs,
        # --- round-4 backlog (driver-green in round 4) ---
        "describe_orders": describe_orders,
        "mixture_sample_docs": mixture_sample_docs,
        "semantic_decontaminated_ids": semantic_decontaminated_ids,
        "unigram_quality": unigram_quality,
        # --- round-4 additions ---
        "pq_screen_survivors": pq_screen_survivors,
        "leakage_safe_split_stats": leakage_safe_split_stats,
        "quality_pruned_ids": quality_pruned_ids,
        "contamination_report_bench": contamination_report_bench,
        "training_order_docs": training_order_docs,
        "token_budget_pruned_ids": token_budget_pruned_ids,
        "semantic_contamination_scores": semantic_contamination_scores,
        "bigram_nll_docs": bigram_nll_docs,
        "dup_cluster_sizes": dup_cluster_sizes,
        "winnow_overlap_docs": winnow_overlap_docs,
        # --- modified this round (single-pass tokenize rewrites) ---
        "bigram_pmi_top": bigram_pmi_top,
        "cms_token_estimates": cms_token_estimates,
        # --- round-3 additions (driver-green in round 3) ---
        "duplicate_span_stats": duplicate_span_stats,
        "span_removal_clean": span_removal_clean,
        "span_decontaminated_docs": span_decontaminated_docs,
        "line_dedup_clean": line_dedup_clean,
        "quality_classifier_scores": quality_classifier_scores,
        "upsample_epoch_counts": upsample_epoch_counts,
        "bloom_decontaminated_ids": bloom_decontaminated_ids,
        "ann_lsh": ann_lsh,
        "emb_near_dup_pairs": emb_near_dup_pairs,
        "map_flag_stats": map_flag_stats,
        "semdedup_survivors": semdedup_survivors,
        "dsir_doc_weights": dsir_doc_weights,
        "dsir_sample_ids": dsir_sample_ids,
        "ann_pq": ann_pq,
        "ann_ivfpq": ann_ivfpq,
        "ann_ivfpq_residual": ann_ivfpq_residual,
        "canonical_docs_map": canonical_docs_map,
        "blocked_url_ids": blocked_url_ids,
        "hard_negative_pairs": hard_negative_pairs,
        # --- driver-green in round 3 ---
        "funnel_stages": funnel_stages,
        "funnel_summary": funnel_summary,
        "pack_bins": pack_bins,
        "grouped_quantiles": grouped_quantiles,
        "tfidf_top_terms": tfidf_top_terms,
        "vocab_top_terms": vocab_top_terms,
        "doc_length_histogram": doc_length_histogram,
        "decontaminated_ids": decontaminated_ids,
        "weighted_sample_docs": weighted_sample_docs,
        "semi_join_urgent_customers": semi_join_urgent_customers,
        "anti_join_quiet_customers": anti_join_quiet_customers,
        "cube_order_stats": cube_order_stats,
        "rollup_returnflag_stats": rollup_returnflag_stats,
        "melt_part_measures": melt_part_measures,
        "interval_click_counts": interval_click_counts,
        "pivot_status_revenue": pivot_status_revenue,
        "cumulative_acctbal": cumulative_acctbal,
        "ntile_price_quartiles": ntile_price_quartiles,
        "custkeys_intersect_except": custkeys_intersect_except,
        "multikey_join_partsupp": multikey_join_partsupp,
        "exploded_label_stats": exploded_label_stats,
        "dedup_components": dedup_components,
        "rolling_window_revenue": rolling_window_revenue,
        "math_regex_funcs": math_regex_funcs,
        "edit_distance_dups": edit_distance_dups,
        "sketch_rollup_users": sketch_rollup_users,
        "kmeans_clusters": kmeans_clusters,
        "prototype_pruned_ids": prototype_pruned_ids,
        "price_rank_dist": price_rank_dist,
        "list_ops_ext": list_ops_ext,
        "dt_arith_funcs": dt_arith_funcs,
        # --- driver-green in round 2 (CORRECTNESS_r02 rows exist) ---
        "q1_pricing_summary": q1_pricing_summary,
        "filter_sort_limit": filter_sort_limit,
        "join_agg": join_agg,
        "triple_join_region": triple_join_region,
        "distinct_status_priority": distinct_status_priority,
        "case_when_buckets": case_when_buckets,
        "global_agg": global_agg,
        "str_funcs": str_funcs,
        "dt_extract_truncate": dt_extract_truncate,
        "window_partition_agg": window_partition_agg,
        "concat_union": concat_union,
        "list_ops": list_ops,
        "cast_fill_null": cast_fill_null,
        "drop_nulls_agg": drop_nulls_agg,
        "dedup_exact_ids": dedup_exact_ids,
        "dedup_fingerprint_ids": dedup_fingerprint_ids,
        "dedup_minhash_ids": dedup_minhash_ids,
        "dedup_minhash_k13_ids": dedup_minhash_k13_ids,
        "simhash_sketch": simhash_sketch,
        "ngram_jaccard_dups": ngram_jaccard_dups,
        "text_quality": text_quality,
        "token_counts": token_counts,
        "token_fertility_by_lang": token_fertility_by_lang,
        "language_pred": language_pred,
        "repetition_profile": repetition_profile,
        "top_token_profile": top_token_profile,
        "top_ngram_profile": top_ngram_profile,
        "gopher_rules": gopher_rules,
        "chunk_windows": chunk_windows,
        "hash_sample_ids": hash_sample_ids,
        "hash_split_stats": hash_split_stats,
        "stratified_sample_docs": stratified_sample_docs,
        "pii_redaction": pii_redaction,
        "cluster_assignments": cluster_assignments,
        "cluster_profile": cluster_profile,
        "ann_bruteforce": ann_bruteforce,
        "ann_ivf": ann_ivf,
        "image_features_stub": image_features_stub,
        "q3_shipping_priority": q3_shipping_priority,
        "approx_stats": approx_stats,
        "asof_align": asof_align,
        "rollup_daily": rollup_daily,
        "quantiles_totalprice": quantiles_totalprice,
        "embedding_dim_stats": embedding_dim_stats,
        "struct_field_access": struct_field_access,
        "latest_order_per_customer": latest_order_per_customer,
        "json_props_agg": json_props_agg,
        "sorted_tail": sorted_tail,
        "sessionize": sessionize,
        "winnow_sketch": winnow_sketch,
    }
    checked = _driver_check_rounds()
    lead = [n for n in _ROUND_CHANGED if n in registry]
    lead_set = set(lead)
    rest = sorted(
        (n for n in registry if n not in lead_set),
        key=lambda n: (checked.get(n, -1), n),
    )
    return {n: registry[n] for n in (*lead, *rest)}


_NORM_TEXT = (
    "trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'),"
    " ' +', ' ', 'g'))"
)
_TOKENS = "regexp_split_to_array(trim({col}), '\\s+')"
_STOP = {k: v for k, v in sorted(text.STOPWORDS.items())}


def _stop_hits(lang: str, toks: str) -> str:
    words = ", ".join(f"'{w}'" for w in _STOP[lang])
    return f"len(list_distinct(list_intersect({toks}, [{words}])))"


def _md5h(expr: str) -> str:
    """DuckDB twin of colnade_spark.operators.text.md5_hash60: top 15 hex
    digits of md5 as a BIGINT — identical value in both engines."""
    return f"('0x' || substr(md5({expr}), 1, 15))::BIGINT"


# hash_split boundary thresholds, accumulated in float EXACTLY as
# sampling.hash_split does (0.8 + 0.1 != 0.9 in IEEE754 — the oracle must
# embed the same integers the operator computes)
def _split_bounds(weights: list[float]) -> list[int]:
    bounds, acc = [], 0.0
    for w in weights[:-1]:
        acc += w
        bounds.append(int(acc * (1 << 60)))
    return bounds


_SPLIT_BOUNDS = _split_bounds([0.8, 0.1, 0.1])
_SPLIT_WEIGHTS = {"train": 0.8, "val": 0.1, "test": 0.1}


def _pq_scored_cte(
    q_where: str = "vec_id < 8", exclude_self: bool = True
) -> str:
    """Shared DuckDB WITH-body for the PQ family: integer-space
    per-subspace argmin encode (ties to lowest code via struct
    list_min) and ADC scoring through literal codebook lookups —
    bit-identical to the Spark path. Yields CTEs vi/enc/q/scored;
    callers append their own final SELECT (top-k, recall, screen, ...).
    ``exclude_self=False`` scores every (query, row) pair including a
    row against itself — the decontamination-screen shape, where the
    benchmark rows themselves must flag."""
    m, ksub, ds = 8, 8, 8
    s = 1 << 20
    cb_int = [
        [[int(round(x * s)) for x in cw] for cw in book]
        for book in _PQ_CODEBOOKS
    ]
    code_exprs = []
    for j in range(m):
        structs = []
        for c in range(ksub):
            dist = " + ".join(
                f"(xi[{j * ds + d + 1}] - ({cb_int[j][c][d]}))"
                f" * (xi[{j * ds + d + 1}] - ({cb_int[j][c][d]}))"
                for d in range(ds)
            )
            structs.append(f"{{'d': {dist}, 'c': {c}}}")
        code_exprs.append(f"list_min([{', '.join(structs)}]).c")
    codes = ", ".join(code_exprs)
    books_sql = [
        "[" + ", ".join(_centroid_sql(cw) for cw in book) + "]"
        for book in _PQ_CODEBOOKS
    ]
    score = " + ".join(
        f"list_inner_product(list_slice(q.qv, {j * ds + 1}, {j * ds + ds}),"
        f" ({books_sql[j]})[e.codes[{j + 1}] + 1])"
        for j in range(m)
    )
    return f"""
        WITH vi AS (
          SELECT vec_id,
            list_transform(CAST(embedding AS DOUBLE[]),
                           x -> CAST(round(x * {s}) AS BIGINT)) AS xi
          FROM embeddings
        ),
        enc AS (SELECT vec_id, [{codes}] AS codes FROM vi),
        q AS (SELECT vec_id AS qid, CAST(embedding AS DOUBLE[]) AS qv
              FROM embeddings WHERE {q_where}),
        scored AS (
          SELECT q.qid AS query_id, e.vec_id AS neighbor_id,
                 round({score}, 6) AS adc
          FROM enc e CROSS JOIN q
          {"WHERE e.vec_id <> q.qid" if exclude_self else ""}
        )
    """


def _pq_oracle_sql() -> str:
    """DuckDB twin of pq_topk / full-probe ivfpq_topk: the shared ADC
    CTEs plus the per-query top-5."""
    return f"""
        {_pq_scored_cte()}
        SELECT query_id, neighbor_id, rank, adc FROM (
          SELECT query_id, neighbor_id, adc,
            row_number() OVER (PARTITION BY query_id
                               ORDER BY adc DESC, neighbor_id) AS rank
          FROM scored)
        WHERE rank <= 5
    """


def _recall_audit_oracle_sql() -> str:
    """DuckDB twin of ann_recall_audit: PQ ADC top-5 (shared CTEs) vs an
    independently computed brute-force exact top-5, then the per-query
    set-intersection recall — replaying recall_at_k's left join +
    count(hit)/count(*) exactly."""
    return f"""
        {_pq_scored_cte()},
        approx AS (
          SELECT query_id, neighbor_id FROM (
            SELECT query_id, neighbor_id,
              row_number() OVER (PARTITION BY query_id
                                 ORDER BY adc DESC, neighbor_id) AS rank
            FROM scored)
          WHERE rank <= 5
        ),
        sims AS (
          -- explicit dot/(sqrt*sqrt) form: list_inner_product matches
          -- Spark's sequential fold bitwise, so rank boundaries can't
          -- flip on a libm-cosine ulp (list_cosine_similarity may
          -- evaluate the same math in a different association order)
          SELECT q.qid AS query_id, e.vec_id AS neighbor_id,
                 list_inner_product(CAST(e.embedding AS DOUBLE[]), q.qv)
                   / (sqrt(list_inner_product(CAST(e.embedding AS DOUBLE[]),
                                              CAST(e.embedding AS DOUBLE[])))
                      * sqrt(list_inner_product(q.qv, q.qv))) AS sim
          FROM embeddings e CROSS JOIN q WHERE e.vec_id <> q.qid
        ),
        exact AS (
          SELECT query_id, neighbor_id FROM (
            SELECT query_id, neighbor_id,
              row_number() OVER (PARTITION BY query_id
                                 ORDER BY sim DESC, neighbor_id) AS rank
            FROM sims)
          WHERE rank <= 5
        )
        SELECT ex.query_id,
               CAST(count(*) AS BIGINT) AS n_exact,
               CAST(count(ap.neighbor_id) AS BIGINT) AS n_hit,
               CAST(count(ap.neighbor_id) AS DOUBLE) / count(*) AS recall
        FROM exact ex LEFT JOIN approx ap
          ON ex.query_id = ap.query_id AND ex.neighbor_id = ap.neighbor_id
        GROUP BY ex.query_id
    """


def _bigram_nll_cte() -> str:
    """Shared DuckDB CTE chain for the bigram-LM oracles: add-1 bigram
    LM fit on the corpus, per-doc micro-rounded integer-summed lns —
    yields CTEs norm/toks/uni/voc/opairs/occ/pc/scored/per (the twin of
    cooccur.bigram_logprob)."""
    return f"""
            norm AS (
              SELECT doc_id,
                list_filter(regexp_split_to_array({_NORM_TEXT}, '\\s+'),
                            x -> x != '') AS tk
              FROM documents
            ),
            toks AS (
              SELECT doc_id, unnest(tk) AS t FROM norm
            ),
            uni AS (
              SELECT t AS tok_a, CAST(count(*) AS BIGINT) AS n_a
              FROM toks GROUP BY t
            ),
            voc AS (SELECT CAST(count(*) AS BIGINT) AS v FROM uni),
            opairs AS (
              SELECT doc_id,
                unnest(list_transform(
                  range(1, greatest(len(tk), 1)),
                  i -> {{'a': tk[i], 'b': tk[i + 1]}})) AS p
              FROM norm
            ),
            occ AS (SELECT doc_id, p.a AS tok_a, p.b AS tok_b FROM opairs),
            pc AS (
              SELECT tok_a, tok_b, CAST(count(*) AS BIGINT) AS n_ab
              FROM occ GROUP BY tok_a, tok_b
            ),
            scored AS (
              SELECT o.doc_id,
                CAST(round(ln((pc.n_ab + 1.0) / (u.n_a + 1.0 * voc.v))
                           * 10000) AS BIGINT) AS lp
              FROM occ o
              JOIN pc ON o.tok_a = pc.tok_a AND o.tok_b = pc.tok_b
              JOIN uni u ON o.tok_a = u.tok_a
              CROSS JOIN voc
            ),
            per AS (
              SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
                     sum(lp) AS sum_lp
              FROM scored GROUP BY doc_id
            )"""


def _curation_cte() -> str:
    """Shared DuckDB CTE chain for the curation report oracles: the
    three gate memberships (URL blocklist over injected links, 8-gram
    benchmark contamination, length floor) resolved into a per-doc
    ``verdicts(doc_id, reasons)`` table — the twin of _curation_gates
    + report.curation_decisions."""
    return f"""
            inj AS (
              SELECT doc_id,
                text || ' link http://h' || CAST(doc_id % 5 AS VARCHAR)
                     || '.site' || CAST(doc_id % 3 AS VARCHAR) || '.com/x'
                  AS text
              FROM documents
            ),
            doms AS (
              SELECT doc_id,
                regexp_replace(lower(unnest(regexp_extract_all(
                  text, '(?i)https?://(?:[^/@\\s]*@)?([A-Za-z0-9.-]+)', 1))),
                  '\\.+$', '') AS dom
              FROM inj
            ),
            sfx AS (
              SELECT doc_id,
                unnest(list_transform(
                  range(1, len(string_split(dom, '.')) + 1),
                  i -> array_to_string(
                    list_slice(string_split(dom, '.'), i,
                               len(string_split(dom, '.'))), '.')
                )) AS s
              FROM doms
            ),
            blocked AS (
              SELECT DISTINCT doc_id FROM sfx
              WHERE s IN ('site0.com', 'h2.site1.com')
            ),
            norm AS (
              SELECT doc_id,
                list_filter(regexp_split_to_array({_NORM_TEXT}, '\\s+'),
                            x -> x != '') AS tk
              FROM documents
            ),
            grams AS (
              SELECT doc_id,
                unnest(list_distinct(list_transform(
                  list_filter(range(0, greatest(len(tk) - 7, 1), 1),
                              p -> p < len(tk) - 7),
                  p -> array_to_string(list_slice(tk, p + 1, p + 8), ' '))))
                  AS g
              FROM norm
            ),
            contaminated AS (
              SELECT DISTINCT d.doc_id
              FROM grams d JOIN (
                SELECT DISTINCT g FROM grams WHERE doc_id % 50 = 0
              ) b USING (g)
            ),
            verdicts AS (
              SELECT d.doc_id,
                list_filter([
                  CASE WHEN d.doc_id IN (SELECT doc_id FROM blocked)
                       THEN 'blocked' END,
                  CASE WHEN d.doc_id IN (SELECT doc_id FROM contaminated)
                       THEN 'contaminated' END,
                  CASE WHEN d.n_chars < 120 THEN 'short' END
                ], x -> x IS NOT NULL) AS reasons
              FROM documents d
            )"""


def _media_cte() -> str:
    """Shared DuckDB CTE rebuilding the _media_docs fixture byte for
    byte: magic-bytes signature by doc_id % 5 (none on every 11th row),
    declared format by (doc_id % 7) % 5."""
    sig_case = " ".join(
        f"WHEN {i} THEN '{hexsig}'"
        for i, (_, hexsig) in enumerate(_MEDIA_SIGS)
    )
    declared_list = ", ".join(f"'{x}'" for x in _MEDIA_DECLARED)
    return f"""
            m AS (
              SELECT doc_id AS media_id,
                CASE WHEN doc_id % 11 = 0 THEN encode(text)
                     ELSE from_hex(CASE doc_id % 5 {sig_case} END)
                          || encode(text)
                END AS payload,
                ([{declared_list}])[CAST((doc_id % 7) % 5 + 1 AS INT)]
                  AS fmt
              FROM documents
            )"""


def _residual_scored_cte(
    q_where: str = "vec_id < 8", exclude_self: bool = True
) -> str:
    """Shared DuckDB WITH-body for the residual IVF-PQ family:
    deterministic coarse assignment (rounded-dot argmax, ties->highest
    cid), residual integer-space encode, ADC = q·c + residual lookup
    sum. Yields CTEs base/res/enc/q/scored; callers append their final
    SELECT (top-k, screen, ...)."""
    m, ksub, ds = 8, 8, 8
    s = 1 << 20
    cb_int = [
        [[int(round(x * s)) for x in cw] for cw in book]
        for book in _PQ_CODEBOOKS
    ]
    coarse_structs = ", ".join(
        "{'sim': round(list_inner_product(v, %s), 6), 'cid': %d}"
        % (_centroid_sql(c), i)
        for i, c in enumerate(_CENTROIDS)
    )
    cents_lit = (
        "[" + ", ".join(_centroid_sql(c) for c in _CENTROIDS) + "]"
    )
    code_exprs = []
    for j in range(m):
        structs = []
        for c in range(ksub):
            dist = " + ".join(
                f"(xi[{j * ds + d + 1}] - ({cb_int[j][c][d]}))"
                f" * (xi[{j * ds + d + 1}] - ({cb_int[j][c][d]}))"
                for d in range(ds)
            )
            structs.append(f"{{'d': {dist}, 'c': {c}}}")
        code_exprs.append(f"list_min([{', '.join(structs)}]).c")
    codes = ", ".join(code_exprs)
    books_sql = [
        "[" + ", ".join(_centroid_sql(cw) for cw in book) + "]"
        for book in _PQ_CODEBOOKS
    ]
    lut_terms = " + ".join(
        f"list_inner_product(list_slice(q.qv, {j * ds + 1}, {j * ds + ds}),"
        f" ({books_sql[j]})[e.codes[{j + 1}] + 1])"
        for j in range(m)
    )
    return f"""
        WITH base AS (
          SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
                 list_max([{coarse_structs}]).cid AS cid
          FROM embeddings
        ),
        res AS (
          SELECT vec_id, cid,
            list_transform(range(1, 65),
              i -> CAST(round((v[i] - ({cents_lit})[cid + 1][i])
                              * {s}) AS BIGINT)) AS xi
          FROM base
        ),
        enc AS (SELECT vec_id, cid, [{codes}] AS codes FROM res),
        q AS (SELECT vec_id AS qid, CAST(embedding AS DOUBLE[]) AS qv
              FROM embeddings WHERE {q_where}),
        scored AS (
          SELECT q.qid AS query_id, e.vec_id AS neighbor_id,
            round(list_inner_product(q.qv, ({cents_lit})[e.cid + 1])
                  + {lut_terms}, 6) AS adc
          FROM enc e CROSS JOIN q
          {"WHERE e.vec_id <> q.qid" if exclude_self else ""}
        )
    """


def _ivfpq_residual_oracle_sql() -> str:
    """DuckDB twin of ivfpq_residual_topk at full probe (shared residual
    CTEs + the per-query top-5)."""
    return f"""
        {_residual_scored_cte()}
        SELECT query_id, neighbor_id, rank, adc FROM (
          SELECT query_id, neighbor_id, adc,
            row_number() OVER (PARTITION BY query_id
                               ORDER BY adc DESC, neighbor_id) AS rank
          FROM scored)
        WHERE rank <= 5
    """


# DuckDB twin of operators/importance.dsir_weights with buckets=256,
# unigram+bigram features, smoothing 1.0, target = lang='en' — per-bucket
# log-ratios integer-micro-scaled so the per-doc sum is exact.
_DSIR_CTE = f"""
            WITH nt AS (
              SELECT doc_id,
                list_filter(regexp_split_to_array({_NORM_TEXT}, '\\s+'),
                            x -> x <> '') AS tk
              FROM documents
            ),
            feats AS (
              SELECT doc_id, h % 256 AS bucket FROM (
                SELECT doc_id,
                  unnest(list_transform(tk, t -> {{H_TOK}})) AS h
                FROM nt
                UNION ALL
                SELECT doc_id,
                  unnest(list_transform(
                    list_filter(range(0, greatest(len(tk) - 1, 1), 1),
                                p -> p < len(tk) - 1),
                    p -> {{H_BI}})) AS h
                FROM nt
              )
            ),
            raw AS (SELECT bucket, count(*) AS rn FROM feats GROUP BY bucket),
            tgt AS (
              SELECT bucket, count(*) AS tn
              FROM feats JOIN documents USING (doc_id)
              WHERE lang = 'en' GROUP BY bucket
            ),
            tot AS (
              SELECT (SELECT CAST(sum(rn) AS DOUBLE) FROM raw) AS rt,
                     (SELECT CAST(sum(tn) AS DOUBLE) FROM tgt) AS tt
            ),
            lr AS (
              SELECT b.bucket,
                CAST(round((ln((coalesce(tn, 0) + 1.0) / (tt + 256.0))
                          - ln((coalesce(rn, 0) + 1.0) / (rt + 256.0)))
                         * 1000000) AS BIGINT) AS lr_micro
              FROM (SELECT unnest(range(0, 256)) AS bucket) b
              LEFT JOIN tgt ON b.bucket = tgt.bucket
              LEFT JOIN raw ON b.bucket = raw.bucket
              CROSS JOIN tot
            ),
            w AS (
              SELECT d.doc_id,
                CAST(count(f.bucket) AS BIGINT) AS n_feats,
                coalesce(sum(lr.lr_micro), 0) / 1000000.0 AS weight
              FROM documents d
              LEFT JOIN feats f USING (doc_id)
              LEFT JOIN lr ON f.bucket = lr.bucket
              GROUP BY d.doc_id
            )
""".format(
    H_TOK=_md5h("t"),
    H_BI=_md5h("array_to_string(list_slice(tk, p + 1, p + 2), ' ')"),
)


def _simhash_vote_sql(hs: str, n: str, bits: int = 60) -> str:
    """Per-bit majority vote + pack, the SQL twin of _simhash_pack_udf:
    bit b set iff 2·(count of ones at b) > n. md5_hash60 values are < 2^60
    so bits 60..63 are never set."""
    terms = " + ".join(
        f"CASE WHEN 2 * list_sum(list_transform({hs}, h -> (h >> {b}) & 1))"
        f" > {n} THEN {1 << b}::BIGINT ELSE 0 END"
        for b in range(bits)
    )
    return f"({terms})"


def _centroid_sql(c: list[float]) -> str:
    return "[" + ", ".join(repr(v) for v in c) + "]::DOUBLE[]"


def _mulmod64(a: str, b: str) -> str:
    """HUGEINT a·b mod 2^64 for a, b in [0, 2^64): split a into 32-bit
    halves so no intermediate exceeds 2^96 (int128-safe) — the trick that
    makes numpy's wrapping uint64 arithmetic SQL-expressible."""
    return (
        f"((({a}) & 4294967295) * ({b}) + (((({a}) >> 32) * ({b}))"
        f" % 4294967296) * 4294967296) % 18446744073709551616::HUGEINT"
    )


def _minhash_pair_ctes(
    num_hashes: int = 96, shingle_k: int = 5, seed: int = 42, bands: int = 16,
    source: str = "documents",
) -> str:
    """Shared WITH-body replaying dedup's vectorized MinHash path
    (dedup.py _minhash_full_udf) up through per-candidate-pair match
    counts: normalized text → k-byte sliding windows → polynomial hash
    (FNV-ish multiplier P, mod 2^64) → murmur mix → distinct →
    num_hashes affine rehashes (A·h+B mod 2^64, same mix) → per-function
    min → LSH banding → matching-component count per candidate pair.
    All arithmetic runs in HUGEINT on [0, 2^64); logical shifts and xor
    are exact there; banding compares band SLICES directly (the Spark
    side keys on xxhash64 of the slice, identical up to a ~n²/2^64
    collision that would also need threshold·num_hashes matching
    components to matter). Signatures verified bit-equal to the UDF at
    both SFs (round 6). Composed by the dedup_minhash_ids and
    minhash_estimate_pairs oracles."""
    import random as _random

    rng = _random.Random(seed)
    A = [rng.randrange(1, 1 << 62) | 1 for _ in range(num_hashes)]
    B = [rng.randrange(1 << 62) for _ in range(num_hashes)]
    P = 1099511628211
    pows = [pow(P, shingle_k - 1 - j, 1 << 64) for j in range(shingle_k)]
    C = f"{0xFF51AFD7ED558CCD}::HUGEINT"
    m64 = "18446744073709551616::HUGEINT"
    rows = num_hashes // bands
    poly = " + ".join(
        f"ascii(substr(nt, i + {j}, 1))::HUGEINT * {pows[j]}::HUGEINT"
        for j in range(shingle_k)
    )
    ab_rows = ", ".join(
        f"({i}, {A[i]}::HUGEINT, {B[i]}::HUGEINT)" for i in range(num_hashes)
    )
    return f"""
d AS (SELECT doc_id, {_NORM_TEXT} AS nt FROM {source}),
win AS (
  SELECT doc_id, ({poly}) % {m64} AS p0
  FROM d, unnest(range(1, greatest(length(nt) - {shingle_k - 2}, 1))) AS w(i)
  WHERE nt IS NOT NULL AND length(nt) >= {shingle_k}
  UNION ALL
  SELECT doc_id, NULL::HUGEINT AS p0 FROM d
  WHERE nt IS NULL OR length(nt) < {shingle_k}),
m1 AS (SELECT doc_id, xor(p0, p0 >> 33) AS t FROM win),
m2 AS (SELECT doc_id, {_mulmod64('t', C)} AS t FROM m1),
sh AS (SELECT DISTINCT doc_id, coalesce(xor(t, t >> 29), 0::HUGEINT) AS h FROM m2),
ab(i, a, b) AS (VALUES {ab_rows}),
y0 AS (SELECT doc_id, ab.i, ({_mulmod64('ab.a', 'sh.h')} + ab.b) % {m64} AS t
       FROM sh CROSS JOIN ab),
y1 AS (SELECT doc_id, i, xor(t, t >> 33) AS t FROM y0),
y2 AS (SELECT doc_id, i, {_mulmod64('t', C)} AS t FROM y1),
sig AS (SELECT doc_id, i, min(xor(t, t >> 29)) AS comp FROM y2 GROUP BY doc_id, i),
band AS (
  SELECT doc_id, i // {rows} AS band,
         CAST(list(comp ORDER BY i) AS VARCHAR) AS bkey
  FROM sig GROUP BY doc_id, i // {rows}),
cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM band a JOIN band b ON a.band = b.band AND a.bkey = b.bkey
   AND a.doc_id < b.doc_id),
est AS (
  SELECT c.id_a, c.id_b, count(*) FILTER (sa.comp = sb.comp) AS matches
  FROM cand c
  JOIN sig sa ON sa.doc_id = c.id_a
  JOIN sig sb ON sb.doc_id = c.id_b AND sb.i = sa.i
  GROUP BY c.id_a, c.id_b)"""


def _minhash_oracle_sql(
    num_hashes: int = 96, shingle_k: int = 5, seed: int = 42, bands: int = 16,
    threshold: float = 0.8,
) -> str:
    """dedup_minhash survivors on top of the shared pair CTEs: candidate
    pairs with est-Jaccard ≥ threshold drop the larger id."""
    min_match = -(-int(threshold * num_hashes * 1000000) // 1000000)  # ceil
    return f"""
WITH {_minhash_pair_ctes(num_hashes, shingle_k, seed, bands)},
dups AS (SELECT DISTINCT id_b AS doc_id FROM est WHERE matches >= {min_match})
SELECT doc_id FROM documents WHERE doc_id NOT IN (SELECT doc_id FROM dups)
"""


def _minhash_audit_oracle_sql(
    num_hashes: int = 96, shingle_k: int = 5, seed: int = 42, bands: int = 16,
    threshold: float = 0.8,
) -> str:
    """minhash_estimate_audit replay: per candidate pair, the estimated
    Jaccard (matches/num_hashes) beside the EXACT Jaccard over distinct
    char-k-shingle STRING sets (no hashing on the exact side — string
    lists intersect identically in both engines), the absolute error, and
    threshold-decision agreement. Every output is a single correctly-
    rounded IEEE division (or comparison) of exact integers, so the replay
    is bit-exact with no tolerance band."""
    k = shingle_k
    return f"""
WITH {_minhash_pair_ctes(num_hashes, shingle_k, seed, bands)},
shset AS (
  SELECT doc_id,
    CASE WHEN nt IS NULL OR length(nt) < {k} THEN []::VARCHAR[]
         ELSE list_distinct(list_transform(
                range(1, length(nt) - {k - 2}), i -> substr(nt, i, {k})))
    END AS gs
  FROM d),
scored AS (
  SELECT e.id_a, e.id_b,
    e.matches::DOUBLE / {num_hashes} AS est_jaccard,
    len(list_intersect(a.gs, b.gs))::DOUBLE
      / greatest(len(list_distinct(list_concat(a.gs, b.gs))), 1) AS exact_jaccard
  FROM est e
  JOIN shset a ON a.doc_id = e.id_a
  JOIN shset b ON b.doc_id = e.id_b)
SELECT id_a, id_b, est_jaccard, exact_jaccard,
  abs(est_jaccard - exact_jaccard) AS abs_err,
  (est_jaccard >= {threshold!r}) = (exact_jaccard >= {threshold!r})
    AS agree_at_threshold
FROM scored
"""


def _image_features_oracle_sql(size: int = 16) -> str:
    """Exact DuckDB replay of image_features over fake_decode_image
    (multimodal.py): rebuild the size²·3 fake-image bytes from the sha256
    counter-mode hex chain (ASCII ':i' suffix ⇒ VARCHAR sha256 replays the
    BLOB digests), then width/height literals, integer-moment mean/std
    (the UDF's fixed IEEE op sequence), and the integer phash (bit i set
    iff 64·block_gray3_sum > total_gray3_sum, two's-complement packed)."""
    need = size * size * 3
    nblocks = (need + 31) // 32
    hx = " || ".join(
        f"sha256(coalesce(text, '') || ':{i}')" for i in range(nblocks)
    )
    npix = size * size
    bh = max(size // 8, 1)  # block height/width in pixels (=2 at size 16)
    # block (R=i//8, C=i%8) covers pixel rows 2R..2R+1, cols 2C..2C+1 of the
    # row-major size×size grid; g3 is 1-indexed.
    bs = (
        f"list_transform(range(0, 64), i -> "
        f"g3[((i // 8) * {bh}) * {size} + (i % 8) * {bh} + 1]"
        f" + g3[((i // 8) * {bh}) * {size} + (i % 8) * {bh} + 2]"
        f" + g3[((i // 8) * {bh} + 1) * {size} + (i % 8) * {bh} + 1]"
        f" + g3[((i // 8) * {bh} + 1) * {size} + (i % 8) * {bh} + 2])"
    )
    return f"""
WITH h AS (SELECT doc_id AS media_id, {hx} AS hx FROM documents),
b AS (
  SELECT media_id,
    list_transform(range(0, {need}), k ->
      (strpos('0123456789abcdef', substr(hx, 2 * k + 1, 1)) - 1) * 16
      + strpos('0123456789abcdef', substr(hx, 2 * k + 2, 1)) - 1) AS bl
  FROM h),
m AS (
  SELECT media_id,
    list_sum(bl)::BIGINT AS s,
    list_sum(list_transform(bl, v -> v * v))::BIGINT AS ss,
    list_transform(range(0, {npix}), p ->
      bl[3 * p + 1] + bl[3 * p + 2] + bl[3 * p + 3]) AS g3
  FROM b),
ph AS (SELECT media_id, s, ss, {bs} AS bs FROM m)
SELECT media_id,
  {size} AS width, {size} AS height,
  s / {need}.0 AS mean_intensity,
  sqrt((ss - (s * s) / {need}.0) / {need}.0) AS std_intensity,
  (list_sum(list_transform(range(0, 63), i ->
     CASE WHEN 64 * bs[i + 1] > s THEN (1::BIGINT << i) ELSE 0::BIGINT END))
   + CASE WHEN 64 * bs[64] > s THEN -9223372036854775807 - 1 ELSE 0 END
  )::BIGINT AS phash
FROM ph
"""


def oracle_sql() -> dict[str, str]:
    toks = _TOKENS.format(col="text")
    toks_lower = _TOKENS.format(col="lower(text)")
    cluster_structs = ", ".join(
        "{'sim': round(list_inner_product(CAST(embedding AS DOUBLE[]), %s), 6),"
        " 'cid': %d}" % (_centroid_sql(c), i)
        for i, c in enumerate(_CENTROIDS)
    )
    # same argmax, parameterized on a plain DOUBLE[] column named v,
    # over the 16 SemDeDup centroids
    cluster_structs_v = ", ".join(
        "{'sim': round(list_inner_product(v, %s), 6), 'cid': %d}"
        % (_centroid_sql(c), i)
        for i, c in enumerate(_SEM_CENTROIDS)
    )
    lang_structs = ", ".join(
        f"{{'score': {_stop_hits(lang, toks_lower)}, 'lang': '{lang}'}}"
        for lang in _STOP
    )
    out = {
        "q1_pricing_summary": f"""
            SELECT l_returnflag, l_linestatus,
              CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
              CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
              CAST(sum(CAST(l_extendedprice*(1-l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS sum_disc_price,
              CAST(sum(CAST(l_extendedprice*(1-l_discount)*(1+l_tax) AS DECIMAL(18,6))) AS DOUBLE) AS sum_charge,
              CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / count(*) AS avg_qty,
              CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / count(*) AS avg_price,
              CAST(sum(CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) / count(*) AS avg_disc,
              count(*) AS count_order
            FROM lineitem WHERE l_shipdate <= TIMESTAMP '{_CUTOFF:%Y-%m-%d %H:%M:%S}'
            GROUP BY l_returnflag, l_linestatus
            ORDER BY l_returnflag, l_linestatus
        """,
        "filter_sort_limit": """
            SELECT c_custkey, c_name, c_acctbal FROM customer
            WHERE c_acctbal > 5000.0
            ORDER BY c_acctbal DESC, c_custkey LIMIT 100
        """,
        "join_agg": """
            SELECT c_mktsegment, count(*) AS n_orders,
              CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_total,
              CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) / count(*) AS avg_total
            FROM customer JOIN orders ON c_custkey = o_custkey
            GROUP BY c_mktsegment
        """,
        "triple_join_region": """
            SELECT r_name, count(*) AS n_cust,
              CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS sum_bal
            FROM customer
            JOIN nation ON c_nationkey = n_nationkey
            JOIN region ON n_regionkey = r_regionkey
            GROUP BY r_name
        """,
        "distinct_status_priority": """
            SELECT DISTINCT o_orderstatus, o_orderpriority FROM orders
        """,
        "case_when_buckets": """
            SELECT CASE WHEN c_acctbal > 7500.0 THEN 'high'
                        WHEN c_acctbal > 2500.0 THEN 'mid'
                        WHEN c_acctbal >= 0.0 THEN 'low'
                        ELSE 'neg' END AS bucket,
              count(*) AS n,
              CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS sum_bal
            FROM customer GROUP BY 1 ORDER BY bucket
        """,
        "global_agg": """
            SELECT CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_total,
              min(o_totalprice) AS min_total, max(o_totalprice) AS max_total,
              count(*) AS n_rows, count(DISTINCT o_custkey) AS n_customers
            FROM orders
        """,
        "str_funcs": """
            SELECT p_partkey, p_name, p_brand, p_type,
              upper(p_name) AS name_upper, lower(p_type) AS type_lower,
              length(p_name) AS name_len,
              starts_with(p_name, 'red') AS starts_red,
              ends_with(p_name, 'bolt') AS ends_bolt,
              replace(p_name, 'red', 'RED') AS name_replaced,
              trim(p_brand) AS brand_stripped
            FROM part WHERE contains(p_name, 'red')
        """,
        "dt_extract_truncate": """
            SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day, event_type,
              count(*) AS n,
              CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
            FROM events GROUP BY 1, 2 ORDER BY day, event_type
        """,
        "window_partition_agg": """
            SELECT c_custkey, c_mktsegment, c_acctbal,
              count(*) OVER w AS seg_n,
              max(c_acctbal) OVER w AS seg_max,
              min(c_acctbal) OVER w AS seg_min,
              count(DISTINCT c_nationkey) OVER w AS seg_nations
            FROM customer WINDOW w AS (PARTITION BY c_mktsegment)
        """,
        "concat_union": """
            SELECT o_orderpriority, count(*) AS n FROM (
              SELECT * FROM orders WHERE o_orderstatus = 'F'
              UNION ALL
              SELECT * FROM orders WHERE o_orderstatus = 'O'
            ) GROUP BY o_orderpriority
        """,
        "list_ops": """
            SELECT vec_id, len(embedding) AS dim,
              CAST(embedding[1] AS DOUBLE) AS first_val,
              CAST(list_min(embedding) AS DOUBLE) AS min_val,
              CAST(list_max(embedding) AS DOUBLE) AS max_val
            FROM embeddings
        """,
        "cast_fill_null": """
            SELECT o_orderkey,
              coalesce(CASE WHEN o_totalprice > 200000.0 THEN o_totalprice END, -1.0)
                AS big_filled,
              CAST(trunc(o_totalprice) AS BIGINT) AS price_int
            FROM orders
        """,
        "drop_nulls_agg": """
            SELECT count(*) AS n_big,
              CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_big
            FROM orders WHERE o_totalprice > 200000.0
        """,
        "dedup_exact_ids": """
            SELECT min(doc_id) AS doc_id FROM documents GROUP BY md5(text)
        """,
        "dedup_fingerprint_ids": f"""
            SELECT min(doc_id) AS doc_id FROM documents GROUP BY {_NORM_TEXT}
        """,
        "dedup_minhash_ids": _minhash_oracle_sql(
            num_hashes=96, shingle_k=5, seed=42, bands=16, threshold=0.8
        ),
        "dedup_minhash_k13_ids": _minhash_oracle_sql(
            num_hashes=96, shingle_k=13, seed=42, bands=16, threshold=0.8
        ),
        "minhash_estimate_pairs": _minhash_audit_oracle_sql(
            num_hashes=96, shingle_k=5, seed=42, bands=16, threshold=0.8
        ),
        "minhash_prt_summary": f"""
WITH {_minhash_pair_ctes(num_hashes=96, shingle_k=5, seed=42, bands=16,
    source="(SELECT doc_id, text FROM documents WHERE doc_id < 100"
    " UNION ALL SELECT doc_id + 100000, text || ' planted near duplicate"
    " tail' FROM documents WHERE doc_id < 100 AND doc_id % 3 = 0)")},
shset AS (
  SELECT doc_id,
    CASE WHEN nt IS NULL OR length(nt) < 5 THEN []::VARCHAR[]
         ELSE list_distinct(list_transform(
                range(1, length(nt) - 3), i -> substr(nt, i, 5)))
    END AS gs
  FROM d),
sh2 AS (
  SELECT doc_id, gs, len(gs) AS sz, length(bin(len(gs))) - 1 AS b
  FROM shset WHERE len(gs) > 0),
tpc AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, a.gs AS ga, b.gs AS gb
  FROM sh2 a JOIN sh2 b ON a.b = b.b AND a.doc_id < b.doc_id
   AND a.sz * 800000 <= b.sz * 1000000 AND b.sz * 800000 <= a.sz * 1000000
  UNION ALL
  SELECT least(a.doc_id, b.doc_id), greatest(a.doc_id, b.doc_id), a.gs, b.gs
  FROM sh2 a JOIN sh2 b ON a.b + 1 = b.b
   AND a.sz * 800000 <= b.sz * 1000000 AND b.sz * 800000 <= a.sz * 1000000),
true_pairs AS (
  SELECT id_a, id_b, TRUE AS _t FROM tpc
  WHERE len(list_intersect(ga, gb))::DOUBLE
        / greatest(len(list_distinct(list_concat(ga, gb))), 1) >= 0.8),
jj AS (
  SELECT t._t IS NOT NULL AS is_true, e.id_a IS NOT NULL AS is_cand,
         coalesce(e.matches >= 77, FALSE) AS is_pos
  FROM true_pairs t FULL JOIN est e
    ON t.id_a = e.id_a AND t.id_b = e.id_b),
agg AS (
  SELECT count(*) FILTER (is_true) AS n_true_pairs,
         count(*) FILTER (is_cand) AS n_candidate_pairs,
         count(*) FILTER (is_pos) AS n_est_positive,
         count(*) FILTER (is_true AND is_cand) AS n_true_in_candidates,
         count(*) FILTER (is_true AND is_pos) AS n_true_positive
  FROM jj)
SELECT n_true_pairs, n_candidate_pairs, n_est_positive,
  n_true_in_candidates, n_true_positive,
  n_true_in_candidates::DOUBLE / greatest(n_true_pairs, 1)
    AS candidate_recall,
  n_true_positive::DOUBLE / greatest(n_est_positive, 1)
    AS decision_precision,
  n_true_positive::DOUBLE / greatest(n_true_pairs, 1) AS decision_recall
FROM agg
""",
        "blended_quality_docs": f"""
            WITH s AS (
              SELECT doc_id, lang, n_chars AS s1,
                len({toks}) AS s2,
                len(regexp_extract_all(text,
                  '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]')) AS s3
              FROM documents
            ),
            r AS (
              SELECT doc_id, lang,
                percent_rank() OVER (PARTITION BY lang
                                     ORDER BY s1, doc_id) AS p1,
                percent_rank() OVER (PARTITION BY lang
                                     ORDER BY s2, doc_id) AS p2,
                percent_rank() OVER (PARTITION BY lang
                                     ORDER BY s3, doc_id) AS p3
              FROM s
            )
            SELECT doc_id, lang,
              0.5 * p1 + 0.3 * p2 + 0.2 * p3 AS blended_score
            FROM r
        """,
        "code_quality_docs": """
            WITH s AS (
              SELECT doc_id,
                string_split(text, chr(10)) AS ls,
                length(text) AS nc,
                length(regexp_replace(text, '[^a-zA-Z0-9]', '', 'g')) AS na,
                regexp_matches(lower(text),
                  '\\bauto-?generated\\b|\\bgenerated by\\b') AS autogen
              FROM documents
            ),
            sig AS (
              SELECT doc_id,
                CAST(len(ls) AS BIGINT) AS n_lines,
                CAST(list_max(list_transform(ls, l -> length(l)))
                     AS BIGINT) AS max_line_len,
                CASE WHEN len(ls) > 0 THEN
                  CAST(list_sum(list_transform(ls, l -> length(l)))
                       AS DOUBLE) / CAST(len(ls) AS DOUBLE) END
                  AS avg_line_len,
                CASE WHEN nc > 0 THEN
                  CAST(na AS DOUBLE) / CAST(nc AS DOUBLE) END AS alnum_frac,
                autogen AS flag_autogen
              FROM s
            )
            SELECT doc_id, n_lines, max_line_len, avg_line_len, alnum_frac,
              flag_autogen,
              coalesce(avg_line_len > 100.0 OR max_line_len > 1000, FALSE)
                AS flag_long_lines,
              coalesce(alnum_frac < 0.25, FALSE) AS flag_low_alnum,
              n_lines IS NOT NULL
                AND NOT coalesce(avg_line_len > 100.0 OR max_line_len > 1000,
                                 FALSE)
                AND NOT coalesce(alnum_frac < 0.25, FALSE)
                AND NOT coalesce(flag_autogen, TRUE) AS keep
            FROM sig
        """,
        "stratified_split_docs": f"""
            WITH r AS (
              SELECT doc_id, lang,
                row_number() OVER (
                  PARTITION BY lang
                  ORDER BY {_md5h("doc_id::VARCHAR")}, doc_id) AS rn,
                count(*) OVER (PARTITION BY lang) AS n
              FROM documents
            )
            SELECT doc_id, lang,
              CASE WHEN rn <= floor(n * 0.8) THEN 'train'
                   WHEN rn <= floor(n * 0.9) THEN 'val'
                   ELSE 'test' END AS split
            FROM r
        """,
        "soft_dedup_weights_docs": f"""
            WITH nt AS (
              SELECT doc_id,
                list_filter(regexp_split_to_array({_NORM_TEXT}, '\\s+'),
                            x -> x <> '') AS tk
              FROM documents
            ),
            g AS (
              SELECT doc_id,
                {_md5h("array_to_string(list_slice(tk, i, i + 2), ' ')")} AS gh
              FROM (
                SELECT doc_id, tk,
                       unnest(range(1, greatest(len(tk) - 2, 0) + 1)) AS i
                FROM nt
              )
            ),
            cnt AS (
              SELECT gh, CAST(count(*) AS BIGINT) AS dfc FROM g GROUP BY gh
            ),
            per AS (
              SELECT g.doc_id, CAST(count(*) AS BIGINT) AS n_grams,
                     CAST(sum(cnt.dfc) AS BIGINT) AS sum_df
              FROM g JOIN cnt USING (gh) GROUP BY g.doc_id
            )
            SELECT d.doc_id,
              CAST(coalesce(per.n_grams, 0) AS BIGINT) AS n_grams,
              CAST(coalesce(per.sum_df, 0) AS BIGINT) AS sum_df,
              CASE WHEN coalesce(per.sum_df, 0) > 0
                   THEN CAST(per.n_grams AS DOUBLE)
                        / CAST(per.sum_df AS DOUBLE)
                   ELSE 1.0 END AS weight
            FROM documents d LEFT JOIN per USING (doc_id)
        """,
        # frozen-table twin of soft_dedup_weights_docs: same gram CTEs,
        # but df comes from the 4096-bucket count table (md5h % 4096)
        # with the >= 1 clamp — the stream-legal scoring semantics
        "commonness_frozen_docs": f"""
            WITH nt AS (
              SELECT doc_id,
                list_filter(regexp_split_to_array({_NORM_TEXT}, '\\s+'),
                            x -> x <> '') AS tk
              FROM documents
            ),
            g AS (
              SELECT doc_id,
                {_md5h("array_to_string(list_slice(tk, i, i + 2), ' ')")}
                  % 4096 AS b
              FROM (
                SELECT doc_id, tk,
                       unnest(range(1, greatest(len(tk) - 2, 0) + 1)) AS i
                FROM nt
              )
            ),
            cnt AS (
              SELECT b, CAST(count(*) AS BIGINT) AS c FROM g GROUP BY b
            ),
            per AS (
              SELECT g.doc_id, CAST(count(*) AS BIGINT) AS n_grams,
                     CAST(sum(greatest(cnt.c, 1)) AS BIGINT) AS sum_df
              FROM g JOIN cnt USING (b) GROUP BY g.doc_id
            )
            SELECT d.doc_id,
              CAST(coalesce(per.n_grams, 0) AS BIGINT) AS n_grams,
              CAST(coalesce(per.sum_df, 0) AS BIGINT) AS sum_df,
              CASE WHEN coalesce(per.sum_df, 0) > 0
                   THEN CAST(per.n_grams AS DOUBLE)
                        / CAST(per.sum_df AS DOUBLE)
                   ELSE 1.0 END AS weight
            FROM documents d LEFT JOIN per USING (doc_id)
        """,
        "dup_weight_docs": f"""
            WITH fp AS (
              SELECT doc_id, md5({_NORM_TEXT}) AS f FROM documents
            ),
            cnt AS (
              SELECT f, CAST(count(*) AS BIGINT) AS n
              FROM fp WHERE f IS NOT NULL GROUP BY f
            )
            SELECT fp.doc_id,
              CAST(coalesce(cnt.n, 1) AS BIGINT) AS cluster_size,
              coalesce(CAST(1.0 AS DOUBLE) / CAST(cnt.n AS DOUBLE), 1.0)
                AS dup_weight
            FROM fp LEFT JOIN cnt USING (f)
        """,
        "dedup_rates_by_lang": f"""
WITH {_minhash_pair_ctes(num_hashes=96, shingle_k=5, seed=42, bands=16)},
dups AS (SELECT DISTINCT id_b AS doc_id FROM est WHERE matches >= 77)
SELECT d.lang,
  count(*) AS n_docs,
  count(*) - count(DISTINCT md5({_NORM_TEXT})) AS exact_dup_docs,
  count(dp.doc_id) AS near_dup_drops,
  count(dp.doc_id)::DOUBLE / count(*) AS near_dup_frac
FROM documents d LEFT JOIN dups dp USING (doc_id)
GROUP BY d.lang
""",
        # incremental ingest as parity predicates over the shared pair
        # replay: est already scores every candidate pair, and odd-odd /
        # odd-even pairs in the all-docs banding are exactly the pairs
        # the split pipelines generate (band buckets are per-doc)
        "incremental_minhash_ids": f"""
WITH {_minhash_pair_ctes(num_hashes=96, shingle_k=5, seed=42, bands=16)},
drop_cross AS (
  SELECT DISTINCT CASE WHEN id_a % 2 = 1 THEN id_a ELSE id_b END AS doc_id
  FROM est WHERE matches >= 77 AND (id_a % 2) <> (id_b % 2)),
drop_within AS (
  SELECT DISTINCT id_b AS doc_id FROM est
  WHERE matches >= 77 AND id_a % 2 = 1 AND id_b % 2 = 1)
SELECT doc_id FROM documents WHERE doc_id % 2 = 1
  AND doc_id NOT IN (SELECT doc_id FROM drop_cross)
  AND doc_id NOT IN (SELECT doc_id FROM drop_within)
""",
        # graded twin of the incremental gate: cross-parity best match
        # per odd doc over the same shared pair replay; no candidate →
        # max 0 / novelty 1. max(matches)/96 = max(matches/96) since the
        # division is monotone, and both engines compute ONE IEEE
        # division of exact integers → bit-exact.
        "novelty_scores_docs": f"""
WITH {_minhash_pair_ctes(num_hashes=96, shingle_k=5, seed=42, bands=16)},
cross_best AS (
  SELECT CASE WHEN id_a % 2 = 1 THEN id_a ELSE id_b END AS doc_id,
         max(matches) AS best
  FROM est WHERE (id_a % 2) <> (id_b % 2)
  GROUP BY 1)
SELECT dd.doc_id,
  coalesce(cb.best, 0)::DOUBLE / 96 AS max_est_jaccard,
  1.0 - coalesce(cb.best, 0)::DOUBLE / 96 AS novelty
FROM documents dd LEFT JOIN cross_best cb USING (doc_id)
WHERE dd.doc_id % 2 = 1
""",
        "image_features_stub": _image_features_oracle_sql(size=16),
        "approx_prune_stats": """
            SELECT lang, count(*) AS n_docs, TRUE AS kept_frac_ok
            FROM documents GROUP BY lang
        """,
        "approx_stats": """
            SELECT count(DISTINCT o_custkey) AS exact_customers,
                   quantile_cont(o_totalprice, 0.5) AS exact_median,
                   TRUE AS customers_ok, TRUE AS median_ok
            FROM orders
        """,
        "sketch_rollup_users": """
            SELECT event_type, count(DISTINCT user_id) AS exact_users,
                   TRUE AS within_5pct
            FROM events GROUP BY event_type
        """,
        "text_quality": f"""
            SELECT doc_id,
              length(text) AS q_chars,
              len({toks}) AS q_words,
              round(CAST(length(text) AS DOUBLE) / greatest(len({toks}), 1), 6)
                AS q_avg_word_len,
              length(text) - length(regexp_replace(text, '[\\!\\.\\,\\;\\?]', '', 'g'))
                AS q_punct,
              round(CAST(length(text) - length(regexp_replace(text, '[\\!\\.\\,\\;\\?]', '', 'g')) AS DOUBLE)
                / greatest(length(text), 1), 6) AS q_punct_ratio,
              round(CAST(length(text) - length(regexp_replace(text, '[A-Z]', '', 'g')) AS DOUBLE)
                / greatest(length(text), 1), 6) AS q_upper_ratio,
              round(CAST({_stop_hits('en', toks_lower)} AS DOUBLE) / 10, 6)
                AS q_stopword_ratio
            FROM documents
        """,
        "token_fertility_by_lang": f"""
            WITH s AS (
              SELECT lang,
                CAST(count(*) AS BIGINT) AS n_docs,
                CAST(sum(CASE WHEN text IS NULL THEN 1 ELSE 0 END)
                     AS BIGINT) AS n_null_docs,
                CAST(coalesce(sum(len({toks})), 0) AS BIGINT) AS sum_words,
                CAST(coalesce(sum(len(regexp_extract_all(text,
                  '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]'))), 0)
                  AS BIGINT) AS sum_bpe,
                CAST(coalesce(sum(strlen(text)), 0) AS BIGINT) AS sum_bytes
              FROM documents GROUP BY lang
            )
            SELECT lang, n_docs, n_null_docs, sum_words, sum_bpe, sum_bytes,
              CASE WHEN sum_words > 0
                   THEN CAST(sum_bpe AS DOUBLE) / CAST(sum_words AS DOUBLE)
              END AS fertility,
              CASE WHEN sum_bpe > 0
                   THEN CAST(sum_bytes AS DOUBLE) / CAST(sum_bpe AS DOUBLE)
              END AS bytes_per_token
            FROM s
        """,
        "token_counts": f"""
            SELECT doc_id, len({toks}) AS n_tokens,
              len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]')) AS n_bpe
            FROM documents
        """,
        "language_pred": f"""
            SELECT doc_id, list_max([{lang_structs}]).lang AS lang_pred
            FROM documents
        """,
        "cluster_assignments": f"""
            SELECT vec_id,
              CAST(list_max([{cluster_structs}]).cid AS BIGINT) AS cluster_id
            FROM embeddings
        """,
        "cluster_profile": f"""
            WITH a AS (
              SELECT vec_id, list_max([{cluster_structs}]) AS b FROM embeddings
            )
            SELECT CAST(b.cid AS BIGINT) AS cluster_id,
              CAST(count(*) AS BIGINT) AS n_members,
              round(min(b.sim), 6) AS min_sim,
              round(max(b.sim), 6) AS max_sim
            FROM a GROUP BY b.cid
        """,
        "pii_count_stats": r"""
            WITH inj AS (
              SELECT doc_id,
                text || ' contact user' || CAST(doc_id AS VARCHAR)
                  || '@example.com or http://site'
                  || CAST(doc_id % 7 AS VARCHAR)
                  || '.org/page or 10.0.'
                  || CAST(doc_id % 256 AS VARCHAR) || '.1' AS t
              FROM documents
            )
            SELECT doc_id,
              CAST(len(regexp_extract_all(t, '(?i)https?://[^\s]+'))
                   AS BIGINT) AS n_urls,
              CAST(len(regexp_extract_all(t,
                '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}'))
                   AS BIGINT) AS n_emails,
              CAST(len(regexp_extract_all(t,
                '\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b'))
                   AS BIGINT) AS n_ips,
              CAST(len(regexp_extract_all(t, '\+?[0-9][0-9() -]{6,}[0-9]'))
                   AS BIGINT) AS n_phones
            FROM inj
        """,
        "pii_redaction": r"""
            WITH inj AS (
              SELECT doc_id,
                text || ' contact user' || CAST(doc_id AS VARCHAR)
                  || '@example.com or http://site'
                  || CAST(doc_id % 7 AS VARCHAR)
                  || '.org/page or 10.0.'
                  || CAST(doc_id % 256 AS VARCHAR) || '.1' AS t
              FROM documents
            )
            SELECT doc_id,
              regexp_replace(regexp_replace(regexp_replace(regexp_replace(t,
                '(?i)https?://[^\s]+', '<URL>', 'g'),
                '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
                '\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b', '<IP>', 'g'),
                '\+?[0-9][0-9() -]{6,}[0-9]', '<PHONE>', 'g') AS red_text,
              CAST(len(regexp_extract_all(t, '(?i)https?://[^\s]+')) AS BIGINT)
                AS n_urls,
              lower(regexp_extract(t,
                '(?i)https?://(?:[^/@\s]*@)?([A-Za-z0-9.-]+)', 1))
                AS first_domain
            FROM inj
        """,
        "chunk_windows": r"""
            WITH s AS (
              SELECT doc_id,
                list_filter(regexp_split_to_array(trim(text), '\s+'),
                            x -> x != '') AS tk
              FROM documents
            ),
            p AS (
              SELECT doc_id, tk,
                unnest(list_filter(range(0, greatest(len(tk), 1), 24),
                       p -> p < len(tk))) AS st
              FROM s
            )
            SELECT doc_id,
              CAST(st // 24 AS BIGINT) AS chunk_id,
              CAST(st AS BIGINT) AS chunk_start,
              CAST(len(list_slice(tk, st + 1, st + 32)) AS BIGINT)
                AS chunk_tokens,
              array_to_string(list_slice(tk, st + 1, st + 32), ' ')
                AS chunk_text
            FROM p
        """,
        "hash_sample_ids": f"""
            SELECT doc_id, lang FROM documents
            WHERE {_md5h("CAST(doc_id AS VARCHAR) || 's1'")}
              < {int(0.25 * (1 << 60))}
        """,
        "hash_split_stats": f"""
            SELECT split, CAST(count(*) AS BIGINT) AS n_docs FROM (
              SELECT CASE
                WHEN {_md5h("CAST(doc_id AS VARCHAR)")} < {_SPLIT_BOUNDS[0]}
                  THEN 'train'
                WHEN {_md5h("CAST(doc_id AS VARCHAR)")} < {_SPLIT_BOUNDS[1]}
                  THEN 'val'
                ELSE 'test' END AS split
              FROM documents
            ) GROUP BY split
        """,
        "stratified_sample_docs": f"""
            SELECT doc_id, lang FROM (
              SELECT doc_id, lang, row_number() OVER (
                PARTITION BY lang
                ORDER BY {_md5h("CAST(doc_id AS VARCHAR)")} ASC, doc_id ASC
              ) AS rn
              FROM documents
            ) WHERE rn <= 20
        """,
        "repetition_profile": r"""
            WITH s AS (
              SELECT doc_id,
                list_filter(list_transform(string_split(text, chr(10)),
                    l -> trim(l)), l -> l != '') AS ln,
                list_filter(list_transform(
                    regexp_split_to_array(text, '\n[ \t]*\n'),
                    p -> trim(p)), p -> p != '') AS pg,
                regexp_split_to_array(trim(text), '\s+') AS tk
              FROM documents
            )
            SELECT doc_id,
              round((len(ln) - len(list_distinct(ln)))::DOUBLE
                / greatest(len(ln), 1), 6) AS rep_dup_line_frac,
              round(coalesce(list_sum(list_transform(ln,
                    l -> CASE WHEN len(list_filter(ln, x -> x = l)) > 1
                         THEN length(l) ELSE 0 END)), 0)::DOUBLE
                / greatest(coalesce(list_sum(list_transform(ln,
                    l -> length(l))), 0), 1), 6) AS rep_dup_line_char_frac,
              round((len(pg) - len(list_distinct(pg)))::DOUBLE
                / greatest(len(pg), 1), 6) AS rep_dup_para_frac,
              round((len(tk) - len(list_distinct(tk)))::DOUBLE
                / greatest(len(tk), 1), 6) AS rep_dup_token_frac,
              round((len(g2) - len(list_distinct(g2)))::DOUBLE
                / greatest(len(g2), 1), 6) AS rep_dup_2gram_frac,
              round((len(g3) - len(list_distinct(g3)))::DOUBLE
                / greatest(len(g3), 1), 6) AS rep_dup_3gram_frac
            FROM (
              SELECT *,
                list_transform(list_filter(range(0, greatest(len(tk) - 1, 1), 1),
                    p -> p < len(tk) - 1),
                  p -> array_to_string(list_slice(tk, p + 1, p + 2), ' ')) AS g2,
                list_transform(list_filter(range(0, greatest(len(tk) - 2, 1), 1),
                    p -> p < len(tk) - 2),
                  p -> array_to_string(list_slice(tk, p + 1, p + 3), ' ')) AS g3
              FROM s
            )
        """,
        "top_ngram_profile": r"""
            WITH s AS (
              SELECT doc_id,
                list_filter(regexp_split_to_array(trim(text), '\s+'),
                            x -> x != '') AS tk
              FROM documents
            ),
            g AS (
              SELECT doc_id,
                unnest(list_transform(
                  list_filter(range(0, greatest(len(tk) - 1, 1), 1),
                              p -> p < len(tk) - 1),
                  p -> array_to_string(list_slice(tk, p + 1, p + 2), ' ')))
                  AS gram
              FROM s
            ),
            c AS (SELECT doc_id, gram, count(*) AS n FROM g GROUP BY doc_id, gram),
            a AS (SELECT doc_id, CAST(sum(n) AS BIGINT) AS ng,
                         CAST(max(n) AS BIGINT) AS tc
                  FROM c GROUP BY doc_id)
            SELECT d.doc_id,
              coalesce(ng, 0) AS n_grams,
              coalesce(tc, 0) AS top_ngram_count,
              round(coalesce(tc, 0)::DOUBLE
                / greatest(coalesce(ng, 0), 1), 6) AS top_ngram_frac
            FROM documents d LEFT JOIN a USING (doc_id)
        """,
        "top_token_profile": r"""
            WITH t AS (
              SELECT doc_id,
                unnest(list_filter(regexp_split_to_array(trim(text), '\s+'),
                       x -> x != '')) AS tok
              FROM documents
            ),
            c AS (SELECT doc_id, tok, count(*) AS n FROM t GROUP BY doc_id, tok),
            a AS (SELECT doc_id, CAST(sum(n) AS BIGINT) AS nt,
                         CAST(max(n) AS BIGINT) AS tc
                  FROM c GROUP BY doc_id)
            SELECT d.doc_id,
              coalesce(nt, 0) AS n_tokens,
              coalesce(tc, 0) AS top_token_count,
              round(coalesce(tc, 0)::DOUBLE
                / greatest(coalesce(nt, 0), 1), 6) AS top_token_frac
            FROM documents d LEFT JOIN a USING (doc_id)
        """,
        "gopher_rules": f"""
            WITH s AS (
              SELECT doc_id, text,
                {toks} AS tk,
                list_filter(list_transform(string_split(text, chr(10)),
                    l -> trim(l)), l -> l != '') AS ln
              FROM documents
            ), m AS (
              SELECT doc_id,
                len(tk) AS n_words,
                coalesce(list_sum(list_transform(tk, w -> length(w))), 0)::DOUBLE
                  / greatest(len(tk), 1) AS awl,
                (length(text) - length(replace(text, '#', ''))
                 + length(text) - length(replace(text, '…', ''))
                 + CAST((length(text) - length(replace(text, '...', ''))) / 3
                        AS INT))::DOUBLE
                  / greatest(len(tk), 1) AS sym_ratio,
                len(list_filter(ln, l -> starts_with(l, '- ')
                    OR starts_with(l, '* ')
                    OR starts_with(l, '•')))::DOUBLE
                  / greatest(len(ln), 1) AS bullet_frac,
                len(list_filter(ln, l -> ends_with(l, '...')
                    OR ends_with(l, '…')))::DOUBLE
                  / greatest(len(ln), 1) AS ell_frac,
                len(list_filter(tk, w -> regexp_matches(w, '[A-Za-z]')))::DOUBLE
                  / greatest(len(tk), 1) AS alpha_frac,
                {_stop_hits('en', 'list_transform(tk, w -> lower(w))')} AS stop_hits
              FROM s
            )
            SELECT doc_id,
              CAST(n_words >= 10 AND n_words <= 100000 AS BIGINT) AS g_word_count_ok,
              CAST(awl >= 3.0 AND awl <= 10.0 AS BIGINT) AS g_avg_word_len_ok,
              CAST(sym_ratio <= 0.1 AS BIGINT) AS g_symbol_ratio_ok,
              CAST(bullet_frac <= 0.9 AS BIGINT) AS g_bullet_ok,
              CAST(ell_frac <= 0.3 AS BIGINT) AS g_ellipsis_ok,
              CAST(alpha_frac >= 0.8 AS BIGINT) AS g_alpha_ok,
              CAST(stop_hits >= 1 AS BIGINT) AS g_stopword_ok,
              CAST(n_words >= 10 AND n_words <= 100000
                AND awl >= 3.0 AND awl <= 10.0
                AND sym_ratio <= 0.1 AND bullet_frac <= 0.9
                AND ell_frac <= 0.3 AND alpha_frac >= 0.8
                AND stop_hits >= 1 AS BIGINT) AS gopher_keep
            FROM m
        """,
        "simhash_sketch": f"""
            WITH n AS (SELECT doc_id, {_NORM_TEXT} AS nt FROM documents),
            t AS (
              SELECT doc_id,
                list_distinct({_TOKENS.format(col="nt")}) AS toks
              FROM n
            ),
            h AS (
              SELECT doc_id,
                list_transform(toks, t -> {_md5h("t")}) AS hs,
                len(toks) AS ntk
              FROM t
            )
            SELECT doc_id,
              CASE WHEN ntk = 0 THEN 0
                   ELSE {_simhash_vote_sql("hs", "ntk")} END AS simhash
            FROM h
        """,
        "winnow_sketch": f"""
            WITH n AS (SELECT doc_id, {_NORM_TEXT} AS nt FROM documents),
            h AS (
              SELECT doc_id,
                CASE WHEN length(nt) >= 8 THEN
                  list_sort(list_distinct(list_transform(
                    range(1, length(nt) - 6),
                    i -> {_md5h("substr(nt, i, 8)")})))
                ELSE [] END AS hs
              FROM n
            ),
            s AS (SELECT doc_id, hs[1:16] AS sk FROM h)
            SELECT doc_id,
              CAST(len(sk) AS BIGINT) AS sketch_len,
              sk[1] AS h0,
              CASE WHEN len(sk) = 0 THEN 0
                   ELSE list_reduce(sk, (a, b) -> xor(a, b)) END AS hx
            FROM s
        """,
        "ngram_jaccard_dups": f"""
            WITH d AS (
              SELECT doc_id, lang,
                floor(log2(greatest(length(text), 1))) AS lb,
                {_TOKENS.format(col=_NORM_TEXT)} AS toks
              FROM documents
            ),
            g AS (
              SELECT doc_id, lang, lb,
                CASE WHEN len(toks) >= 3 THEN
                  list_distinct(list_transform(
                    range(1, len(toks) - 1),
                    i -> array_to_string(toks[i:i+2], ' ')))
                ELSE [] END AS grams
              FROM d
            ),
            p AS (
              SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                len(list_intersect(a.grams, b.grams)) AS ni,
                len(list_distinct(a.grams || b.grams)) AS nu
              FROM g a JOIN g b
                ON a.lang = b.lang AND a.doc_id < b.doc_id
               AND abs(a.lb - b.lb) <= 1
            )
            SELECT id_a, id_b,
              round(CAST(ni AS DOUBLE) / greatest(nu, 1), 6) AS jaccard
            FROM p
            WHERE CAST(ni AS DOUBLE) / greatest(nu, 1) >= 0.5
        """,
        "q3_shipping_priority": """
            SELECT l_orderkey,
              CAST(sum(CAST(l_extendedprice*(1-l_discount) AS DECIMAL(18,4)))
                   AS DOUBLE) AS revenue,
              o_orderdate, o_orderpriority
            FROM customer
            JOIN orders ON c_custkey = o_custkey
            JOIN lineitem ON l_orderkey = o_orderkey
            WHERE c_mktsegment = 'BUILDING'
              AND o_orderdate < TIMESTAMP '1998-03-15 00:00:00'
            GROUP BY l_orderkey, o_orderdate, o_orderpriority
            ORDER BY revenue DESC, l_orderkey LIMIT 100
        """,
        "asof_align": """
            WITH l AS (SELECT event_id, user_id, ts FROM events
                       WHERE event_type = 'click'),
                 r AS (SELECT user_id, ts, value FROM events
                       WHERE event_type = 'purchase')
            SELECT l.event_id, l.user_id, l.ts, r.value AS value_right
            FROM l ASOF LEFT JOIN r
              ON l.user_id = r.user_id AND l.ts >= r.ts
        """,
        "rollup_daily": """
            SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
              event_type, count(*) AS n,
              CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
            FROM events GROUP BY ROLLUP(day, event_type)
        """,
        "quantiles_totalprice": """
            SELECT quantile_cont(o_totalprice, 0.25) AS q25,
                   quantile_cont(o_totalprice, 0.5) AS q50,
                   quantile_cont(o_totalprice, 0.75) AS q75
            FROM orders
        """,
        "embedding_dim_stats": """
            SELECT pos, count(*) AS n,
              CAST(min(v) AS DOUBLE) AS min_v, CAST(max(v) AS DOUBLE) AS max_v
            FROM (SELECT unnest(embedding) AS v,
                         generate_subscripts(embedding, 1) - 1 AS pos
                  FROM embeddings)
            GROUP BY pos
        """,
        "struct_field_access": """
            SELECT s.et AS et, count(*) AS n,
              CAST(sum(CAST(s.v AS DECIMAL(18,6))) AS DOUBLE) AS sum_v
            FROM (SELECT {'et': event_type, 'v': value} AS s FROM events)
            GROUP BY s.et
        """,
        "latest_order_per_customer": """
            SELECT o_custkey, o_orderkey, o_orderdate, o_totalprice FROM (
              SELECT *, row_number() OVER (
                  PARTITION BY o_custkey
                  ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn
              FROM orders) WHERE rn = 1
        """,
        "json_props_agg": """
            SELECT event_type,
              -- DuckDB sum(BIGINT) returns HUGEINT (decimal128 via Arrow);
              -- cast back to BIGINT so the value-hash matches Spark's long.
              CAST(sum(CAST(json_extract(props, '$.k') AS BIGINT)) AS BIGINT)
                AS sum_k,
              count(*) FILTER (json_extract(props, '$.k') IS NOT NULL)
                AS n_with_k
            FROM events GROUP BY event_type
        """,
        "sorted_tail": """
            SELECT c_custkey, c_name, c_acctbal FROM customer
            ORDER BY c_custkey DESC LIMIT 50
        """,
        "sessionize": """
            WITH g AS (
              SELECT user_id, ts,
                CASE WHEN lag(ts) OVER w IS NULL
                       OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000
                     THEN 1 ELSE 0 END AS news
              FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts)
            ), s AS (
              SELECT user_id, ts,
                sum(news) OVER (PARTITION BY user_id ORDER BY ts
                                ROWS UNBOUNDED PRECEDING) AS sid
              FROM g
            )
            SELECT user_id, min(ts) AS session_start, max(ts) AS session_end,
                   count(*) AS n_events
            FROM s GROUP BY user_id, sid
        """,
        "tfidf_top_terms": r"""
            WITH t AS (
              SELECT doc_id,
                unnest(list_filter(
                  regexp_split_to_array(trim(lower(text)), '\s+'),
                  x -> x != '')) AS term
              FROM documents
            ),
            c AS (SELECT doc_id, term, count(*) AS n FROM t
                  GROUP BY doc_id, term),
            s AS (
              SELECT doc_id, term, n,
                CAST(sum(n) OVER (PARTITION BY doc_id) AS DOUBLE) AS len,
                CAST(count(*) OVER (PARTITION BY term) AS DOUBLE) AS df,
                (SELECT count(*) FROM documents)::DOUBLE AS nd
              FROM c
            ),
            r AS (
              SELECT doc_id, term,
                (n::DOUBLE / len) * (ln((nd + 1) / (df + 1)) + 1) AS tfidf,
                row_number() OVER (
                  PARTITION BY doc_id
                  ORDER BY (n::DOUBLE / len) * (ln((nd + 1) / (df + 1)) + 1)
                             DESC,
                           term ASC) AS rank
              FROM s
            )
            SELECT doc_id, CAST(rank AS BIGINT) AS rank, term,
                   round(tfidf, 6) AS tfidf
            FROM r WHERE rank <= 3
        """,
        "weighted_sample_docs": f"""
            SELECT doc_id, lang FROM (
              SELECT doc_id, lang,
                row_number() OVER (
                  ORDER BY pow(
                    (CAST({_md5h("CAST(doc_id AS VARCHAR)")} AS DOUBLE) + 1.0)
                      / {float(1 << 60)!r},
                    1.0 / CAST(n_chars AS DOUBLE)) DESC,
                  doc_id ASC) AS rn
              FROM documents WHERE n_chars > 0
            ) WHERE rn <= 50
        """,
        "decontaminated_ids": f"""
            WITH norm AS (
              SELECT doc_id, lang,
                list_filter(regexp_split_to_array({_NORM_TEXT}, '\\s+'),
                            x -> x != '') AS tk
              FROM documents
            ),
            grams AS (
              SELECT doc_id,
                unnest(list_distinct(list_transform(
                  list_filter(range(0, greatest(len(tk) - 12, 1), 1),
                              p -> p < len(tk) - 12),
                  p -> array_to_string(list_slice(tk, p + 1, p + 13), ' '))))
                  AS g
              FROM norm
            ),
            bad AS (
              SELECT DISTINCT d.doc_id
              FROM grams d JOIN (
                SELECT DISTINCT g FROM grams WHERE doc_id % 50 = 0
              ) b USING (g)
            )
            SELECT doc_id, lang FROM documents
            WHERE doc_id NOT IN (SELECT doc_id FROM bad)
        """,
        "vocab_top_terms": r"""
            SELECT term, CAST(count(*) AS BIGINT) AS n FROM (
              SELECT unnest(list_filter(
                regexp_split_to_array(trim(lower(text)), '\s+'),
                x -> x != '')) AS term
              FROM documents
            ) GROUP BY term
            ORDER BY n DESC, term ASC LIMIT 50
        """,
        "doc_length_histogram": """
            SELECT CAST(least(length(text) // 100, 9) AS BIGINT) AS bucket,
                   CAST(count(*) AS BIGINT) AS n_docs
            FROM documents GROUP BY bucket
        """,
        "grouped_quantiles": """
            SELECT o_orderpriority,
                   round(quantile_cont(o_totalprice, 0.25), 6) AS q25,
                   round(quantile_cont(o_totalprice, 0.5), 6) AS q50,
                   round(quantile_cont(o_totalprice, 0.75), 6) AS q75
            FROM orders GROUP BY o_orderpriority
        """,
        "pack_bins": f"""
            WITH s AS (
              SELECT doc_id,
                list_filter(regexp_split_to_array(trim(text), '\\s+'),
                            x -> x != '') AS tk
              FROM documents
            ),
            ck AS (
              SELECT doc_id,
                CAST(st // 24 AS BIGINT) AS chunk_id,
                CAST(len(list_slice(tk, st + 1, st + 32)) AS BIGINT)
                  AS chunk_tokens
              FROM (
                SELECT doc_id, tk,
                  unnest(list_filter(range(0, greatest(len(tk), 1), 24),
                         p -> p < len(tk))) AS st
                FROM s
              )
            ),
            packed AS (
              SELECT
                {_md5h("CAST(doc_id AS VARCHAR)")} % 8 AS shard,
                (sum(chunk_tokens) OVER (
                   PARTITION BY {_md5h("CAST(doc_id AS VARCHAR)")} % 8
                   ORDER BY doc_id, chunk_id
                   ROWS UNBOUNDED PRECEDING) - chunk_tokens) // 256
                  AS pack_id,
                chunk_tokens
              FROM ck
            )
            SELECT CAST(shard AS BIGINT) AS shard,
              CAST(pack_id AS BIGINT) AS pack_id,
              CAST(count(*) AS BIGINT) AS n_chunks,
              CAST(sum(chunk_tokens) AS BIGINT) AS n_tokens
            FROM packed GROUP BY shard, pack_id
        """,
        "funnel_stages": """
            WITH u AS (
              SELECT user_id, list({'ts': ts, 'et': event_type}) AS evs
              FROM events GROUP BY user_id
            ),
            a AS (SELECT user_id, evs,
                    list_min(list_transform(list_filter(evs,
                      e -> e.et = 'signup'), e -> e.ts)) AS t_1 FROM u),
            b AS (SELECT user_id, evs, t_1,
                    list_min(list_transform(list_filter(evs,
                      e -> e.et = 'view' AND e.ts > t_1), e -> e.ts)) AS t_2
                  FROM a),
            c AS (SELECT user_id, t_1, t_2,
                    list_min(list_transform(list_filter(evs,
                      e -> e.et = 'purchase' AND e.ts > t_2), e -> e.ts)) AS t_3
                  FROM b)
            SELECT user_id, t_1, t_2, t_3,
              CAST(CASE WHEN t_3 IS NOT NULL THEN 3
                        WHEN t_2 IS NOT NULL THEN 2
                        WHEN t_1 IS NOT NULL THEN 1
                        ELSE 0 END AS BIGINT) AS stage_reached
            FROM c
        """,
        "funnel_summary": """
            WITH u AS (
              SELECT user_id, list({'ts': ts, 'et': event_type}) AS evs
              FROM events GROUP BY user_id
            ),
            a AS (SELECT user_id, evs,
                    list_min(list_transform(list_filter(evs,
                      e -> e.et = 'signup'), e -> e.ts)) AS t_1 FROM u),
            b AS (SELECT user_id, evs, t_1,
                    list_min(list_transform(list_filter(evs,
                      e -> e.et = 'view' AND e.ts > t_1), e -> e.ts)) AS t_2
                  FROM a),
            c AS (SELECT user_id, t_1, t_2,
                    list_min(list_transform(list_filter(evs,
                      e -> e.et = 'purchase' AND e.ts > t_2), e -> e.ts)) AS t_3
                  FROM b)
            SELECT * FROM (
              SELECT CAST(1 AS BIGINT) AS step_index, 'signup' AS step,
                     CAST(count(t_1) AS BIGINT) AS n_users FROM c
              UNION ALL
              SELECT CAST(2 AS BIGINT), 'view', CAST(count(t_2) AS BIGINT)
              FROM c
              UNION ALL
              SELECT CAST(3 AS BIGINT), 'purchase', CAST(count(t_3) AS BIGINT)
              FROM c)
        """,
        "ann_bruteforce": """
            WITH q AS (SELECT vec_id AS qid, embedding AS qv FROM embeddings
                       WHERE vec_id < 8),
            s AS (SELECT qid AS query_id, vec_id AS neighbor_id,
                    list_cosine_similarity(CAST(embedding AS DOUBLE[]),
                                           CAST(qv AS DOUBLE[])) AS sim
                  FROM embeddings CROSS JOIN q WHERE vec_id <> qid)
            SELECT query_id, neighbor_id, rank FROM (
              SELECT query_id, neighbor_id,
                row_number() OVER (PARTITION BY query_id
                                   ORDER BY sim DESC, neighbor_id) AS rank
              FROM s)
            WHERE rank <= 5
        """,
        "map_flag_stats": """
            WITH per AS (
              SELECT l_orderkey, l_returnflag, sum(l_quantity) AS q
              FROM lineitem GROUP BY l_orderkey, l_returnflag
            )
            SELECT l_orderkey,
              max(CASE WHEN l_returnflag = 'N' THEN q END) AS qty_n,
              bool_or(l_returnflag = 'R') AS has_r,
              CAST(count(*) AS BIGINT) AS n_flags,
              string_agg(l_returnflag, '|' ORDER BY l_returnflag) AS flags
            FROM per GROUP BY l_orderkey
        """,
        "ann_lsh": """
            WITH q AS (SELECT vec_id + 1000000 AS qid, embedding AS qv
                       FROM embeddings WHERE vec_id < 8),
            s AS (SELECT qid AS query_id, vec_id AS neighbor_id,
                    list_cosine_similarity(CAST(embedding AS DOUBLE[]),
                                           CAST(qv AS DOUBLE[])) AS sim
                  FROM embeddings CROSS JOIN q)
            SELECT query_id, neighbor_id, rank FROM (
              SELECT query_id, neighbor_id,
                row_number() OVER (PARTITION BY query_id
                                   ORDER BY sim DESC, neighbor_id) AS rank
              FROM s)
            WHERE rank <= 1
        """,
        "ann_lsh_multiprobe": """
            WITH q AS (SELECT vec_id + 1000000 AS qid,
                         list_transform(range(1, 65),
                           i -> CAST(embedding[i] AS DOUBLE)
                                + CASE WHEN i = 1 THEN 0.2 ELSE 0.0 END)
                         AS qv
                       FROM embeddings WHERE vec_id < 8),
            s AS (SELECT qid AS query_id, vec_id AS neighbor_id,
                    list_cosine_similarity(CAST(embedding AS DOUBLE[]),
                                           qv) AS sim
                  FROM embeddings CROSS JOIN q)
            SELECT query_id, neighbor_id, rank FROM (
              SELECT query_id, neighbor_id,
                row_number() OVER (PARTITION BY query_id
                                   ORDER BY sim DESC, neighbor_id) AS rank
              FROM s)
            WHERE rank <= 1
        """,
        "ann_lsh_multiprobe2": """
            WITH q AS (SELECT vec_id + 1000000 AS qid,
                         list_transform(range(1, 65),
                           i -> CAST(embedding[i] AS DOUBLE)
                                + CASE WHEN i = 1 THEN 0.35 ELSE 0.0 END)
                         AS qv
                       FROM embeddings WHERE vec_id < 8),
            s AS (SELECT qid AS query_id, vec_id AS neighbor_id,
                    list_cosine_similarity(CAST(embedding AS DOUBLE[]),
                                           qv) AS sim
                  FROM embeddings CROSS JOIN q)
            SELECT query_id, neighbor_id, rank FROM (
              SELECT query_id, neighbor_id,
                row_number() OVER (PARTITION BY query_id
                                   ORDER BY sim DESC, neighbor_id) AS rank
              FROM s)
            WHERE rank <= 1
        """,
        "emb_near_dup_pairs": """
            WITH allv AS (
              SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
              UNION ALL
              SELECT vec_id + 1000000, CAST(embedding AS DOUBLE[])
              FROM embeddings WHERE vec_id % 50 = 0
            )
            SELECT a.vec_id AS id_a, b.vec_id AS id_b,
                   round(list_cosine_similarity(a.v, b.v), 6) AS cos_sim
            FROM allv a JOIN allv b ON a.vec_id < b.vec_id
            WHERE list_cosine_similarity(a.v, b.v) >= 0.95
        """,
        # same brute-force ground truth as emb_near_dup_pairs: planted
        # EXACT copies are the full true set at 0.95, and they collide
        # at every cell sizing, so the fractional-refinement pipeline
        # must recover it exactly (recall + precision bit-check)
        "emb_near_dup_fractional": """
            WITH allv AS (
              SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
              UNION ALL
              SELECT vec_id + 1000000, CAST(embedding AS DOUBLE[])
              FROM embeddings WHERE vec_id % 50 = 0
            )
            SELECT a.vec_id AS id_a, b.vec_id AS id_b,
                   round(list_cosine_similarity(a.v, b.v), 6) AS cos_sim
            FROM allv a JOIN allv b ON a.vec_id < b.vec_id
            WHERE list_cosine_similarity(a.v, b.v) >= 0.95
        """,
        # same brute-force truth as the fractional entry: exact copies
        # score ~1.0 under ANY summation order, so the arrow tier's
        # BLAS reduction cannot move a round-6 value or a threshold
        # decision on this fixture
        "emb_near_dup_arrow": """
            WITH allv AS (
              SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
              UNION ALL
              SELECT vec_id + 1000000, CAST(embedding AS DOUBLE[])
              FROM embeddings WHERE vec_id % 50 = 0
            )
            SELECT a.vec_id AS id_a, b.vec_id AS id_b,
                   round(list_cosine_similarity(a.v, b.v), 6) AS cos_sim
            FROM allv a JOIN allv b ON a.vec_id < b.vec_id
            WHERE list_cosine_similarity(a.v, b.v) >= 0.95
        """,
        # same brute-force truth again for the in-join scoring tier:
        # the planted pairs are exact copies, so the meeting-time BLAS
        # cosine is ~1.0 under any summation order and the distinct
        # collapses duplicate meetings bit-exactly
        "emb_near_dup_injoin": """
            WITH allv AS (
              SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
              UNION ALL
              SELECT vec_id + 1000000, CAST(embedding AS DOUBLE[])
              FROM embeddings WHERE vec_id % 50 = 0
            )
            SELECT a.vec_id AS id_a, b.vec_id AS id_b,
                   round(list_cosine_similarity(a.v, b.v), 6) AS cos_sim
            FROM allv a JOIN allv b ON a.vec_id < b.vec_id
            WHERE list_cosine_similarity(a.v, b.v) >= 0.95
        """,
        # cosine replayed STRUCTURALLY as the Spark fold computes it —
        # dot / (sqrt(dot_aa) * sqrt(dot_bb)), list_inner_product being
        # the bitwise twin of the sequential zip_with/aggregate fold —
        # because the near-copies produce non-trivial cosines where a
        # sqrt(x*y) vs sqrt(x)*sqrt(y) ulp could cross a round-6 edge
        "emb_near_dup_multiprobe": """
            WITH allv AS (
              SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
              UNION ALL
              SELECT vec_id + 1000000,
                list_transform(range(1, 65),
                  i -> CAST(embedding[i] AS DOUBLE)
                       + CASE WHEN i = 1 THEN 0.2 ELSE 0.0 END)
              FROM embeddings WHERE vec_id % 50 = 0
            ),
            s AS (
              SELECT a.vec_id AS id_a, b.vec_id AS id_b,
                list_inner_product(a.v, b.v)
                  / (sqrt(list_inner_product(a.v, a.v))
                     * sqrt(list_inner_product(b.v, b.v))) AS cos
              FROM allv a JOIN allv b ON a.vec_id < b.vec_id
            )
            SELECT id_a, id_b, round(cos, 6) AS cos_sim
            FROM s WHERE cos >= 0.95
        """,
        "semdedup_survivors": f"""
            WITH allv AS (
              SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
              UNION ALL
              SELECT vec_id + 1000000, CAST(embedding AS DOUBLE[])
              FROM embeddings WHERE vec_id % 25 = 0
            ),
            a AS (
              SELECT vec_id, v, list_max([{cluster_structs_v}]).cid AS cid
              FROM allv
            )
            SELECT x.vec_id FROM a x
            WHERE NOT EXISTS (
              SELECT 1 FROM a y
              WHERE y.cid = x.cid AND y.vec_id < x.vec_id
                AND round(list_cosine_similarity(x.v, y.v), 6) >= 0.95
            )
        """,
        "ann_ivf": """
            WITH q AS (SELECT vec_id AS qid, embedding AS qv FROM embeddings
                       WHERE vec_id < 8),
            s AS (SELECT qid AS query_id, vec_id AS neighbor_id,
                    list_cosine_similarity(CAST(embedding AS DOUBLE[]),
                                           CAST(qv AS DOUBLE[])) AS sim
                  FROM embeddings CROSS JOIN q WHERE vec_id <> qid)
            SELECT query_id, neighbor_id, rank FROM (
              SELECT query_id, neighbor_id,
                row_number() OVER (PARTITION BY query_id
                                   ORDER BY sim DESC, neighbor_id) AS rank
              FROM s)
            WHERE rank <= 5
        """,
        "semi_join_urgent_customers": """
            SELECT c_custkey, c_mktsegment FROM customer c
            WHERE EXISTS (SELECT 1 FROM orders o
                          WHERE o.o_custkey = c.c_custkey
                            AND o.o_orderpriority = '1-URGENT')
        """,
        "anti_join_quiet_customers": """
            SELECT c_custkey, c_mktsegment FROM customer c
            WHERE NOT EXISTS (SELECT 1 FROM orders o
                              WHERE o.o_custkey = c.c_custkey
                                AND o.o_orderpriority = '1-URGENT')
        """,
        "cube_order_stats": """
            SELECT o_orderstatus, o_orderpriority,
              CAST(GROUPING_ID(o_orderstatus, o_orderpriority) AS BIGINT) AS gid,
              CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price,
              CAST(count(o_orderkey) AS BIGINT) AS n
            FROM orders
            GROUP BY CUBE (o_orderstatus, o_orderpriority)
        """,
        "rollup_returnflag_stats": """
            SELECT l_returnflag, l_linestatus,
              CAST(GROUPING_ID(l_returnflag, l_linestatus) AS BIGINT) AS gid,
              CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
              CAST(count(l_orderkey) AS BIGINT) AS n
            FROM lineitem
            GROUP BY ROLLUP (l_returnflag, l_linestatus)
        """,
        "melt_part_measures": """
            SELECT p_partkey, 'p_retailprice' AS measure,
                   CAST(p_retailprice AS DOUBLE) AS val FROM part
            UNION ALL
            SELECT p_partkey, 'p_size' AS measure,
                   CAST(p_size AS DOUBLE) AS val FROM part
        """,
        "interval_click_counts": """
            WITH err AS (
              SELECT event_id AS err_id,
                     ts - INTERVAL 5 MINUTE AS w_start,
                     ts + INTERVAL 5 MINUTE AS w_end
              FROM events WHERE event_type = 'error'
            ),
            clk AS (SELECT ts FROM events WHERE event_type = 'click')
            SELECT err_id, CAST(count(*) AS BIGINT) AS n_clicks
            FROM err JOIN clk
              ON clk.ts >= err.w_start AND clk.ts < err.w_end
            GROUP BY err_id
        """,
        "pivot_status_revenue": """
            SELECT o_orderpriority,
              CAST(sum(CASE WHEN o_orderstatus = 'F'
                   THEN CAST(o_totalprice AS DECIMAL(18,2)) END) AS DOUBLE) AS "F",
              CAST(sum(CASE WHEN o_orderstatus = 'O'
                   THEN CAST(o_totalprice AS DECIMAL(18,2)) END) AS DOUBLE) AS "O",
              CAST(sum(CASE WHEN o_orderstatus = 'P'
                   THEN CAST(o_totalprice AS DECIMAL(18,2)) END) AS DOUBLE) AS "P"
            FROM orders GROUP BY o_orderpriority
        """,
        "cumulative_acctbal": """
            SELECT c_custkey, c_nationkey,
              CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) OVER (
                PARTITION BY c_nationkey ORDER BY c_custkey
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
              ) AS DOUBLE) AS run_bal
            FROM customer
        """,
        "ntile_price_quartiles": """
            WITH q AS (
              SELECT o_orderstatus, o_totalprice,
                NTILE(4) OVER (PARTITION BY o_orderstatus
                               ORDER BY o_totalprice, o_orderkey) AS quartile
              FROM orders)
            SELECT o_orderstatus, CAST(quartile AS BIGINT) AS quartile,
                   CAST(count(*) AS BIGINT) AS n,
                   min(o_totalprice) AS lo, max(o_totalprice) AS hi
            FROM q GROUP BY o_orderstatus, quartile
        """,
        "dedup_components": """
            WITH s AS (
              SELECT doc_id, lang, n_chars,
                     LAG(n_chars) OVER (PARTITION BY lang
                                        ORDER BY n_chars, doc_id) AS pnc
              FROM documents
            ), f AS (
              SELECT doc_id, lang, n_chars,
                CASE WHEN pnc IS NULL OR n_chars - pnc > 2
                     THEN 1 ELSE 0 END AS brk
              FROM s
            ), r AS (
              SELECT doc_id, lang,
                sum(brk) OVER (PARTITION BY lang ORDER BY n_chars, doc_id
                               ROWS UNBOUNDED PRECEDING) AS run
              FROM f
            )
            SELECT doc_id AS node,
                   min(doc_id) OVER (PARTITION BY lang, run) AS component
            FROM r
        """,
        "canonical_docs_map": """
            WITH s AS (
              SELECT doc_id, lang, n_chars,
                     LAG(n_chars) OVER (PARTITION BY lang
                                        ORDER BY n_chars, doc_id) AS pnc
              FROM documents
            ), f AS (
              SELECT doc_id, lang, n_chars,
                CASE WHEN pnc IS NULL OR n_chars - pnc > 2
                     THEN 1 ELSE 0 END AS brk
              FROM s
            ), r AS (
              SELECT doc_id, lang, n_chars,
                sum(brk) OVER (PARTITION BY lang ORDER BY n_chars, doc_id
                               ROWS UNBOUNDED PRECEDING) AS run
              FROM f
            )
            SELECT doc_id,
              first_value(doc_id) OVER (PARTITION BY lang, run
                                        ORDER BY n_chars DESC, doc_id) AS canonical_id
            FROM r
        """,
        "multikey_join_partsupp": """
            WITH totals AS (
              SELECT l_partkey AS ps_partkey, l_suppkey AS ps_suppkey,
                CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
                  AS ps_total_qty
              FROM lineitem GROUP BY l_partkey, l_suppkey)
            SELECT l_returnflag,
              CAST(sum(CAST(ps_total_qty AS DECIMAL(18,2))) AS DOUBLE) AS sum_ps_qty,
              CAST(count(*) AS BIGINT) AS n
            FROM lineitem li
            JOIN totals t ON li.l_partkey = t.ps_partkey
                         AND li.l_suppkey = t.ps_suppkey
            GROUP BY l_returnflag
        """,
        "exploded_label_stats": """
            SELECT CAST(label AS BIGINT) AS label,
                   CAST(count(*) AS BIGINT) AS n,
                   min(CAST(e AS DOUBLE)) AS lo,
                   max(CAST(e AS DOUBLE)) AS hi
            FROM (SELECT label, UNNEST(embedding) AS e FROM embeddings)
            GROUP BY label
        """,
        "custkeys_intersect_except": """
            WITH urgent AS (SELECT o_custkey FROM orders
                            WHERE o_orderpriority = '1-URGENT'),
                 fin AS (SELECT o_custkey FROM orders
                         WHERE o_orderstatus = 'F')
            SELECT o_custkey, 'both' AS tag
            FROM (SELECT o_custkey FROM urgent INTERSECT
                  SELECT o_custkey FROM fin)
            UNION ALL
            SELECT o_custkey, 'urgent_only' AS tag
            FROM (SELECT o_custkey FROM urgent EXCEPT
                  SELECT o_custkey FROM fin)
        """,
        "rolling_window_revenue": """
            SELECT o_orderkey, o_custkey,
              CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) OVER (
                PARTITION BY o_custkey
                ORDER BY (CAST(o_orderdate AS DATE) - DATE '1970-01-01')
                RANGE BETWEEN 29 PRECEDING AND CURRENT ROW
              ) AS DOUBLE) AS rev_30d,
              CAST(count(o_orderkey) OVER (
                PARTITION BY o_custkey
                ORDER BY (CAST(o_orderdate AS DATE) - DATE '1970-01-01')
                RANGE BETWEEN 29 PRECEDING AND CURRENT ROW
              ) AS BIGINT) AS n_30d
            FROM orders
        """,
        "math_regex_funcs": """
            SELECT p_partkey,
              CAST(ROUND(CAST(p_retailprice AS DECIMAL(12,2)), 0) AS DOUBLE)
                AS price_r0,
              ROUND(sqrt(p_retailprice), 6) AS price_sqrt,
              ROUND(ln(p_retailprice), 6) AS price_ln,
              CAST(floor(p_retailprice) AS BIGINT) AS price_floor,
              NULLIF(regexp_extract(p_name, '^([a-z]+)', 1), '') AS first_word,
              regexp_matches(p_type, 'ECO|SMA') AS is_eco_small,
              substring(p_name, 1, 5) AS head5
            FROM part
            WHERE p_brand IN ('Brand#12', 'Brand#17', 'Brand#23')
        """,
        "edit_distance_dups": """
            SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                   CAST(levenshtein(a.text, b.text) AS BIGINT) AS dist
            FROM documents a
            JOIN documents b
              ON a.lang = b.lang AND a.doc_id < b.doc_id
             AND abs(length(a.text) - length(b.text)) <= 16
            WHERE levenshtein(a.text, b.text) <= 16
        """,
        "kmeans_clusters": _kmeans_oracle_sql(k=4, iters=2, dim=64),
        "prototype_pruned_ids": _prototype_prune_oracle_sql(
            k=4, iters=1, dim=64, frac=0.5
        ),
        "price_rank_dist": """
            SELECT o_orderkey, o_orderstatus,
              percent_rank() OVER (PARTITION BY o_orderstatus
                ORDER BY o_totalprice, o_orderkey) AS pr,
              cume_dist() OVER (PARTITION BY o_orderstatus
                ORDER BY o_totalprice, o_orderkey) AS cd
            FROM orders
        """,
        "list_ops_ext": """
            SELECT doc_id,
              CAST(len(string_split(text, ' ')) AS BIGINT) AS n_toks,
              CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT)
                AS n_uniq,
              array_to_string(list_slice(string_split(text, ' '), 1, 3), ' ')
                AS head3,
              list_sort(string_split(text, ' '), 'ASC', 'NULLS LAST')[1]
                AS first_alpha
            FROM documents
        """,
        "dt_arith_funcs": """
            SELECT o_orderkey,
              o_orderdate + INTERVAL 30 DAY AS due,
              CAST(date_diff('day', date_trunc('month', o_orderdate),
                             o_orderdate) AS BIGINT) AS mday,
              concat_ws('-', o_orderstatus, o_orderpriority) AS tag,
              CAST(len(regexp_extract_all(o_orderpriority, '[0-9]'))
                AS BIGINT) AS ndig,
              greatest(o_totalprice, 100000.0) AS hi,
              least(o_totalprice, 100000.0) AS lo
            FROM orders
        """,
        "describe_orders": """
            SELECT * FROM (
              SELECT 'o_orderkey' AS col_name,
                CAST(count(o_orderkey) AS BIGINT) AS n_non_null,
                round(avg(o_orderkey), 6) AS mean,
                round(stddev_samp(o_orderkey), 6) AS std,
                CAST(min(o_orderkey) AS DOUBLE) AS lo,
                CAST(max(o_orderkey) AS DOUBLE) AS hi
              FROM orders
              UNION ALL
              SELECT 'o_custkey',
                CAST(count(o_custkey) AS BIGINT),
                round(avg(o_custkey), 6), round(stddev_samp(o_custkey), 6),
                CAST(min(o_custkey) AS DOUBLE), CAST(max(o_custkey) AS DOUBLE)
              FROM orders
              UNION ALL
              SELECT 'o_totalprice',
                CAST(count(o_totalprice) AS BIGINT),
                round(avg(o_totalprice), 6),
                round(stddev_samp(o_totalprice), 6),
                CAST(min(o_totalprice) AS DOUBLE),
                CAST(max(o_totalprice) AS DOUBLE)
              FROM orders
            )
        """,
        "mixture_sample_docs": f"""
            WITH tw(source, t) AS (
              VALUES {", ".join(f"('{s}', {t!r})" for s, t in _MIX_T.items())}
            ), c AS (
              SELECT tw.source, tw.t, count(*) AS n
              FROM tw JOIN documents d ON d.source = tw.source
              GROUP BY tw.source, tw.t
            ), m AS (
              SELECT min(n / t) AS mm FROM c
            ), thr AS (
              SELECT c.source,
                CAST(trunc(((c.t * m.mm) / c.n)
                  * 1152921504606846976.0) AS BIGINT) AS th
              FROM c, m
            )
            SELECT d.doc_id, d.source
            FROM documents d JOIN thr ON d.source = thr.source
            WHERE {_md5h("CAST(d.doc_id AS VARCHAR) || 'mix1'")} < thr.th
        """,
        "temperature_mixture_docs": f"""
            WITH dom AS (
              SELECT doc_id,
                CASE WHEN doc_id % 10 < 6 THEN 'head'
                     WHEN doc_id % 10 < 9 THEN 'torso'
                     ELSE 'tail' END AS domain
              FROM documents
            ), c AS (
              SELECT domain, CAST(count(*) AS BIGINT) AS n
              FROM dom GROUP BY domain
            ), m AS (
              SELECT min(n / sqrt(n)) AS mm FROM c
            ), thr AS (
              -- same op order as sampling.temperature_mixture:
              -- ((sqrt(n) * m) / n) * 2^60, truncated
              SELECT c.domain,
                CAST(trunc(((sqrt(c.n) * m.mm) / c.n)
                  * 1152921504606846976.0) AS BIGINT) AS th
              FROM c, m
            )
            SELECT d.doc_id, d.domain
            FROM dom d JOIN thr ON d.domain = thr.domain
            WHERE {_md5h("CAST(d.doc_id AS VARCHAR) || 'temp4'")} < thr.th
        """,
        "curation_decisions_docs": f"""
            WITH {_curation_cte()}
            SELECT doc_id,
              len(reasons) = 0 AS keep,
              CAST(len(reasons) AS BIGINT) AS n_reasons,
              coalesce(array_to_string(reasons, '|'), '') AS reasons
            FROM verdicts
        """,
        "curation_funnel_docs": f"""
            WITH {_curation_cte()},
            -- first-fired attribution as an EXPLICIT literal CASE over
            -- the gate memberships in pipeline order (blocked ->
            -- contaminated -> short). Deliberately NOT derived from the
            -- verdicts.reasons array: its element order is the gate
            -- chain's SORTED-name order (the decisions contract), which
            -- only coincides with pipeline order for these three names
            -- — a renamed gate must not silently reorder attribution.
            att AS (
              SELECT CASE
                WHEN d.doc_id IN (SELECT doc_id FROM blocked) THEN 0
                WHEN d.doc_id IN (SELECT doc_id FROM contaminated) THEN 1
                WHEN d.n_chars < 120 THEN 2
                ELSE 3 END AS idx
              FROM documents d
            ),
            cnt AS (
              SELECT idx, CAST(count(*) AS BIGINT) AS n FROM att GROUP BY idx
            ),
            spine AS (
              SELECT * FROM (VALUES (0, 'blocked'), (1, 'contaminated'),
                                    (2, 'short')) t(stage_idx, stage)
            ),
            tot AS (SELECT CAST(sum(n) AS BIGINT) AS total FROM cnt),
            j AS (
              SELECT s.stage_idx, s.stage,
                     CAST(coalesce(c.n, 0) AS BIGINT) AS n_dropped
              FROM spine s LEFT JOIN cnt c ON c.idx = s.stage_idx
            ),
            r AS (
              SELECT j.stage_idx, j.stage, j.n_dropped,
                CAST(t.total - coalesce(sum(j.n_dropped) OVER (
                    ORDER BY j.stage_idx
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                  AS BIGINT) AS n_in
              FROM j CROSS JOIN tot t
            )
            SELECT CAST(stage_idx AS BIGINT) AS stage_idx, stage, n_in,
              n_dropped, CAST(n_in - n_dropped AS BIGINT) AS n_out,
              CASE WHEN n_in > 0
                   THEN CAST(n_dropped AS DOUBLE) / CAST(n_in AS DOUBLE)
              END AS drop_frac
            FROM r
        """,
        "source_overlap_docs": f"""
            WITH u AS (
              SELECT doc_id, text, 'full' AS src FROM documents
              UNION ALL
              SELECT doc_id + 100000, upper(text) || '!!!', 'mirror_even'
              FROM documents WHERE doc_id % 2 = 0
              UNION ALL
              SELECT doc_id + 200000, '   ' || text, 'mirror_third'
              FROM documents WHERE doc_id % 3 = 0
            ),
            s AS (
              SELECT DISTINCT src, md5({_NORM_TEXT}) AS f
              FROM u WHERE text IS NOT NULL AND src IS NOT NULL
            ),
            tot AS (SELECT src, CAST(count(*) AS BIGINT) AS n FROM s GROUP BY src),
            sh AS (
              SELECT a.src AS source_a, b.src AS source_b,
                     CAST(count(*) AS BIGINT) AS n_shared
              FROM s a JOIN s b USING (f)
              WHERE a.src < b.src
              GROUP BY 1, 2
            )
            SELECT sh.source_a, sh.source_b,
              ta.n AS n_fps_a, tb.n AS n_fps_b, sh.n_shared,
              CAST(sh.n_shared AS DOUBLE)
                / CAST(ta.n + tb.n - sh.n_shared AS DOUBLE) AS jaccard
            FROM sh
            JOIN tot ta ON ta.src = sh.source_a
            JOIN tot tb ON tb.src = sh.source_b
        """,
        # full structural replay: corpus construction -> HUGEINT minhash
        # signature CTEs (shared with dedup_minhash_ids) -> band-slice
        # keys -> distinct (source, band key) pairs -> matrix tail.
        # Spark keys bands on xxhash64(slice); the oracle groups on the
        # slice itself — identical counts up to the same ~2^-64
        # injectivity assumption the dedup oracle documents.
        "source_overlap_near_docs": f"""
            WITH corpus AS (
              SELECT doc_id, text, 'full' AS src FROM documents
              WHERE text IS NOT NULL
              UNION ALL
              SELECT doc_id + 100000, text || ' near duplicate tail',
                     'near_even'
              FROM documents WHERE doc_id % 2 = 0 AND text IS NOT NULL
              UNION ALL
              SELECT doc_id + 200000, 'prefixed variant ' || text,
                     'near_third'
              FROM documents WHERE doc_id % 3 = 0 AND text IS NOT NULL
            ),
            {_minhash_pair_ctes(64, 13, 42, 16, source="corpus")},
            pairs AS (
              SELECT DISTINCT c.src, b.band, b.bkey
              FROM band b JOIN corpus c USING (doc_id)
            ),
            tot AS (
              SELECT src, CAST(count(*) AS BIGINT) AS n
              FROM pairs GROUP BY src
            ),
            shrd AS (
              SELECT a.src AS source_a, b.src AS source_b,
                     CAST(count(*) AS BIGINT) AS n_shared
              FROM pairs a
              JOIN pairs b ON a.band = b.band AND a.bkey = b.bkey
               AND a.src < b.src
              GROUP BY 1, 2
            )
            SELECT shrd.source_a, shrd.source_b,
              ta.n AS n_fps_a, tb.n AS n_fps_b, shrd.n_shared,
              CAST(shrd.n_shared AS DOUBLE)
                / CAST(ta.n + tb.n - shrd.n_shared AS DOUBLE) AS jaccard
            FROM shrd
            JOIN tot ta ON ta.src = shrd.source_a
            JOIN tot tb ON tb.src = shrd.source_b
        """,
        "length_drift_psi_docs": """
            WITH binned AS (
              SELECT lang, doc_id % 2 = 0 AS is_old,
                CASE WHEN n_chars IS NULL THEN 6 ELSE
                  (n_chars >= 100)::INT + (n_chars >= 200)::INT
                  + (n_chars >= 300)::INT + (n_chars >= 400)::INT
                  + (n_chars >= 500)::INT END AS bin
              FROM documents
            ),
            co AS (
              SELECT lang, bin, CAST(count(*) AS BIGINT) AS n_old
              FROM binned WHERE is_old GROUP BY 1, 2
            ),
            cn AS (
              SELECT lang, bin, CAST(count(*) AS BIGINT) AS n_new
              FROM binned WHERE NOT is_old GROUP BY 1, 2
            ),
            j AS (
              SELECT coalesce(co.lang, cn.lang) AS lang,
                     coalesce(co.bin, cn.bin) AS bin,
                     CAST(coalesce(n_old, 0) AS BIGINT) AS n_old,
                     CAST(coalesce(n_new, 0) AS BIGINT) AS n_new
              FROM co FULL OUTER JOIN cn
                ON co.lang IS NOT DISTINCT FROM cn.lang
                AND co.bin = cn.bin
            ),
            t AS (
              SELECT lang, bin, n_old, n_new,
                sum(n_old) OVER (PARTITION BY lang) AS t_old,
                sum(n_new) OVER (PARTITION BY lang) AS t_new
              FROM j
            )
            SELECT lang, CAST(bin AS BIGINT) AS bin, n_old, n_new,
              CAST(n_old + 1 AS DOUBLE) / CAST(t_old + 7 AS DOUBLE) AS p_old,
              CAST(n_new + 1 AS DOUBLE) / CAST(t_new + 7 AS DOUBLE) AS p_new,
              round((CAST(n_new + 1 AS DOUBLE) / CAST(t_new + 7 AS DOUBLE)
                     - CAST(n_old + 1 AS DOUBLE) / CAST(t_old + 7 AS DOUBLE))
                    * ln((CAST(n_new + 1 AS DOUBLE) / CAST(t_new + 7 AS DOUBLE))
                         / (CAST(n_old + 1 AS DOUBLE)
                            / CAST(t_old + 7 AS DOUBLE))), 6) AS psi_term
            FROM t
        """,
        # per-half percent_rank blend (the blended_quality_docs float
        # chain, PARTITION BY half+lang), float-edge binning, then the
        # length_drift_psi smoothing/ln tail with n_bins = 6
        # exact percent_rank side replayed; the tolerance boolean is
        # asserted TRUE (approx_stats pattern: sketch drift flips the
        # bit Spark-side and fails the value hash)
        "blend_frozen_audit_docs": """
            SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
              TRUE AS max_dev_ok
            FROM documents GROUP BY lang
        """,
        "blend_drift_psi_docs": f"""
            WITH s AS (
              SELECT doc_id, lang, doc_id % 2 = 0 AS is_old,
                n_chars AS s1,
                len({toks}) AS s2,
                len(regexp_extract_all(text,
                  '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]')) AS s3
              FROM documents
            ),
            r AS (
              SELECT doc_id, lang, is_old,
                percent_rank() OVER (PARTITION BY is_old, lang
                                     ORDER BY s1, doc_id) AS p1,
                percent_rank() OVER (PARTITION BY is_old, lang
                                     ORDER BY s2, doc_id) AS p2,
                percent_rank() OVER (PARTITION BY is_old, lang
                                     ORDER BY s3, doc_id) AS p3
              FROM s
            ),
            binned AS (
              SELECT lang, is_old,
                (bs >= CAST(0.2 AS DOUBLE))::INT
                + (bs >= CAST(0.4 AS DOUBLE))::INT
                + (bs >= CAST(0.6 AS DOUBLE))::INT
                + (bs >= CAST(0.8 AS DOUBLE))::INT AS bin
              FROM (
                SELECT lang, is_old,
                  0.5 * p1 + 0.3 * p2 + 0.2 * p3 AS bs
                FROM r
              )
            ),
            co AS (
              SELECT lang, bin, CAST(count(*) AS BIGINT) AS n_old
              FROM binned WHERE is_old GROUP BY 1, 2
            ),
            cn AS (
              SELECT lang, bin, CAST(count(*) AS BIGINT) AS n_new
              FROM binned WHERE NOT is_old GROUP BY 1, 2
            ),
            j AS (
              SELECT coalesce(co.lang, cn.lang) AS lang,
                     coalesce(co.bin, cn.bin) AS bin,
                     CAST(coalesce(n_old, 0) AS BIGINT) AS n_old,
                     CAST(coalesce(n_new, 0) AS BIGINT) AS n_new
              FROM co FULL OUTER JOIN cn
                ON co.lang IS NOT DISTINCT FROM cn.lang
                AND co.bin = cn.bin
            ),
            t AS (
              SELECT lang, bin, n_old, n_new,
                sum(n_old) OVER (PARTITION BY lang) AS t_old,
                sum(n_new) OVER (PARTITION BY lang) AS t_new
              FROM j
            )
            SELECT lang, CAST(bin AS BIGINT) AS bin, n_old, n_new,
              CAST(n_old + 1 AS DOUBLE) / CAST(t_old + 6 AS DOUBLE) AS p_old,
              CAST(n_new + 1 AS DOUBLE) / CAST(t_new + 6 AS DOUBLE) AS p_new,
              round((CAST(n_new + 1 AS DOUBLE) / CAST(t_new + 6 AS DOUBLE)
                     - CAST(n_old + 1 AS DOUBLE) / CAST(t_old + 6 AS DOUBLE))
                    * ln((CAST(n_new + 1 AS DOUBLE)
                          / CAST(t_new + 6 AS DOUBLE))
                         / (CAST(n_old + 1 AS DOUBLE)
                            / CAST(t_old + 6 AS DOUBLE))), 6) AS psi_term
            FROM t
        """,
        # frozen ranks replayed over the LITERAL quantile model (count
        # of edges <= score over the pinned edge lists), then the same
        # float-edge binning + add-1-smoothed PSI as blend_drift_psi;
        # the even half's counts ARE the frozen baseline (exact longs)
        "blend_drift_frozen_docs": """
            WITH s AS (
              SELECT doc_id, lang, doc_id % 2 = 0 AS is_old,
                CAST(n_chars AS DOUBLE) AS s1,
                CAST(len(regexp_split_to_array(trim(text), '\\s+'))
                     AS DOUBLE) AS s2
              FROM documents
            ),
            r AS (
              SELECT lang, is_old,
                0.6 * (CAST((s1 >= 150.0)::INT + (s1 >= 250.0)::INT
                          + (s1 >= 350.0)::INT + (s1 >= 450.0)::INT
                        AS DOUBLE) / CAST(5.0 AS DOUBLE))
                + 0.4 * (CAST((s2 >= 25.0)::INT + (s2 >= 45.0)::INT
                            + (s2 >= 65.0)::INT + (s2 >= 85.0)::INT
                          AS DOUBLE) / CAST(5.0 AS DOUBLE)) AS bs
              FROM s
            ),
            binned AS (
              SELECT lang, is_old,
                (bs >= CAST(0.2 AS DOUBLE))::INT
                + (bs >= CAST(0.4 AS DOUBLE))::INT
                + (bs >= CAST(0.6 AS DOUBLE))::INT
                + (bs >= CAST(0.8 AS DOUBLE))::INT AS bin
              FROM r
            ),
            co AS (
              SELECT lang, bin, CAST(count(*) AS BIGINT) AS n_old
              FROM binned WHERE is_old GROUP BY 1, 2
            ),
            cn AS (
              SELECT lang, bin, CAST(count(*) AS BIGINT) AS n_new
              FROM binned WHERE NOT is_old GROUP BY 1, 2
            ),
            j AS (
              SELECT coalesce(co.lang, cn.lang) AS lang,
                     coalesce(co.bin, cn.bin) AS bin,
                     CAST(coalesce(n_old, 0) AS BIGINT) AS n_old,
                     CAST(coalesce(n_new, 0) AS BIGINT) AS n_new
              FROM co FULL OUTER JOIN cn
                ON co.lang IS NOT DISTINCT FROM cn.lang
                AND co.bin = cn.bin
            ),
            t AS (
              SELECT lang, bin, n_old, n_new,
                sum(n_old) OVER (PARTITION BY lang) AS t_old,
                sum(n_new) OVER (PARTITION BY lang) AS t_new
              FROM j
            )
            SELECT lang, CAST(bin AS BIGINT) AS bin, n_old, n_new,
              CAST(n_old + 1 AS DOUBLE) / CAST(t_old + 6 AS DOUBLE) AS p_old,
              CAST(n_new + 1 AS DOUBLE) / CAST(t_new + 6 AS DOUBLE) AS p_new,
              round((CAST(n_new + 1 AS DOUBLE) / CAST(t_new + 6 AS DOUBLE)
                     - CAST(n_old + 1 AS DOUBLE) / CAST(t_old + 6 AS DOUBLE))
                    * ln((CAST(n_new + 1 AS DOUBLE)
                          / CAST(t_new + 6 AS DOUBLE))
                         / (CAST(n_old + 1 AS DOUBLE)
                            / CAST(t_old + 6 AS DOUBLE))), 6) AS psi_term
            FROM t
        """,
        "corpus_card_binned_docs": """
            WITH s AS (
              SELECT coalesce(CAST(lang AS VARCHAR), '__null__') AS lang,
                     CAST(n_chars AS BIGINT) AS sz
              FROM documents
            ),
            b AS (
              SELECT lang,
                (sz >= 100)::INT + (sz >= 200)::INT + (sz >= 300)::INT
                + (sz >= 400)::INT + (sz >= 500)::INT AS bin, sz
              FROM s
            ),
            h AS (
              SELECT lang, bin, CAST(count(*) AS BIGINT) AS n,
                     CAST(sum(sz) AS BIGINT) AS sum_size
              FROM b GROUP BY 1, 2
            ),
            c AS (
              SELECT lang, bin, n, sum_size,
                sum(n) OVER (PARTITION BY lang ORDER BY bin) AS cum,
                sum(n) OVER (PARTITION BY lang) AS nd
              FROM h
            ),
            q AS (
              SELECT lang, CAST(max(nd) AS BIGINT) AS n_docs,
                CAST(sum(sum_size) AS BIGINT) AS total_size,
                min(CASE WHEN cum >= (nd * 50 + 99) // 100
                         THEN bin END) AS qb50,
                min(CASE WHEN cum >= (nd * 90 + 99) // 100
                         THEN bin END) AS qb90
              FROM c GROUP BY lang
            )
            SELECT lang, n_docs, total_size,
              CAST(([100, 200, 300, 400, 500])[qb50 + 1] AS BIGINT)
                AS q_50_le,
              CAST(([100, 200, 300, 400, 500])[qb90 + 1] AS BIGINT)
                AS q_90_le
            FROM q
        """,
        "corpus_card_autofit_docs": """
            WITH samp AS (
              SELECT CAST(n_chars AS BIGINT) AS sz
              FROM documents
              WHERE doc_id IS NOT NULL
              ORDER BY ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))
                         ::BIGINT,
                       doc_id
              LIMIT 2048
            ),
            bounds AS (
              SELECT GREATEST(1, MIN(sz)) AS lo, MAX(sz) AS hi FROM samp
            ),
            ratio AS (
              SELECT lo, hi,
                (SELECT MIN(r) FROM range(2, 64) t(r)
                 WHERE lo * r*r*r*r*r >= hi) AS r
              FROM bounds
            ),
            s AS (
              SELECT coalesce(CAST(lang AS VARCHAR), '__null__') AS lang,
                     CAST(n_chars AS BIGINT) AS sz
              FROM documents
            ),
            b AS (
              SELECT lang,
                (sz >= lo)::INT + (sz >= lo*r)::INT + (sz >= lo*r*r)::INT
                + (sz >= lo*r*r*r)::INT + (sz >= lo*r*r*r*r)::INT
                + (sz >= lo*r*r*r*r*r)::INT AS bin, sz
              FROM s CROSS JOIN ratio
            ),
            h AS (
              SELECT lang, bin, CAST(count(*) AS BIGINT) AS n,
                     CAST(sum(sz) AS BIGINT) AS sum_size
              FROM b GROUP BY 1, 2
            ),
            c AS (
              SELECT lang, bin, n, sum_size,
                sum(n) OVER (PARTITION BY lang ORDER BY bin) AS cum,
                sum(n) OVER (PARTITION BY lang) AS nd
              FROM h
            ),
            q AS (
              SELECT lang, CAST(max(nd) AS BIGINT) AS n_docs,
                CAST(sum(sum_size) AS BIGINT) AS total_size,
                min(CASE WHEN cum >= (nd * 50 + 99) // 100
                         THEN bin END) AS qb50,
                min(CASE WHEN cum >= (nd * 90 + 99) // 100
                         THEN bin END) AS qb90
              FROM c GROUP BY lang
            )
            SELECT lang, n_docs, total_size,
              CAST(([lo, lo*r, lo*r*r, lo*r*r*r, lo*r*r*r*r,
                     lo*r*r*r*r*r])[qb50 + 1] AS BIGINT) AS q_50_le,
              CAST(([lo, lo*r, lo*r*r, lo*r*r*r, lo*r*r*r*r,
                     lo*r*r*r*r*r])[qb90 + 1] AS BIGINT) AS q_90_le
            FROM q CROSS JOIN ratio
        """,
        "corpus_diff_docs": f"""
            WITH oldc AS (SELECT doc_id, text FROM documents),
            newc AS (
              SELECT doc_id,
                CASE WHEN doc_id % 13 = 0 THEN text || ' EDIT'
                     ELSE text END AS text
              FROM documents WHERE doc_id % 17 <> 0
              UNION ALL
              SELECT doc_id + 1000000 AS doc_id, text
              FROM documents WHERE doc_id % 29 = 0
            ),
            ofp AS (SELECT doc_id, md5({_NORM_TEXT}) AS fp FROM oldc),
            nfp AS (SELECT doc_id, md5({_NORM_TEXT}) AS fp FROM newc),
            j AS (
              SELECT coalesce(o.doc_id, n.doc_id) AS doc_id,
                CASE WHEN o.doc_id IS NULL THEN 'added'
                     WHEN n.doc_id IS NULL THEN 'removed'
                     WHEN o.fp IS DISTINCT FROM n.fp THEN 'changed'
                END AS status
              FROM ofp o FULL OUTER JOIN nfp n ON o.doc_id = n.doc_id
            )
            SELECT doc_id, status FROM j WHERE status IS NOT NULL
        """,
        "changed_docs_gate": f"""
            WITH newc AS (
              SELECT doc_id,
                CASE WHEN doc_id % 13 = 0 THEN text || ' EDIT'
                     ELSE text END AS text,
                lang, n_chars
              FROM documents WHERE doc_id % 17 <> 0
              UNION ALL
              SELECT doc_id + 1000000 AS doc_id, text, lang, n_chars
              FROM documents WHERE doc_id % 29 = 0
            ),
            ofp AS (SELECT doc_id, md5({_NORM_TEXT}) AS fp FROM documents),
            nfp AS (SELECT doc_id, lang, n_chars, md5({_NORM_TEXT}) AS fp
                    FROM newc),
            j AS (
              SELECT n.doc_id, n.lang, n.n_chars,
                CASE WHEN o.doc_id IS NULL THEN 'added'
                     WHEN n.fp IS DISTINCT FROM o.fp THEN 'changed'
                END AS status
              FROM nfp n LEFT JOIN ofp o ON n.doc_id = o.doc_id
            )
            SELECT doc_id, lang, n_chars, status
            FROM j WHERE status IS NOT NULL
        """,
        "corpus_card_docs": f"""
            WITH s AS (
              SELECT coalesce(CAST(lang AS VARCHAR), '__null__') AS lang,
                CAST(n_chars AS BIGINT) AS sz
              FROM documents
            ),
            r AS (
              SELECT lang, sz,
                CAST(row_number() OVER (PARTITION BY lang ORDER BY sz)
                     AS BIGINT) AS rk,
                CAST(count(*) OVER (PARTITION BY lang) AS BIGINT) AS n
              FROM s
            )
            SELECT lang,
              CAST(count(*) AS BIGINT) AS n_docs,
              CAST(sum(sz) AS BIGINT) AS total_size,
              max(CASE WHEN rk = (n * 50 + 99) // 100 THEN sz END) AS q_50,
              max(CASE WHEN rk = (n * 90 + 99) // 100 THEN sz END) AS q_90
            FROM r GROUP BY lang
        """,
        "corpus_card_approx_docs": """
            SELECT coalesce(CAST(lang AS VARCHAR), '__null__') AS lang,
              CAST(count(*) AS BIGINT) AS n_docs,
              CAST(sum(CAST(n_chars AS BIGINT)) AS BIGINT) AS total_size,
              TRUE AS q50_ok, TRUE AS q90_ok
            FROM documents GROUP BY 1
        """,
        "curation_summary_docs": f"""
            WITH {_curation_cte()},
            fired AS (SELECT unnest(reasons) AS reason FROM verdicts)
            SELECT reason, CAST(count(*) AS BIGINT) AS n_docs
            FROM fired GROUP BY reason
            UNION ALL
            SELECT '__kept__' AS reason, CAST(count(*) AS BIGINT) AS n_docs
            FROM verdicts WHERE len(reasons) = 0
        """,
        "media_format_mismatch_docs": f"""
            WITH {_media_cte()},
            s AS (
              SELECT media_id,
                CASE WHEN fmt = 'jpg' THEN 'jpeg' ELSE fmt END AS declared,
                substring(hex(payload), 1, 24) AS h
              FROM m
            ),
            v AS (
              SELECT media_id, declared,
                CASE
                  WHEN h LIKE '89504E470D0A1A0A%' THEN 'png'
                  WHEN h LIKE 'FFD8FF%' THEN 'jpeg'
                  WHEN h LIKE '474946383761%' OR h LIKE '474946383961%'
                    THEN 'gif'
                  WHEN h LIKE '52494646%'
                       AND substring(h, 17, 8) = '57454250' THEN 'webp'
                  WHEN h LIKE '52494646%'
                       AND substring(h, 17, 8) = '57415645' THEN 'wav'
                  WHEN h LIKE '52494646%'
                       AND substring(h, 17, 8) = '41564920' THEN 'avi'
                  WHEN h LIKE '664C6143%' THEN 'flac'
                  WHEN h LIKE '4F676753%' THEN 'ogg'
                  WHEN h LIKE '494433%' OR h LIKE 'FFFB%'
                       OR h LIKE 'FFF3%' OR h LIKE 'FFF2%' THEN 'mp3'
                  WHEN substring(h, 9, 8) = '66747970' THEN 'mp4'
                  WHEN h LIKE '1A45DFA3%' THEN 'webm'
                END AS sniffed
              FROM s
            )
            SELECT media_id, declared, sniffed FROM v
            WHERE declared IS NOT NULL AND sniffed IS DISTINCT FROM declared
        """,
        "media_byte_stats_docs": f"""
            WITH {_media_cte()}
            SELECT media_id,
              CAST(octet_length(payload) AS BIGINT) AS n_bytes,
              CAST(len(list_distinct(list_transform(
                range(1, octet_length(payload) + 1),
                i -> substring(hex(payload), CAST(2 * i - 1 AS INT), 2)
              ))) AS BIGINT) AS n_distinct_bytes
            FROM m
        """,
        "winnow_overlap_docs": f"""
            WITH n AS (SELECT doc_id, {_NORM_TEXT} AS nt FROM documents),
            h AS (
              SELECT doc_id,
                CASE WHEN length(nt) >= 8 THEN
                  list_sort(list_distinct(list_transform(
                    range(1, length(nt) - 6),
                    i -> {_md5h("substr(nt, i, 8)")})))
                ELSE [] END AS hs
              FROM n
            ),
            s AS (SELECT doc_id, hs[1:16] AS sk FROM h),
            fp AS (SELECT doc_id, unnest(sk) AS f FROM s),
            freq AS (SELECT f, count(*) AS dfq FROM fp GROUP BY f),
            rare AS (
              SELECT fp.doc_id, fp.f
              FROM fp JOIN freq USING (f) WHERE dfq <= 20
            )
            SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                   CAST(count(*) AS BIGINT) AS n_shared
            FROM rare a JOIN rare b
              ON a.f = b.f AND a.doc_id < b.doc_id
            GROUP BY a.doc_id, b.doc_id
            HAVING count(*) >= 10
        """,
        "dup_cluster_sizes": """
            WITH s AS (
              SELECT doc_id, lang, n_chars,
                     LAG(n_chars) OVER (PARTITION BY lang
                                        ORDER BY n_chars, doc_id) AS pnc
              FROM documents
            ), f AS (
              SELECT doc_id, lang, n_chars,
                CASE WHEN pnc IS NULL OR n_chars - pnc > 2
                     THEN 1 ELSE 0 END AS brk
              FROM s
            ), r AS (
              SELECT doc_id, lang,
                sum(brk) OVER (PARTITION BY lang ORDER BY n_chars, doc_id
                               ROWS UNBOUNDED PRECEDING) AS run
              FROM f
            ), comp AS (
              SELECT doc_id,
                     min(doc_id) OVER (PARTITION BY lang, run) AS component
              FROM r
            )
            SELECT component, CAST(count(*) AS BIGINT) AS size
            FROM comp GROUP BY component
            ORDER BY size DESC, component ASC
            LIMIT 20
        """,
        "bigram_nll_docs": f"""
            WITH {_bigram_nll_cte()}
            SELECT d.doc_id,
              CAST(coalesce(per.n_bigrams, 0) AS BIGINT) AS n_bigrams,
              round((-(CAST(per.sum_lp AS DOUBLE) / 10000.0))
                    / per.n_bigrams, 6) AS nll
            FROM documents d LEFT JOIN per USING (doc_id)
        """,
        "ppl_bucketed_docs": f"""
            WITH {_bigram_nll_cte()},
            nll AS (
              SELECT d.doc_id, d.lang,
                round((-(CAST(per.sum_lp AS DOUBLE) / 10000.0))
                      / per.n_bigrams, 6) AS nll
              FROM documents d JOIN per USING (doc_id)
              WHERE per.n_bigrams > 0
            ),
            r AS (
              SELECT doc_id, lang, nll,
                CAST(row_number() OVER (PARTITION BY lang
                                        ORDER BY nll, doc_id)
                     AS BIGINT) AS rk,
                CAST(count(*) OVER (PARTITION BY lang) AS BIGINT) AS n
              FROM nll
            )
            SELECT doc_id, lang, nll,
              CASE WHEN rk <= (n * 33 + 99) // 100 THEN 'head'
                   WHEN rk <= (n * 66 + 99) // 100 THEN 'middle'
                   ELSE 'tail' END AS ppl_bucket
            FROM r
        """,
        "semantic_contamination_scores": """
            WITH bench AS (
              SELECT CAST(embedding AS DOUBLE[]) AS bv
              FROM embeddings WHERE vec_id < 4
            ), corp AS (
              SELECT vec_id, CAST(embedding AS DOUBLE[]) AS cv
              FROM embeddings
            ), pairs AS (
              SELECT c.vec_id,
                CASE WHEN list_inner_product(cv, cv) > 0
                      AND list_inner_product(bv, bv) > 0
                  THEN list_inner_product(cv, bv)
                       / (sqrt(list_inner_product(cv, cv))
                          * sqrt(list_inner_product(bv, bv)))
                END AS cos
              FROM corp c CROSS JOIN bench b
            )
            SELECT vec_id, round(max(cos), 6) AS max_cos
            FROM pairs GROUP BY vec_id
        """,
        "token_budget_pruned_ids": """
            SELECT doc_id, lang, n_chars FROM (
              SELECT doc_id, lang, n_chars,
                sum(n_chars) OVER (PARTITION BY lang
                                   ORDER BY n_chars DESC, doc_id
                                   ROWS UNBOUNDED PRECEDING) AS cum
              FROM documents
            )
            WHERE cum <= 20000
        """,
        "training_order_docs": f"""
            WITH keyed AS (
              SELECT doc_id,
                {_md5h("CAST(doc_id AS VARCHAR) || 'ord4'")} AS ok
              FROM documents
            )
            SELECT doc_id,
              CAST(ok % 8 AS INTEGER) AS shard,
              CAST(row_number() OVER (PARTITION BY ok % 8
                                      ORDER BY ok, doc_id) AS BIGINT) AS pos
            FROM keyed
        """,
        "balanced_shards_docs": f"""
            WITH keyed AS (
              SELECT doc_id, n_chars,
                {_md5h("CAST(doc_id AS VARCHAR) || 'bal5'")} AS ok
              FROM documents
            ),
            c AS (
              SELECT doc_id, ok,
                sum(n_chars) OVER (ORDER BY ok, doc_id
                                   ROWS UNBOUNDED PRECEDING)
                  - n_chars AS strt,
                sum(n_chars) OVER () AS total
              FROM keyed
            ),
            s AS (
              SELECT doc_id, ok,
                CAST(least((strt * 16) // total, 15) AS INTEGER) AS shard
              FROM c
            )
            SELECT doc_id, shard,
              CAST(row_number() OVER (PARTITION BY shard
                                      ORDER BY ok, doc_id) AS BIGINT) AS pos
            FROM s
        """,
        "contamination_report_bench": f"""
            WITH norm AS (
              SELECT doc_id,
                list_filter(regexp_split_to_array({_NORM_TEXT}, '\\s+'),
                            x -> x != '') AS tk
              FROM documents
            ),
            grams AS (
              SELECT doc_id,
                unnest(list_distinct(list_transform(
                  list_filter(range(0, greatest(len(tk) - 7, 1), 1),
                              p -> p < len(tk) - 7),
                  p -> array_to_string(list_slice(tk, p + 1, p + 8), ' '))))
                  AS g
              FROM norm
            ),
            corpus_g AS (
              SELECT DISTINCT g FROM grams WHERE doc_id % 50 <> 0
            ),
            bench_g AS (
              SELECT doc_id, g FROM grams WHERE doc_id % 50 = 0
            )
            SELECT b.doc_id,
                   CAST(count(*) AS BIGINT) AS n_grams,
                   CAST(count(c.g) AS BIGINT) AS n_hit,
                   CAST(count(c.g) AS DOUBLE) / count(*) AS overlap_frac
            FROM bench_g b LEFT JOIN corpus_g c USING (g)
            GROUP BY b.doc_id
        """,
        "quality_pruned_ids": """
            SELECT doc_id, lang, n_chars FROM (
              SELECT doc_id, lang, n_chars,
                row_number() OVER (PARTITION BY lang
                                   ORDER BY n_chars DESC, doc_id) AS rn,
                count(*) OVER (PARTITION BY lang) AS nd
              FROM documents
            )
            WHERE rn <= CEIL(nd * 0.4)
        """,
        "semantic_decontaminated_ids": """
            WITH bench AS (
              SELECT embedding FROM embeddings WHERE vec_id % 50 = 0
            ), corp AS (
              SELECT vec_id, embedding FROM embeddings WHERE vec_id % 50 <> 0
            )
            SELECT DISTINCT c.vec_id
            FROM corp c CROSS JOIN bench b
            -- norm>0 guards mirror the Spark operator's zero-vector
            -- handling (cosine undefined -> never contaminated); without
            -- them DuckDB's NaN cosine would order >= 0.4 under total
            -- ordering and flag rows Spark never flags
            WHERE list_dot_product(CAST(c.embedding AS DOUBLE[]),
                                   CAST(c.embedding AS DOUBLE[])) > 0
              AND list_dot_product(CAST(b.embedding AS DOUBLE[]),
                                   CAST(b.embedding AS DOUBLE[])) > 0
              AND list_cosine_similarity(CAST(c.embedding AS DOUBLE[]),
                                         CAST(b.embedding AS DOUBLE[])) >= 0.4
        """,
        "hard_negative_pairs": """
            WITH lab AS (
              SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
                     vec_id % 4 AS label
              FROM embeddings
            ),
            a AS (SELECT vec_id AS anchor_id, v AS av, label AS al
                  FROM lab WHERE vec_id < 8),
            s AS (
              SELECT a.anchor_id, c.vec_id AS neighbor_id,
                round(list_cosine_similarity(a.av, c.v), 6) AS cos_sim
              FROM lab c CROSS JOIN a
              WHERE c.vec_id <> a.anchor_id AND c.label <> a.al
            )
            SELECT anchor_id, neighbor_id, rank, cos_sim FROM (
              SELECT anchor_id, neighbor_id, cos_sim,
                row_number() OVER (PARTITION BY anchor_id
                                   ORDER BY cos_sim DESC, neighbor_id) AS rank
              FROM s)
            WHERE rank <= 5
        """,
        "blocked_url_ids": """
            WITH inj AS (
              SELECT doc_id,
                text || ' link http://h' || CAST(doc_id % 5 AS VARCHAR)
                     || '.site' || CAST(doc_id % 3 AS VARCHAR) || '.com/x'
                  AS text
              FROM documents
            ),
            doms AS (
              -- same host normalization as extract_domains: lowercase +
              -- trailing-dot strip (FQDN bypass)
              SELECT doc_id,
                regexp_replace(lower(unnest(regexp_extract_all(
                  text, '(?i)https?://(?:[^/@\\s]*@)?([A-Za-z0-9.-]+)', 1))),
                  '\\.+$', '') AS dom
              FROM inj
            ),
            sfx AS (
              SELECT doc_id,
                unnest(list_transform(
                  range(1, len(string_split(dom, '.')) + 1),
                  i -> array_to_string(
                    list_slice(string_split(dom, '.'), i,
                               len(string_split(dom, '.'))), '.')
                )) AS s
              FROM doms
            )
            SELECT DISTINCT doc_id FROM sfx
            WHERE s IN ('site0.com', 'h2.site1.com')
        """,
        "ann_pq": _pq_oracle_sql(),
        # full probe ≡ pq_topk — same deterministic ADC pipeline
        "ann_ivfpq": _pq_oracle_sql(),
        "ann_recall_audit": _recall_audit_oracle_sql(),
        "pq_residual_contamination_bench": f"""
            {_residual_scored_cte(q_where="vec_id < 4", exclude_self=False)}
            SELECT query_id,
              CAST(count(*) AS BIGINT) AS n_rows,
              CAST(sum(CASE WHEN adc >= 0.5 THEN 1 ELSE 0 END)
                   AS BIGINT) AS n_hits,
              CAST(sum(CASE WHEN adc >= 0.5 THEN 1 ELSE 0 END) AS DOUBLE)
                / count(*) AS frac_hits,
              max(adc) AS max_adc
            FROM scored GROUP BY query_id
        """,
        "pq_residual_screen_survivors": f"""
            {_residual_scored_cte(q_where="vec_id < 4", exclude_self=False)}
            SELECT vec_id FROM (
              SELECT neighbor_id AS vec_id, max(adc) AS mx
              FROM scored GROUP BY neighbor_id
            ) WHERE mx < 0.5
        """,
        "pq_contamination_bench": f"""
            {_pq_scored_cte(q_where="vec_id < 4", exclude_self=False)}
            SELECT query_id,
              CAST(count(*) AS BIGINT) AS n_rows,
              CAST(sum(CASE WHEN adc >= 1.7 THEN 1 ELSE 0 END)
                   AS BIGINT) AS n_hits,
              CAST(sum(CASE WHEN adc >= 1.7 THEN 1 ELSE 0 END) AS DOUBLE)
                / count(*) AS frac_hits,
              max(adc) AS max_adc
            FROM scored GROUP BY query_id
        """,
        "pq_screen_survivors": f"""
            {_pq_scored_cte(q_where="vec_id < 4", exclude_self=False)},
            mx AS (
              SELECT neighbor_id AS vec_id, max(adc) AS max_adc
              FROM scored GROUP BY neighbor_id
            )
            SELECT vec_id FROM mx WHERE max_adc < 1.7
        """,
        "leakage_safe_split_stats": f"""
            WITH s AS (
              SELECT doc_id, lang, n_chars,
                     LAG(n_chars) OVER (PARTITION BY lang
                                        ORDER BY n_chars, doc_id) AS pnc
              FROM documents
            ), f AS (
              SELECT doc_id, lang, n_chars,
                CASE WHEN pnc IS NULL OR n_chars - pnc > 2
                     THEN 1 ELSE 0 END AS brk
              FROM s
            ), r AS (
              SELECT doc_id, lang,
                sum(brk) OVER (PARTITION BY lang ORDER BY n_chars, doc_id
                               ROWS UNBOUNDED PRECEDING) AS run
              FROM f
            ), comp AS (
              SELECT doc_id,
                     min(doc_id) OVER (PARTITION BY lang, run) AS component
              FROM r
            ), lab AS (
              SELECT doc_id, component,
                CASE
                  WHEN {_md5h("CAST(component AS VARCHAR) || 'split4'")}
                       < {_SPLIT_BOUNDS[0]} THEN 'train'
                  WHEN {_md5h("CAST(component AS VARCHAR) || 'split4'")}
                       < {_SPLIT_BOUNDS[1]} THEN 'val'
                  ELSE 'test' END AS split
              FROM comp
            )
            SELECT split, CAST(count(*) AS BIGINT) AS n_docs,
                   CAST(count(DISTINCT component) AS BIGINT) AS n_groups
            FROM lab GROUP BY split
        """,
        "ann_ivfpq_residual": _ivfpq_residual_oracle_sql(),
        "dsir_doc_weights": f"""
            {_DSIR_CTE}
            SELECT doc_id, n_feats, round(weight, 6) AS weight FROM w
        """,
        "dsir_sample_ids": f"""
            {_DSIR_CTE},
            keyed AS (
              SELECT doc_id,
                round(weight + (-ln(-ln(
                  ({_md5h("'dsir:' || CAST(doc_id AS VARCHAR)")} + 0.5)
                    / 1152921504606846976.0))), 6) AS gkey
              FROM w
            )
            SELECT doc_id, rk FROM (
              SELECT doc_id,
                row_number() OVER (ORDER BY gkey DESC, doc_id) AS rk
              FROM keyed)
            WHERE rk <= 100
        """,
        "unigram_quality": f"""
            WITH nt AS (SELECT doc_id, {_NORM_TEXT} AS t FROM documents),
            toks AS (
              SELECT doc_id, UNNEST(
                list_filter({_TOKENS.format(col="t")}, x -> x <> '')
              ) AS tok
              FROM nt
            ),
            freq AS (SELECT tok, count(*) AS n FROM toks GROUP BY tok),
            sc AS (SELECT CAST(sum(n) AS BIGINT) AS total,
                          count(*) AS v FROM freq),
            scored AS (
              SELECT t.doc_id, count(*) AS n_toks,
                -avg(ln((f.n + 0.5) / (sc.total + 0.5 * (sc.v + 1))))
                  AS nlp
              FROM toks t JOIN freq f USING (tok) CROSS JOIN sc
              GROUP BY t.doc_id
            )
            SELECT d.doc_id,
              CAST(COALESCE(s.n_toks, 0) AS BIGINT) AS n_toks,
              round(s.nlp, 6) AS neg_logprob
            FROM documents d LEFT JOIN scored s USING (doc_id)
        """,
        "duplicate_span_stats": f"""
            WITH nt AS (
              SELECT doc_id,
                list_filter(regexp_split_to_array({_NORM_TEXT}, '\\s+'),
                            x -> x <> '') AS tk
              FROM documents
            ),
            pos AS (
              SELECT doc_id, tk,
                unnest(list_filter(range(0, greatest(len(tk) - 7, 1), 1),
                                   p -> p < len(tk) - 7)) AS p
              FROM nt
            ),
            hits AS (
              SELECT doc_id, p,
                {_md5h("array_to_string(list_slice(tk, p + 1, p + 8), ' ')")}
                  AS h
              FROM pos
            ),
            dup AS (SELECT h FROM hits GROUP BY h HAVING count(*) >= 2),
            fl AS (SELECT doc_id, p FROM hits JOIN dup USING (h)),
            isl AS (
              SELECT doc_id, p,
                SUM(CASE WHEN prev IS NULL OR p > prev + 7 THEN 1 ELSE 0 END)
                  OVER (PARTITION BY doc_id ORDER BY p) AS island
              FROM (SELECT doc_id, p,
                      lag(p) OVER (PARTITION BY doc_id ORDER BY p) AS prev
                    FROM fl)
            ),
            sp AS (
              SELECT doc_id, island, min(p) AS s, max(p) + 7 AS e
              FROM isl GROUP BY doc_id, island
            )
            SELECT doc_id, CAST(count(*) AS BIGINT) AS n_spans,
                   CAST(sum(e - s + 1) AS BIGINT) AS dup_tokens
            FROM sp GROUP BY doc_id
        """,
        "span_removal_clean": f"""
            WITH nt AS (
              SELECT doc_id,
                list_filter(regexp_split_to_array({_NORM_TEXT}, '\\s+'),
                            x -> x <> '') AS tk
              FROM documents
            ),
            pos AS (
              SELECT doc_id, tk,
                unnest(list_filter(range(0, greatest(len(tk) - 7, 1), 1),
                                   p -> p < len(tk) - 7)) AS p
              FROM nt
            ),
            hits AS (
              SELECT doc_id, p,
                {_md5h("array_to_string(list_slice(tk, p + 1, p + 8), ' ')")}
                  AS h
              FROM pos
            ),
            dup AS (SELECT h FROM hits GROUP BY h HAVING count(*) >= 2),
            fl AS (SELECT doc_id, p FROM hits JOIN dup USING (h)),
            isl AS (
              SELECT doc_id, p,
                SUM(CASE WHEN prev IS NULL OR p > prev + 7 THEN 1 ELSE 0 END)
                  OVER (PARTITION BY doc_id ORDER BY p) AS island
              FROM (SELECT doc_id, p,
                      lag(p) OVER (PARTITION BY doc_id ORDER BY p) AS prev
                    FROM fl)
            ),
            sp AS (
              SELECT doc_id, island, min(p) AS s, max(p) + 7 AS e
              FROM isl GROUP BY doc_id, island
            ),
            tokpos AS (
              SELECT doc_id, tk, unnest(range(0, len(tk))) AS i FROM nt
            ),
            bad AS (
              SELECT DISTINCT t.doc_id, t.i
              FROM tokpos t JOIN sp s
                ON t.doc_id = s.doc_id AND t.i BETWEEN s.s AND s.e
            ),
            kept AS (
              SELECT t.doc_id,
                array_to_string(list(tk[i + 1] ORDER BY i), ' ') AS text_clean
              FROM tokpos t ANTI JOIN bad b
                ON t.doc_id = b.doc_id AND t.i = b.i
              GROUP BY t.doc_id
            )
            SELECT d.doc_id, coalesce(k.text_clean, '') AS text_clean
            FROM documents d LEFT JOIN kept k USING (doc_id)
        """,
        "span_decontaminated_docs": f"""
            WITH nt AS (
              SELECT doc_id,
                list_filter(regexp_split_to_array({_NORM_TEXT}, '\\s+'),
                            x -> x <> '') AS tk
              FROM documents
            ),
            bh AS (
              SELECT DISTINCT
                {_md5h("array_to_string(list_slice(tk, p + 1, p + 13), ' ')")}
                  AS h
              FROM (
                SELECT tk,
                  unnest(list_filter(range(0, greatest(len(tk) - 12, 1), 1),
                                     p -> p < len(tk) - 12)) AS p
                FROM nt WHERE doc_id % 97 = 0
              )
            ),
            hits AS (
              SELECT doc_id, p,
                {_md5h("array_to_string(list_slice(tk, p + 1, p + 13), ' ')")}
                  AS h
              FROM (
                SELECT doc_id, tk,
                  unnest(list_filter(range(0, greatest(len(tk) - 12, 1), 1),
                                     p -> p < len(tk) - 12)) AS p
                FROM nt
              )
            ),
            fl AS (SELECT doc_id, p FROM hits JOIN bh USING (h)),
            isl AS (
              SELECT doc_id, p,
                SUM(CASE WHEN prev IS NULL OR p > prev + 12 THEN 1 ELSE 0 END)
                  OVER (PARTITION BY doc_id ORDER BY p) AS island
              FROM (SELECT doc_id, p,
                      lag(p) OVER (PARTITION BY doc_id ORDER BY p) AS prev
                    FROM fl)
            ),
            sp AS (
              SELECT doc_id, island, min(p) AS s, max(p) + 12 AS e
              FROM isl GROUP BY doc_id, island
            ),
            tokpos AS (
              SELECT doc_id, tk, unnest(range(0, len(tk))) AS i FROM nt
            ),
            bad AS (
              SELECT DISTINCT t.doc_id, t.i
              FROM tokpos t JOIN sp s
                ON t.doc_id = s.doc_id AND t.i BETWEEN s.s AND s.e
            ),
            kept AS (
              SELECT t.doc_id,
                array_to_string(list(tk[i + 1] ORDER BY i), ' ') AS text_clean,
                CAST(count(*) AS BIGINT) AS n_kept
              FROM tokpos t ANTI JOIN bad b
                ON t.doc_id = b.doc_id AND t.i = b.i
              GROUP BY t.doc_id
            )
            SELECT n.doc_id, coalesce(k.text_clean, '') AS text_clean,
              CAST(len(n.tk) - coalesce(k.n_kept, 0) AS BIGINT) AS n_removed
            FROM nt n LEFT JOIN kept k USING (doc_id)
        """,
        "line_dedup_clean": f"""
            WITH nt AS (
              SELECT doc_id,
                list_filter(regexp_split_to_array({_NORM_TEXT}, '\\s+'),
                            x -> x <> '') AS tk
              FROM documents
            ),
            lined AS (
              SELECT doc_id,
                list_transform(
                  range(0, CAST(ceil(len(tk) / 8.0) AS BIGINT)),
                  i -> array_to_string(
                    list_slice(tk, i * 8 + 1, i * 8 + 8), ' ')) AS lines
              FROM nt
            ),
            lh AS (
              SELECT doc_id, pos - 1 AS pos, line FROM (
                SELECT doc_id, unnest(lines) AS line,
                       generate_subscripts(lines, 1) AS pos
                FROM lined
              ) WHERE line <> ''
            ),
            boiler AS (
              SELECT h FROM (
                SELECT {_md5h('line')} AS h,
                       count(DISTINCT doc_id) AS nd
                FROM lh GROUP BY 1
              ) WHERE nd >= 2
            ),
            kept AS (
              SELECT doc_id,
                array_to_string(list(line ORDER BY pos), chr(10)) AS text_clean
              FROM lh WHERE {_md5h('line')} NOT IN (SELECT h FROM boiler)
              GROUP BY doc_id
            )
            SELECT d.doc_id, coalesce(k.text_clean, '') AS text_clean
            FROM documents d LEFT JOIN kept k USING (doc_id)
        """,
        "quality_classifier_scores": f"""
            WITH nt AS (
              SELECT doc_id,
                list_filter(regexp_split_to_array({_NORM_TEXT}, '\\s+'),
                            x -> x <> '') AS tk
              FROM documents
            ),
            s AS (
              SELECT doc_id,
                CAST(coalesce(list_sum(list_transform(tk, t ->
                  ({_md5h(f"CAST(({_md5h('t')}) % 4096 AS VARCHAR) || '#7'")})
                    % 2001 - 1000
                )), 0) AS BIGINT) AS clf_int,
                len(tk) AS n
              FROM nt
            )
            SELECT doc_id, clf_int,
              clf_int / (1000.0 * greatest(n, 1)) AS clf_score,
              0.5 + 0.5 * (4.0 * (clf_int / (1000.0 * greatest(n, 1))))
                / (1.0 + abs(4.0 * (clf_int / (1000.0 * greatest(n, 1)))))
                AS clf_prob
            FROM s
        """,
        "upsample_epoch_counts": f"""
            WITH c AS (
              SELECT doc_id, lang,
                (CASE lang
                   WHEN 'en' THEN {int(_UPSAMPLE_EPOCHS['en'])}
                   WHEN 'de' THEN {int(_UPSAMPLE_EPOCHS['de'])}
                   WHEN 'fr' THEN {int(_UPSAMPLE_EPOCHS['fr'])}
                   WHEN 'es' THEN {int(_UPSAMPLE_EPOCHS['es'])}
                   WHEN 'zh' THEN {int(_UPSAMPLE_EPOCHS['zh'])}
                   ELSE 1 END)
                + (CASE WHEN
                     {_md5h("CAST(doc_id AS VARCHAR) || 'up1'")} <
                     (CASE lang
                        WHEN 'en' THEN {_UPSAMPLE_GATES['en']}
                        WHEN 'de' THEN {_UPSAMPLE_GATES['de']}
                        WHEN 'fr' THEN {_UPSAMPLE_GATES['fr']}
                        WHEN 'es' THEN {_UPSAMPLE_GATES['es']}
                        WHEN 'zh' THEN {_UPSAMPLE_GATES['zh']}
                        ELSE 0 END)
                   THEN 1 ELSE 0 END) AS copies
              FROM documents
            ),
            r AS (
              SELECT doc_id, lang, unnest(range(1, copies + 1)) AS epoch
              FROM c WHERE copies >= 1
            )
            SELECT lang, CAST(count(*) AS BIGINT) AS n_rows,
                   CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
                   CAST(max(epoch) AS BIGINT) AS max_epoch
            FROM r GROUP BY lang
        """,
        # Bloom mask: DuckDB raises on BIGINT 1<<63, so bit 63 is the
        # literal min-long (Spark's shiftleft wraps to the same value)
        "bloom_decontaminated_ids": f"""
            WITH norm AS (
              SELECT doc_id,
                list_filter(regexp_split_to_array({_NORM_TEXT}, '\\s+'),
                            x -> x != '') AS tk
              FROM documents
            ),
            grams AS (
              SELECT doc_id,
                unnest(list_distinct(list_transform(
                  list_filter(range(0, greatest(len(tk) - 12, 1), 1),
                              p -> p < len(tk) - 12),
                  p -> array_to_string(list_slice(tk, p + 1, p + 13), ' '))))
                  AS g
              FROM norm
            ),
            bh AS (
              SELECT doc_id, g,
                {_md5h("g")} & 1073741823 AS h1,
                (({_md5h("g")} >> 30) & 1073741823) | 1 AS h2
              FROM grams
            ),
            bpos AS (
              SELECT DISTINCT unnest([
                (h1 + 0 * h2) % 65536, (h1 + 1 * h2) % 65536,
                (h1 + 2 * h2) % 65536, (h1 + 3 * h2) % 65536
              ]) AS p
              FROM bh WHERE doc_id % 50 = 0
            ),
            words AS (
              SELECT p // 64 AS w,
                bit_or(CASE WHEN p % 64 = 63
                            THEN (-9223372036854775807 - 1)
                            ELSE 1::BIGINT << CAST(p % 64 AS INTEGER)
                       END) AS bits
              FROM bpos GROUP BY 1
            ),
            probe AS (
              SELECT doc_id, g, unnest([
                (h1 + 0 * h2) % 65536, (h1 + 1 * h2) % 65536,
                (h1 + 2 * h2) % 65536, (h1 + 3 * h2) % 65536
              ]) AS p
              FROM bh
            ),
            chk AS (
              SELECT probe.doc_id, probe.g,
                bool_and((coalesce(words.bits, 0) &
                  (CASE WHEN probe.p % 64 = 63
                        THEN (-9223372036854775807 - 1)
                        ELSE 1::BIGINT << CAST(probe.p % 64 AS INTEGER)
                   END)) <> 0) AS allset
              FROM probe LEFT JOIN words ON words.w = probe.p // 64
              GROUP BY probe.doc_id, probe.g
            )
            SELECT DISTINCT doc_id FROM chk WHERE allset
        """,
        "bigram_pmi_top": f"""
            WITH nt AS (
              SELECT doc_id,
                list_filter(regexp_split_to_array({_NORM_TEXT}, '\\s+'),
                            x -> x <> '') AS tk
              FROM documents
            ),
            t AS (SELECT unnest(tk) AS tok FROM nt),
            uni AS (SELECT tok, count(*) AS n FROM t GROUP BY tok),
            tot AS (
              SELECT CAST(sum(len(tk)) AS BIGINT) AS t_toks,
                     CAST(sum(greatest(len(tk) - 1, 0)) AS BIGINT) AS t_bi
              FROM nt
            ),
            p AS (
              SELECT doc_id, tk, unnest(range(1, len(tk))) AS i FROM nt
            ),
            bic AS (
              SELECT tk[i] AS tok_a, tk[i + 1] AS tok_b,
                     CAST(count(*) AS BIGINT) AS n_ab
              FROM p GROUP BY 1, 2 HAVING count(*) >= 20
            )
            SELECT tok_a, tok_b, n_ab,
              round(ln((n_ab / CAST(t_bi AS DOUBLE))
                / ((a.n / CAST(t_toks AS DOUBLE))
                   * (b.n / CAST(t_toks AS DOUBLE)))), 6) AS pmi
            FROM bic
            JOIN uni a ON a.tok = bic.tok_a
            JOIN uni b ON b.tok = bic.tok_b
            CROSS JOIN tot
            ORDER BY pmi DESC, tok_a, tok_b LIMIT 30
        """,
        "cms_token_estimates": f"""
            WITH nt AS (
              SELECT doc_id,
                list_filter(regexp_split_to_array({_NORM_TEXT}, '\\s+'),
                            x -> x <> '') AS tk
              FROM documents
            ),
            t AS (SELECT unnest(tk) AS term FROM nt),
            exact AS (
              SELECT term, CAST(count(*) AS BIGINT) AS n_exact
              FROM t GROUP BY term
              ORDER BY n_exact DESC, term LIMIT 30
            ),
            cells AS (
              SELECT row, bucket, count(*) AS cnt FROM (
                SELECT unnest([0, 1, 2, 3]) AS row,
                       unnest([
                         {_md5h("term || '#0'")} % 4096,
                         {_md5h("term || '#1'")} % 4096,
                         {_md5h("term || '#2'")} % 4096,
                         {_md5h("term || '#3'")} % 4096
                       ]) AS bucket
                FROM t
              ) GROUP BY row, bucket
            ),
            probes AS (
              SELECT term, unnest([0, 1, 2, 3]) AS row,
                     unnest([
                       {_md5h("term || '#0'")} % 4096,
                       {_md5h("term || '#1'")} % 4096,
                       {_md5h("term || '#2'")} % 4096,
                       {_md5h("term || '#3'")} % 4096
                     ]) AS bucket
              FROM exact
            ),
            est AS (
              SELECT term, CAST(min(coalesce(cnt, 0)) AS BIGINT) AS n_est
              FROM probes LEFT JOIN cells USING (row, bucket)
              GROUP BY term
            )
            SELECT e.term, e.n_exact, est.n_est
            FROM exact e JOIN est USING (term)
        """,
    }
    # the frozen-baseline path is DELIBERATELY the same report as the
    # two-frame length_drift_psi (bit-equality between paths is the
    # contract, pinned operator-side) — share the oracle
    out["psi_frozen_baseline_docs"] = out["length_drift_psi_docs"]
    return out
