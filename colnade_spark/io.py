"""Schema-driven I/O: Parquet + CSV readers/writers.

Mirrors the reference's per-backend io modules (reference:
colnade-polars/src/colnade_polars/io.py:24-102): the schema is always an
argument — never inferred — and boundary validation honors the process-wide
level.

Scale notes:
- Reads pass the declared schema to ``spark.read.schema(...)`` so the parquet
  vectorized reader prunes columns at the scan and predicate pushdown has
  concrete types to push into.
- ``scan_*`` and ``read_*`` both return lazy plans (Spark reads are lazy);
  ``read_*`` returns the eager-styled ``DataFrame`` facade, ``scan_*`` the
  ``LazyFrame`` facade.
- Writers accept ``partition_by`` so 100 TB outputs land partitioned.
"""

from __future__ import annotations

from typing import TypeVar

from pyspark.sql import SparkSession

from colnade_spark.conversion import to_struct_type
from colnade_spark.dataframe import DataFrame, LazyFrame, _boundary_validate
from colnade_spark.schema import Column, Schema
from colnade_spark.session import get_spark

S = TypeVar("S", bound=Schema)


def _nanos_columns(path: str) -> set[str] | None:
    """Names of parquet columns whose LOGICAL type is TIMESTAMP(NANOS),
    read from file metadata via pyarrow (handles files and directories).
    Returns ``None`` when metadata can't be inspected (e.g. glob patterns)
    — callers treat that as "unknown"."""
    try:
        import pyarrow as pa
        import pyarrow.dataset as pads

        sch = pads.dataset(path, format="parquet").schema
        return {
            f.name
            for f in sch
            if pa.types.is_timestamp(f.type) and f.type.unit == "ns"
        }
    except Exception:
        return None


def footer_schema(path: str, spark: SparkSession):
    """(spark_schema | None, nanos_columns | None) from ONE pyarrow footer
    read — the driver-cost-free twin of Spark's parquet schema inference.

    ``spark.read.parquet(path)`` runs file listing + footer decoding
    through the JVM data-source machinery: measured ~105 ms of
    driver time per call at sf0.1, paid on EVERY query build (and the
    bench rebuilds each query per rep). The same footer via
    ``pyarrow.dataset`` is ~0.3 ms; converting its arrow schema with
    pyspark's own ``from_arrow_type`` and passing it to
    ``spark.read.schema(...)`` skips inference for ~16 ms total — an
    identical scan (ReadSchema equal, verified against Spark's inferred
    StructType on every fixture table; the plan-signature gate pins it).

    Inference quirks reproduced exactly:
    - TIMESTAMP(NANOS) -> LongType (the ``nanosAsLong`` path the callers
      already handle via ``_normalize_scan``);
    - tz-less TIMESTAMP -> TimestampNTZType when
      ``spark.sql.parquet.inferTimestampNTZ.enabled`` (Spark 4 default),
      TimestampType otherwise;
    - every field nullable (file-source relations are force-nullable).

    Returns ``(None, None)`` when the footer can't be read or a type has
    no arrow->Spark mapping — callers fall back to JVM inference."""
    try:
        import pyarrow as pa
        import pyarrow.dataset as pads
        from pyspark.sql import types as T
        from pyspark.sql.pandas.types import from_arrow_type

        sch = pads.dataset(path, format="parquet").schema
        try:
            ntz = (
                str(
                    spark.conf.get("spark.sql.parquet.inferTimestampNTZ.enabled")
                ).lower()
                == "true"
            )
        except Exception:
            ntz = True
        nanos: set[str] = set()
        fields = []
        for f in sch:
            if pa.types.is_timestamp(f.type):
                if f.type.unit == "ns":
                    dt = T.LongType()
                    nanos.add(f.name)
                elif f.type.tz is None and ntz:
                    dt = T.TimestampNTZType()
                else:
                    dt = T.TimestampType()
            else:
                dt = from_arrow_type(f.type)
            fields.append(T.StructField(f.name, dt, True))
        return T.StructType(fields), nanos
    except Exception:
        return None, None


def _bare_parquet_files(data) -> list[str] | None:
    """Local paths of the files a frame scans when its analyzed plan is a
    bare parquet scan: ``Project``s of plain attributes over an
    unpartitioned ``HadoopFsRelation`` with ``ParquetFileFormat``, every
    file a ``file:`` URI. ``None`` for any other plan."""
    from urllib.parse import unquote, urlparse

    plan = data._jdf.queryExecution().analyzed()
    while plan.nodeName() == "Project":
        # a projection of bare attributes is its own output; an alias or
        # any computed expression makes a new attribute
        if not plan.projectList().equals(plan.output()):
            return None
        plan = plan.child()
    if plan.nodeName() != "LogicalRelation":
        return None
    rel = plan.relation()
    if (
        rel.getClass().getSimpleName() != "HadoopFsRelation"
        or rel.fileFormat().getClass().getSimpleName() != "ParquetFileFormat"
        or not rel.partitionSchema().isEmpty()
    ):
        return None
    paths = []
    for uri in rel.inputFiles():
        u = urlparse(uri)
        if u.scheme != "file" or u.netloc not in ("", "localhost"):
            return None
        paths.append(unquote(u.path))
    return paths


def footer_null_counts(data, cols) -> dict[str, int]:
    """Exact NULL counts of ``cols`` read from parquet footers, for the
    columns the footers can answer; the rest are left out.

    Only a bare parquet scan qualifies (see ``_bare_parquet_files``):
    any filter, computed column or partitioned directory changes what the
    frame's rows are, so the footers no longer describe them. A column
    counts only when it is a top-level leaf in every file and every row
    group carries a ``null_count`` statistic. That leaves out nested
    columns, whose leaf counts mix element NULLs with row NULLs; files
    that lack the column, which the scan fills with NULLs; and files
    written without statistics. An unreadable footer leaves out all
    columns; an empty file list answers 0."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    files = _bare_parquet_files(data)
    if files is None:
        return {}
    counts = dict.fromkeys(cols, 0)
    try:
        for path in files:
            md = pq.read_metadata(path)
            leaves = {}
            for i in range(md.num_columns):
                c = md.schema.column(i)
                if c.path == c.name and c.max_repetition_level == 0:
                    leaves[c.name] = i
            groups = [md.row_group(g) for g in range(md.num_row_groups)]
            for name in list(counts):
                i = leaves.get(name)
                stats = None if i is None else [g.column(i).statistics for g in groups]
                if stats is None or not all(s is not None and s.has_null_count for s in stats):
                    del counts[name]
                else:
                    counts[name] += sum(s.null_count for s in stats)
            if not counts:
                break
    except (OSError, pa.ArrowException):
        return {}
    return counts


def read_parquet_table(path: str, spark: SparkSession | None = None):
    """Untyped parquet read with the footer-schema fast path: identical
    frame to ``spark.read.parquet(path)`` minus the ~100 ms of JVM schema
    inference per call. Falls back to plain inference when the footer is
    unreadable. NOTE: callers that may hit TIMESTAMP(NANOS) columns should
    use the typed ``read_parquet`` (this helper does not set
    ``nanosAsLong`` or normalize nanos columns)."""
    sp = spark if spark is not None else get_spark()
    st, nanos = footer_schema(path, sp)
    if st is None or nanos:
        return sp.read.parquet(path)
    return sp.read.schema(st).parquet(path)


def _reader(spark: SparkSession | None, nanos: set[str] | None = None) -> SparkSession:
    sp = spark if spark is not None else get_spark()
    if nanos is None or nanos:
        # parquet TIMESTAMP(NANOS) columns (no Spark type) arrive as long
        # nanos instead of erroring the scan; _normalize_scan converts them.
        # Only set when the file actually has nanos columns (or metadata is
        # uninspectable) — a plain-INT64 read doesn't need the legacy conf.
        # NOTE: the conf must stay set for the lifetime of the resulting
        # plan (the per-file schema converter consults it at execution), so
        # it cannot be save/restored around the read() call.
        try:
            sp.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        except Exception:  # pragma: no cover - read-only conf on some sessions
            pass
    return sp


def _normalize_scan(data, schema: type[Schema], nanos: set[str] | None = None):
    """Normalize physical quirks at the scan boundary: declared Datetime
    columns whose parquet logical type is TIMESTAMP(NANOS) (materialized as
    long under nanosAsLong) become microsecond timestamps (``div 1000`` in
    integer space — double math would lose precision at 1e18).

    ``nanos`` is the set of column names the parquet metadata reports as
    nanos-typed; a plain INT64 column declared Datetime is NOT divided — it
    stays Long and fails structural validation instead of being silently
    corrupted. ``nanos=None`` (metadata uninspectable) falls back to
    treating every declared-Datetime-arrived-as-Long column as nanos."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    from colnade_spark import dtypes as dt

    actual = {f.name: f.dataType for f in data.schema.fields}
    fixes = {}
    for name, col in schema._columns.items():
        stripped = dt.strip_nullable(col.dtype)
        dtype = stripped[0] if stripped is not None else col.dtype
        if (
            isinstance(dtype, type)
            and issubclass(dtype, dt.Datetime)
            and isinstance(actual.get(name), T.LongType)
            and (nanos is None or name in nanos)
        ):
            fixes[name] = F.timestamp_micros(F.expr(f"`{name}` div 1000"))
    return data.withColumns(fixes) if fixes else data


def _parquet_scan(path: str, spark: SparkSession | None):
    """(raw frame, nanos set | None) shared by read_parquet/scan_parquet:
    one pyarrow footer read supplies BOTH the nanos-column set and the
    explicit read schema (skipping JVM schema inference, ~100 ms/call —
    see footer_schema); unreadable footers fall back to the old
    inference path with nanos unknown."""
    sp0 = spark if spark is not None else get_spark()
    st, nanos = footer_schema(path, sp0)
    if st is None:
        nanos = _nanos_columns(path)
        sp = _reader(spark, nanos)
        return sp.read.parquet(path), nanos
    sp = _reader(spark, nanos)
    return sp.read.schema(st).parquet(path), nanos


def read_parquet(
    path: str, schema: type[S], *, spark: SparkSession | None = None
) -> DataFrame[S]:
    data, nanos = _parquet_scan(path, spark)
    # project to declared columns: extra file columns are dropped at the scan
    names = list(schema._columns)
    data = _normalize_scan(data.select(*names), schema, nanos)
    out = DataFrame(data, schema)
    _boundary_validate(out)
    return out


def scan_parquet(
    path: str, schema: type[S], *, spark: SparkSession | None = None
) -> LazyFrame[S]:
    data, nanos = _parquet_scan(path, spark)
    names = list(schema._columns)
    data = _normalize_scan(data.select(*names), schema, nanos)
    out = LazyFrame(data, schema)
    _boundary_validate(out)
    return out


def read_csv(
    path: str,
    schema: type[S],
    *,
    header: bool = True,
    spark: SparkSession | None = None,
) -> DataFrame[S]:
    sp = _reader(spark, set())
    data = sp.read.schema(to_struct_type(schema)).csv(path, header=header)
    out = DataFrame(data, schema)
    _boundary_validate(out)
    return out


def scan_csv(
    path: str,
    schema: type[S],
    *,
    header: bool = True,
    spark: SparkSession | None = None,
) -> LazyFrame[S]:
    sp = _reader(spark, set())
    data = sp.read.schema(to_struct_type(schema)).csv(path, header=header)
    out = LazyFrame(data, schema)
    _boundary_validate(out)
    return out


def read_json(
    path: str,
    schema: type[S],
    *,
    spark: SparkSession | None = None,
) -> DataFrame[S]:
    """JSON-lines source (EXTENSION — reference I/O is Parquet+CSV only).
    The declared schema drives parsing: no inference pass over the data,
    malformed rows become nulls in a PERMISSIVE read."""
    sp = _reader(spark, set())
    data = sp.read.schema(to_struct_type(schema)).json(path)
    out = DataFrame(data, schema)
    _boundary_validate(out)
    return out


def scan_json(
    path: str,
    schema: type[S],
    *,
    spark: SparkSession | None = None,
) -> LazyFrame[S]:
    sp = _reader(spark, set())
    data = sp.read.schema(to_struct_type(schema)).json(path)
    out = LazyFrame(data, schema)
    _boundary_validate(out)
    return out


def write_json(
    frame: DataFrame | LazyFrame,
    path: str,
    *,
    mode: str = "overwrite",
) -> None:
    frame.native.write.mode(mode).json(path)


def read_orc(
    path: str, schema: type[S], *, spark: SparkSession | None = None
) -> DataFrame[S]:
    """ORC source (EXTENSION — reference I/O is Parquet+CSV only). ORC
    carries full logical types and column statistics, so the scan gets
    the same predicate-pushdown/column-pruning treatment as Parquet."""
    sp = _reader(spark, set())
    data = sp.read.orc(path).select(*list(schema._columns))
    out = DataFrame(data, schema)
    _boundary_validate(out)
    return out


def scan_orc(
    path: str, schema: type[S], *, spark: SparkSession | None = None
) -> LazyFrame[S]:
    sp = _reader(spark, set())
    data = sp.read.orc(path).select(*list(schema._columns))
    out = LazyFrame(data, schema)
    _boundary_validate(out)
    return out


def write_orc(
    frame: DataFrame | LazyFrame,
    path: str,
    *,
    mode: str = "overwrite",
    partition_by: list[str | Column] | None = None,
) -> None:
    writer = frame.native.write.mode(mode)
    if partition_by:
        writer = writer.partitionBy(
            *[c if isinstance(c, str) else c.name for c in partition_by]
        )
    writer.orc(path)


def write_parquet(
    frame: DataFrame | LazyFrame,
    path: str,
    *,
    mode: str = "overwrite",
    partition_by: list[str | Column] | None = None,
    sort_by: list[str | Column] | None = None,
) -> None:
    """``sort_by`` sorts WITHIN each output task before writing: parquet
    row-group min/max statistics then become selective, so point/range
    filters on the sort key skip row groups at scan time — the cheap
    data-layout lever when full partitioning is too coarse."""
    data = frame.native
    if sort_by:
        data = data.sortWithinPartitions(
            *[c if isinstance(c, str) else c.name for c in sort_by]
        )
    writer = data.write.mode(mode)
    if partition_by:
        writer = writer.partitionBy(
            *[c if isinstance(c, str) else c.name for c in partition_by]
        )
    writer.parquet(path)


def write_bucketed_table(
    frame: DataFrame | LazyFrame,
    name: str,
    bucket_by: list[str | Column],
    num_buckets: int = 16,
    sort_by: list[str | Column] | None = None,
    mode: str = "overwrite",
) -> None:
    """Persist as a bucketed (and optionally sorted) managed table.

    Bucketing pre-shuffles data by the join/agg key at WRITE time: two
    tables bucketed on the same key with the same bucket count join with
    ZERO exchanges (and zero sorts if sort_by matches) — the way fact⋈fact
    joins at 100 TB skip their dominant cost. Requires the table catalog
    (``saveAsTable``); plain parquet paths cannot carry bucket metadata.
    """

    def _names_of(cols):
        return [c if isinstance(c, str) else c.name for c in cols]

    writer = frame.native.write.mode(mode).bucketBy(
        num_buckets, *_names_of(bucket_by)
    )
    if sort_by:
        writer = writer.sortBy(*_names_of(sort_by))
    writer.format("parquet").saveAsTable(name)


def read_table(name: str, schema: type[S], *, spark: SparkSession | None = None) -> DataFrame[S]:
    """Read a catalog table (e.g. one written by ``write_bucketed_table``)
    into a typed frame — bucket metadata flows into join planning."""
    sp = _reader(spark, set())
    data = sp.table(name).select(*list(schema._columns))
    out = DataFrame(data, schema)
    _boundary_validate(out)
    return out


def zorder_key(cols: list[Column | str], bits: int = 21):
    """Z-order (Morton) curve key: interleave the low ``bits`` bits of k
    integer columns into one BIGINT. Sorting by this key
    (``write_parquet(..., sort_by=[zorder])`` via a staged column)
    clusters rows that are close in EVERY dimension into the same row
    groups, so min/max statistics prune scans filtered on ANY of the
    dimensions — the multi-column generalization of a single sort key.
    Requires ``k * bits <= 63``; callers bucket non-integer dimensions
    first (e.g. ``floor(ts / 3600)``)."""
    from pyspark.sql import functions as _F

    k = len(cols)
    if k < 2:
        raise ValueError("zorder_key needs at least 2 columns")
    if k * bits > 63:
        raise ValueError(f"k*bits must be <= 63, got {k}*{bits}")
    refs = [_F.col(c if isinstance(c, str) else c.name) for c in cols]
    acc = _F.lit(0).cast("long")
    for i, c in enumerate(refs):
        v = c.cast("long").bitwiseAND(_F.lit((1 << bits) - 1))
        for b in range(bits):
            acc = acc + _F.shiftleft(
                _F.shiftright(v, b).bitwiseAND(_F.lit(1)), b * k + i
            )
    return acc


def compact_parquet(
    src: str,
    dst: str,
    *,
    target_mb: int = 512,
    spark: SparkSession | None = None,
    sort_by: list[str] | None = None,
) -> int:
    """Small-file compaction: rewrite a parquet directory as
    ``ceil(total_bytes / target_mb)`` files (optionally sorted within
    files for row-group pruning). Returns the output file count.

    The operational fix for streaming/incremental sinks that accrete
    thousands of tiny files (each file costs a task + a footer read at
    scan time). Writes to ``dst``; swapping directories atomically is
    the caller's move (rename after success) — compaction never
    overwrites its own input."""
    import math

    sp = _reader(spark, set())
    data = sp.read.parquet(src)
    # size probe walks the local filesystem; object-store deployments
    # should pass an explicit file count via repartition upstream or
    # extend this with their FS listing
    total = _dir_bytes(src)
    n_files = max(1, math.ceil(total / (target_mb * 1024 * 1024)))
    out = data.repartition(n_files)
    if sort_by:
        out = out.sortWithinPartitions(*sort_by)
    out.write.mode("overwrite").parquet(dst)
    return n_files


def _dir_bytes(path: str) -> int:
    import os as _os

    total = 0
    for root, _dirs, files in _os.walk(path):
        for f in files:
            if f.endswith(".parquet"):
                total += _os.path.getsize(_os.path.join(root, f))
    return total


def write_csv(
    frame: DataFrame | LazyFrame,
    path: str,
    *,
    mode: str = "overwrite",
    header: bool = True,
) -> None:
    frame.native.write.mode(mode).option("header", str(header).lower()).csv(path)


def _read_quarantine(path, schema, fmt, spark, **fmt_opts):
    """Shared PERMISSIVE-with-quarantine reader: parse once (lazily
    checkpointed — Spark disallows filtering on only the internal
    corrupt-record column of an un-materialized file query), then split
    into the typed clean frame and the raw quarantined records."""
    import pyspark.sql.types as T
    from pyspark.sql import functions as F

    sp = _reader(spark, set())
    struct = to_struct_type(schema).add("_corrupt_record", T.StringType())
    reader = (
        sp.read.schema(struct)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
    )
    if fmt == "csv":
        raw = reader.csv(path, **fmt_opts)
    else:
        raw = reader.json(path, **fmt_opts)
    raw = raw.localCheckpoint(eager=False)
    bad = raw.filter(F.col("_corrupt_record").isNotNull()).select(
        F.col("_corrupt_record").alias("raw_record")
    )
    good = DataFrame(
        raw.filter(F.col("_corrupt_record").isNull()).drop("_corrupt_record"),
        schema,
    )
    _boundary_validate(good)
    return good, bad


def read_csv_quarantine(
    path: str,
    schema: type[S],
    *,
    header: bool = True,
    spark: SparkSession | None = None,
):
    """(clean, quarantine): CSV ingest that neither dies on the first
    malformed row (FAILFAST) nor silently nulls it into the typed frame
    (plain PERMISSIVE — poisoned aggregates with no audit trail). Rows
    that fully parse under the declared schema become the typed
    ``DataFrame[S]``; malformed rows (bad quoting, type mismatches)
    come back as their RAW text for repair/audit — the at-scale ingest
    contract, where some fraction of a 100 TB drop is always broken.
    One parse pass (lazily checkpointed), two filters."""
    return _read_quarantine(path, schema, "csv", spark, header=header)


def read_json_quarantine(
    path: str,
    schema: type[S],
    *,
    spark: SparkSession | None = None,
):
    """(clean, quarantine): JSON-lines twin of ``read_csv_quarantine`` —
    unparseable lines and schema-violating documents return as raw
    text instead of null-filled typed rows."""
    return _read_quarantine(path, schema, "json", spark)
