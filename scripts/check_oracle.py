"""Local mirror of the driver's CORRECTNESS gate.

Runs every ``__spark_entry__.queries()`` entry at sf0.01, and for each key
with an ``oracle_sql()`` entry runs the SQL in DuckDB over the same parquet
tables, then compares: row count, column-name set, and values (columns
sorted by name, rows sorted; exact for non-floats, bit-exact-first with a
reported max-abs-delta for floats so we can see how far off a mismatch is).
Each DuckDB query runs once; its time is printed next to the Spark time.

Usage: python scripts/check_oracle.py [query ...]
"""

from __future__ import annotations

import math
import os
import sys
import time

import duckdb

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_ORACLE_SF_DIR", "/root/testdata/sf0.01")
TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


def normalize(rows: list[tuple], cols: list[str]) -> list[tuple]:
    order = sorted(range(len(cols)), key=lambda i: cols[i])

    def key(v):
        if v is None:
            return (0, "")
        if isinstance(v, bool):
            return (1, str(int(v)))
        if isinstance(v, (int, float)):
            return (2, f"{float(v):.10e}")
        return (3, str(v))

    out = [tuple(r[i] for i in order) for r in rows]
    return sorted(out, key=lambda r: tuple(key(v) for v in r))


def non_scalar_columns(schema) -> list[str]:
    """Top-level ARRAY/MAP/STRUCT output columns of a Spark schema.

    The driver's canonicalizer sorts result columns via pandas
    (``sort_values`` → ``factorize``), which raises ``TypeError:
    unhashable type`` on any list/dict-valued column — the row errors
    before comparison, so a local pass on such a query means nothing.
    Registry queries must emit scalars only (``F.array_join`` /
    ``to_json`` the complex value); the operator's native complex
    output stays tested in its own test module.
    """
    from pyspark.sql import types as T

    return [
        f"{f.name}:{f.dataType.simpleString()}"
        for f in schema.fields
        if isinstance(f.dataType, (T.ArrayType, T.MapType, T.StructType))
    ]


def compare(name: str, spark_df, con) -> tuple[bool, str]:
    from __spark_entry__ import oracle_sql

    sql = oracle_sql().get(name)
    bad_cols = non_scalar_columns(spark_df.schema)
    if bad_cols:
        return False, (
            f"NON-SCALAR OUTPUT (driver canonicalizer cannot sort it): "
            f"{bad_cols} — array_join/to_json the column in the query"
        )
    t0 = time.time()
    s_rows = [tuple(r) for r in spark_df.collect()]
    s_cols = spark_df.columns
    spark_s = time.time() - t0
    if sql is None:
        return True, f"rows-only: {len(s_rows)} rows ({spark_s:.1f}s)"
    # the query runs once: column names and types come from the bound
    # relation, the rows from its one execution
    res = con.sql(sql)
    o_cols = res.columns
    t0 = time.time()
    o_rows = [tuple(r) for r in res.fetchall()]
    duck_s = time.time() - t0
    # The driver fetches oracle results via Arrow: DuckDB HUGEINT (e.g. a bare
    # sum(BIGINT)) and DECIMAL arrive as decimal128 and value-hash differently
    # from Spark's int64 even when the Python ints are equal. Flag it here so
    # the local gate catches what the driver's hash catches.
    leaks = [
        f"{c}:{t}" for c, t in zip(o_cols, map(str, res.types))
        if "DECIMAL" in t or "HUGEINT" in t
    ]
    if leaks:
        return False, (
            f"ORACLE TYPE LEAK (decimal128 via Arrow, hash-mismatch risk): "
            f"{leaks} — CAST the aggregate to BIGINT/DOUBLE in the SQL"
        )
    if sorted(s_cols) != sorted(o_cols):
        return False, f"COLUMN MISMATCH spark={sorted(s_cols)} oracle={sorted(o_cols)}"
    if len(s_rows) != len(o_rows):
        return False, f"ROWCOUNT MISMATCH spark={len(s_rows)} oracle={len(o_rows)}"
    sn = normalize(s_rows, s_cols)
    on = normalize(o_rows, o_cols)
    max_delta = 0.0
    n_exact_mismatch = 0
    first_bad = None
    for a, b in zip(sn, on):
        for x, y in zip(a, b):
            if x is None and y is None:
                continue
            if isinstance(x, float) or isinstance(y, float):
                if x is None or y is None or (math.isnan(x) != math.isnan(y)):
                    n_exact_mismatch += 1
                    first_bad = first_bad or (a, b)
                elif x != y and not (math.isnan(x) and math.isnan(y)):
                    n_exact_mismatch += 1
                    max_delta = max(max_delta, abs(x - y))
                    first_bad = first_bad or (a, b)
            elif x != y:
                n_exact_mismatch += 1
                first_bad = first_bad or (a, b)
    if n_exact_mismatch:
        return False, (
            f"VALUE MISMATCH cells={n_exact_mismatch} max_float_delta={max_delta:.3e}"
            f"\n  spark : {first_bad[0]}\n  oracle: {first_bad[1]}"
        )
    return True, f"OK: {len(s_rows)} rows bit-exact (spark {spark_s:.1f}s, duckdb {duck_s:.1f}s)"


def main() -> int:
    from __spark_entry__ import queries

    from colnade_spark.session import get_spark

    only = set(sys.argv[1:])
    spark = get_spark()
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'")
    failures = 0
    for name, fn in queries().items():
        if only and name not in only:
            continue
        try:
            ok, msg = compare(name, fn(spark, SF_DIR), con)
        except Exception as e:  # noqa: BLE001
            ok, msg = False, f"EXCEPTION {type(e).__name__}: {e}"
        status = "PASS" if ok else "FAIL"
        print(f"[{status}] {name}: {msg}")
        failures += not ok
    print(f"\n{failures} failures")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
