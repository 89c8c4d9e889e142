"""Output checks: order-insensitive fingerprints and seed invariants.

A fingerprint is the row count plus an order-insensitive hash of the
rows. It is computed by ``Observation`` metrics on the measured action
itself, so checking an output costs no extra Spark job. Doubles are
hashed after a cast to float, so the last bits of a floating-point sum,
which depend on partition order, do not change the hash.

At the shipped seed every op's fingerprint must equal its golden. At every
seed the op's schema must equal the golden schema, every id column must
hold only ids of the op's input, and the dedup pipelines must find every
planted exact duplicate.
"""

from __future__ import annotations

import json
import os
from functools import reduce
from operator import add, or_
from dataclasses import dataclass

from pyspark.sql import DataFrame as SparkDF
from pyspark.sql import Observation
from pyspark.sql import functions as F
from pyspark.sql import types as T

SHIPPED_SEED = 0
GOLDENS = os.path.join(os.path.dirname(os.path.abspath(__file__)), "goldens.json")
ID_COLUMNS = ("doc_id", "vec_id", "id_a", "id_b")


class CheckFailed(Exception):
    """An op's output disagrees with its golden or an invariant."""


def _canon(c, dtype):
    if isinstance(dtype, T.DoubleType):
        return c.cast("float")
    if isinstance(dtype, T.ArrayType):
        return F.transform(c, lambda x: _canon(x, dtype.elementType))
    if isinstance(dtype, T.StructType):
        return F.struct(*[_canon(c[f.name], f.dataType).alias(f.name) for f in dtype.fields])
    if isinstance(dtype, T.MapType):
        # maps are not hashable; their sorted entries are
        return F.array_sort(F.map_entries(F.transform_values(c, lambda _k, v: _canon(v, dtype.valueType))))
    return c


@dataclass
class Fingerprint:
    rows: int
    digest: str
    schema: str
    stray_ids: int = 0  # id values outside the op's input ids
    hits: int = 0  # rows whose ``planted_col`` is a planted exact duplicate

    def golden(self) -> dict:
        return {"rows": self.rows, "digest": self.digest, "schema": self.schema}


class Fingerprinter:
    """Wraps a frame so that its action also yields a ``Fingerprint``."""

    def __init__(
        self,
        df: SparkDF,
        id_ranges: list[tuple[int, int]] | None = None,
        planted: list[int] | None = None,
        planted_col: str = "doc_id",
    ) -> None:
        """``id_ranges``: the half-open ranges the op's input ids lie in;
        ``planted``: ids of planted exact duplicates, matched in ``planted_col``."""
        self._obs = Observation()
        self._schema = df.schema.simpleString()
        cols = [_canon(F.col(f"`{f.name}`"), f.dataType) for f in df.schema.fields]
        h = F.xxhash64(*cols)
        aggs = [
            F.count(F.lit(1)).alias("rows"),
            # two 32-bit halves summed as longs cannot overflow
            F.sum(F.shiftrightunsigned(h, 32)).alias("hi"),
            F.sum(h.bitwiseAND(F.lit(0xFFFFFFFF))).alias("lo"),
        ]
        ids = [c for c in ID_COLUMNS if c in df.columns]
        if id_ranges and ids:
            stray = [
                F.when(~F.col(c).isNull() & ~reduce(or_, [F.col(c).between(lo, hi - 1) for lo, hi in id_ranges]), 1)
                .otherwise(0)
                for c in ids
            ]
            aggs.append(F.sum(reduce(add, stray)).alias("stray"))
        if planted is not None:
            hit = F.col(planted_col).isin(planted) if planted else F.lit(False)
            aggs.append(F.sum(hit.cast("long")).alias("hits"))
        self.frame = df.observe(self._obs, *aggs)

    def result(self) -> Fingerprint:
        r = self._obs.get
        return Fingerprint(
            rows=int(r["rows"]),
            digest=f"{(r['hi'] or 0) & (2**64 - 1):x}:{(r['lo'] or 0) & (2**64 - 1):x}",
            schema=self._schema,
            stray_ids=int(r.get("stray") or 0),
            hits=int(r.get("hits") or 0),
        )


def load_goldens(path: str = GOLDENS) -> dict[str, dict[str, dict]]:
    if not os.path.exists(path):
        return {}
    with open(path) as f:
        return json.load(f)


@dataclass
class Expectation:
    """What one op's output must satisfy."""

    golden: dict | None  # {"rows", "digest", "schema"}
    exact: bool  # compare rows and digest, not only the schema
    # "absent": no planted exact duplicate may survive; "present": each
    # must appear at least once
    planted: str | None = None
    n_planted: int = 0

    def check(self, fp: Fingerprint) -> None:
        if self.golden is None:
            raise CheckFailed("no golden recorded for this op")
        if fp.schema != self.golden["schema"]:
            raise CheckFailed(f"schema {fp.schema} != golden {self.golden['schema']}")
        if self.exact and (fp.rows, fp.digest) != (self.golden["rows"], self.golden["digest"]):
            raise CheckFailed(
                f"fingerprint {fp.rows}/{fp.digest} != golden"
                f" {self.golden['rows']}/{self.golden['digest']}"
            )
        if fp.stray_ids:
            raise CheckFailed(f"{fp.stray_ids} id values outside the input ids")
        if self.planted == "absent" and fp.hits:
            raise CheckFailed(f"{fp.hits} planted exact duplicates survived")
        if self.planted == "present" and fp.hits < self.n_planted:
            raise CheckFailed(f"found {fp.hits} of {self.n_planted} planted exact duplicates")
