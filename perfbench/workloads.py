"""The benchmark's two workloads, as lists of closed-loop ops.

An op is one call sequence into the library's public entry points. Its
phases run under ``Tracer.phase`` so that every Spark job is labelled and,
when tracing, every phase is a span. ``Op.run`` returns the fingerprint
of the op's output, or ``None`` when the op checks its output itself.
"""

from __future__ import annotations

import os
import random
import statistics
from collections.abc import Callable
from dataclasses import dataclass

from perfbench import checks, datagen
from perfbench.checks import CheckFailed, Expectation, Fingerprint, Fingerprinter
from perfbench.tracing import Tracer

NOOP = "noop"


@dataclass
class Op:
    name: str
    run: Callable[[Tracer], Fingerprint | None]
    expect: Expectation | None = None


def run_action(tracer: Tracer, fp: Fingerprinter) -> Fingerprint:
    """The Spark action: a noop-sink write that also yields the fingerprint.
    A traced run forces the physical plan first, as its own span."""
    if tracer.traced:
        with tracer.phase("plan"):
            fp.frame._jdf.queryExecution().executedPlan()
    with tracer.phase("exec"):
        fp.frame.write.format(NOOP).mode("overwrite").save()
        return fp.result()


def lazy_op(build: Callable[[], object], **check):
    """build -> plan -> exec for a builder that returns a lazy Spark frame;
    ``check`` goes to the ``Fingerprinter``."""

    def run(tracer: Tracer) -> Fingerprint:
        with tracer.phase("build"):
            fp = Fingerprinter(build(), **check)
        return run_action(tracer, fp)

    return run


def dir_bytes(path: str) -> int:
    total = 0
    for root, _, files in os.walk(path):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(root, f))
            except FileNotFoundError:  # Spark removes shuffle files concurrently
                pass
    return total


class Workload:
    """One set of inputs. ``generate`` writes them, ``warm`` primes the
    session at the measured size, ``ops`` is one measured pass."""

    name = ""
    why = ""
    # end-to-end metrics under the names this workload's users know them by
    aliases: dict[str, str] = {}
    # measured passes a run makes at least, so that every run takes each
    # op's minimum over the same number of walls whatever the host's speed
    passes = 1

    def __init__(self, spark, scratch: str, seed: int, goldens: dict) -> None:
        self.spark = spark
        self.seed = seed
        self.data = os.path.join(scratch, self.name)
        self.goldens = goldens.get(self.name, {})
        self.input_rows = 0
        self.input_bytes = 0

    def generate(self) -> None:
        raise NotImplementedError

    def warm(self) -> None:
        """Prime the session; by default one full pass, unchecked."""
        tracer = Tracer(self.spark, f"{self.name}-warm", traced=False)
        for op in self.ops():
            try:
                with tracer.op(op.name):
                    op.run(tracer)
            except Exception:  # noqa: BLE001 - the measured passes run, check and count it again
                pass

    def ops(self) -> list[Op]:
        raise NotImplementedError

    def trace_layers(self, t) -> dict[str, float]:
        """Per-layer numbers of the layers only this workload enters, from
        a ``layers.TraceView``; they go to the trace artifact."""
        return {}

    def _write(self, tables) -> None:
        self.input_bytes = datagen.write_tables(self.data, tables)
        self.input_rows = sum(t.num_rows for t in tables.values())

    def _expect(self, op: str, **kw) -> Expectation:
        return Expectation(self.goldens.get(op), exact=self.seed == checks.SHIPPED_SEED, **kw)


class RegistryBoard(Workload):
    name = "registry_board"
    why = (
        "83 of the 124 bench.HEADLINE queries (two in three) on sf0.01 tables, one pass, seed permutes"
        " the order: driver build, Catalyst planning and job scheduling dominate"
    )
    SF, DOCS, VECS = 0.01, 500, 500
    # exact copies of seeded documents appended to the corpus, which the
    # dedup queries below must drop or find at every seed
    PLANTED = 10
    aliases = {"queries_per_s": "ops_per_s", "query_p50_s": "op_p50_s", "query_p90_s": "op_p90_s"}
    # the dedup pipelines, whose walls the trace artifact lists one by one
    PIPELINES = (
        "dedup_minhash_k13_ids",
        "minhash_estimate_pairs",
        "emb_near_dup_multiprobe",
        "semdedup_survivors",
        "commonness_frozen_docs",
    )

    def generate(self) -> None:
        tables = datagen.registry_tables(self.SF, self.DOCS, self.VECS, self.seed)
        tables["documents"] = datagen.plant_copies(tables["documents"], self.PLANTED, self.seed)
        self.n_docs = tables["documents"].num_rows
        self.planted = datagen.exact_copies(tables["documents"])
        self._write(tables)

    def warm(self) -> None:
        """JVM, parquet reader and Python UDF workers, as bench.py warms
        them; a full warm pass of the board does not fit one run."""
        from pyspark.sql import functions as F

        self.spark.read.parquet(os.path.join(self.data, "region.parquet")).count()
        noop = F.pandas_udf(lambda s: s, "long")
        # 64 partitions so every executor thread forks its Python worker now
        self.spark.range(0, 100_000, 1, 64).select(noop("id")).write.format(NOOP).mode("overwrite").save()

    def ops(self) -> list[Op]:
        from __spark_entry__ import queries

        from bench import HEADLINE

        qs = queries()
        # two of every three board entries, in board order: a pass over all
        # 124 took 67-118 s on a shared 4-core host; two in three keep a
        # run near a minute
        order = [q for i, q in enumerate(HEADLINE) if i % 3 != 2]
        random.Random(self.seed).shuffle(order)
        # several entries plant copies of their input under id + 1,000,000
        n = max(self.n_docs, self.VECS)
        ids = [(0, n), (1_000_000, 1_000_000 + n)]
        # query -> (planted, planted_col): every planted exact copy dropped
        # from the survivors, or found as the later id of a candidate pair
        planted = {
            "dedup_minhash_k13_ids": ("absent", "doc_id"),
            "minhash_estimate_pairs": ("present", "id_b"),
        }
        ops = []
        for q in order:
            check, expect = {"id_ranges": ids}, {}
            if q in planted:
                expect["planted"], check["planted_col"] = planted[q]
                expect["n_planted"] = len(self.planted)
                check["planted"] = self.planted
            build = lambda fn=qs[q]: fn(self.spark, self.data)  # noqa: E731
            ops.append(Op(q, lazy_op(build, **check), self._expect(q, **expect)))
        return ops

    def trace_layers(self, t) -> dict[str, float]:
        # wall of the jobs the builders ran eagerly (fits, collects, checkpoints)
        build = [e.duration_ms for e in t.sql if e.label.endswith(":build")]
        walls = {f"operators.{q}.wall_s": statistics.median(t.op_walls[q]) for q in self.PIPELINES}
        return {"registry.build_job_s": sum(build) / 1000 / t.n_passes, **walls}


class TypedEtl(Workload):
    name = "typed_etl"
    why = (
        "typed scan, validate, join/aggregate/window, partitioned write, read back and Arrow round"
        " trip over every sf0.01 table: the only writes, value checks and driver transfers"
    )
    SF, DOCS, VECS = 0.01, 5_000, 2_000
    aliases = {"rows_per_s": "input_rows_per_s"}
    passes = 2

    def generate(self) -> None:
        self._write(datagen.registry_tables(self.SF, self.DOCS, self.VECS, self.seed))
        self.out = os.path.join(os.path.dirname(self.data), "typed_etl_out")

    def ops(self) -> list[Op]:
        from perfbench import typed_etl

        ops = [Op(f"scan_validate.{t}", self._scan_validate(t)) for t in typed_etl.TABLE_SCHEMAS]
        for name in typed_etl.CHAINS:
            ops.append(Op(f"twin.{name}", self._twin(name)))
            ops += self._chain_ops(name)
        return ops

    def trace_layers(self, t) -> dict[str, float]:
        arrow = t.phase_sum("arrow")
        typed = t.phase_sum("build.typed", "twin.")
        return {
            "io.scan_build_s": t.phase_sum("build.scan"),
            "io.write_s": t.phase_sum("write"),
            "io.read_s": t.phase_sum("read"),
            "validation.structural_s": t.phase_sum("validate.structural"),
            "validation.values_s": t.phase_sum("validate.values"),
            "validation.round_trip_s": t.phase_sum("validate.round_trip"),
            "arrow.to_batches_s": t.phase_sum("arrow.to_batches"),
            "arrow.from_batches_s": t.phase_sum("arrow.from_batches"),
            # each row crosses twice: to the driver and back
            "arrow.rows_per_s": 2 * t.counts.get("arrow.rows", 0) / arrow if arrow else 0.0,
            "typed.build_s": typed,
            # the raw twins' build time is the baseline
            "typed.build_overhead_s": typed - t.phase_sum("build.raw", "twin."),
        }

    def _scan_validate(self, table: str):
        import colnade_spark as cs
        from colnade_spark.backend import SparkBackend
        from colnade_spark.tpch import table_path

        from perfbench.typed_etl import TABLE_SCHEMAS

        schema = TABLE_SCHEMAS[table]

        def run(tracer: Tracer) -> None:
            with tracer.phase("build", "scan"):
                frame = cs.scan_parquet(table_path(self.data, table), schema, spark=self.spark)
            backend = SparkBackend()
            for part, check in (("structural", backend.validate_schema), ("values", backend.validate_values)):
                with tracer.phase("validate", part):
                    err = check(frame.native, schema)
                if not err.ok:
                    raise CheckFailed(f"{part} validation of clean {table}: {err}")

        return run

    def _twin(self, name: str):
        from perfbench import typed_etl

        typed, raw = typed_etl.CHAINS[name][:2]

        def run(tracer: Tracer) -> None:
            with tracer.phase("build", "typed"):
                t = typed(self.spark, self.data).native
            with tracer.phase("build", "raw"):
                r = raw(self.spark, self.data)
            with tracer.phase("plan"):
                same = typed_etl.normalized_plan(t) == typed_etl.normalized_plan(r)
            if not same:
                raise CheckFailed(f"typed {name} and its raw twin optimize to different plans")

        return run

    def _chain_ops(self, name: str) -> list[Op]:
        """write, read back and Arrow round trip of one chain, as three ops;
        each later op works on what the one before it left."""
        import colnade_spark as cs

        from perfbench import typed_etl

        typed, _, schema, partition_by, sort_by = typed_etl.CHAINS[name]
        path = os.path.join(self.out, name)
        state: dict = {}

        def write(tracer: Tracer) -> None:
            with tracer.phase("build", "typed"):
                frame = typed(self.spark, self.data)
            with tracer.phase("write"):
                cs.write_parquet(frame, path, partition_by=partition_by, sort_by=sort_by)

        def read(tracer: Tracer) -> Fingerprint:
            with tracer.phase("read"):
                state["back"] = cs.read_parquet(path, schema, spark=self.spark)
                fp = Fingerprinter(state["back"].native)
            state["fp"] = run_action(tracer, fp)
            return state["fp"]

        def arrow(tracer: Tracer) -> None:
            with tracer.phase("arrow", "to_batches"):
                batches = list(state["back"].to_batches())
            with tracer.phase("arrow", "from_batches"):
                again = cs.DataFrame.from_batches(batches, schema)
            with tracer.phase("validate", "round_trip"):
                again.validate()
            rows = sum(b.num_rows for b in batches)
            tracer.count("arrow.rows", rows)
            # the round trip must reproduce the read-back frame's fingerprint,
            # which the read op checked against its golden
            with tracer.phase("build"):
                fp = Fingerprinter(again.native)
            got, want = run_action(tracer, fp), state["fp"]
            if (got.rows, got.digest, got.schema) != (want.rows, want.digest, want.schema):
                raise CheckFailed(
                    f"round trip gave {got.rows}/{got.digest} {got.schema},"
                    f" the read-back frame {want.rows}/{want.digest} {want.schema}"
                )

        return [
            Op(f"write.{name}", write),
            Op(f"read.{name}", read, self._expect(f"read.{name}")),
            Op(f"arrow.{name}", arrow),
        ]


WORKLOADS: dict[str, type[Workload]] = {w.name: w for w in (RegistryBoard, TypedEtl)}
