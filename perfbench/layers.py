"""Per-layer metrics of a traced run.

Spans give the driver-side layers (build, Catalyst planning, execution
wall, validation, I/O, Arrow transfer); the status API gives the stage
metrics of the jobs each label ran. ``PER_LAYER`` is printed for every
workload; the workload-specific numbers go to the trace artifact and the
report line only, because a layer a workload never enters would read 0.
"""

from __future__ import annotations

import statistics
from collections.abc import Callable
from dataclasses import dataclass

from perfbench.run import CPUS, percentile
from perfbench.spark_status import SparkStatus, node_rows
from perfbench.workloads import dir_bytes

# share of an op's wall its phase spans must cover
COVERAGE_MIN = 0.95

# name -> unit; every traced run prints all of them
PER_LAYER = {
    "setup.session_s": "s",
    "setup.datagen_s": "s",
    "setup.warmup_s": "s",
    "build.s": "s",
    "build.p90_s": "s",
    "build.jobs": "count",
    "catalyst.plan_s": "s",
    "spark.exec_s": "s",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.core_util": "ratio",
    "spark.stage_reuse_ratio": "ratio",
    "spark.executor_cpu_s": "s",
    "spark.gc_s": "s",
    "spark.shuffle_write_bytes_per_row": "B",
    "spark.shuffle_read_bytes_per_row": "B",
    "spark.spill_bytes": "B",
    "spark.input_bytes": "B",
    "spark.failed_tasks": "count",
    "operators.minhash.candidates": "count",
    "operators.minhash.kept_ratio": "ratio",
    "operators.emb.candidates": "count",
    "operators.emb.kept_ratio": "ratio",
    "validation.jobs": "count",
    "io.bytes_written_per_input_byte": "ratio",
    "trace.overhead_s": "s",
    "trace.self_s": "s",
    "trace.coverage_min": "ratio",
    "memory.python_peak_rss_mb": "MB",
    "memory.jvm_peak_rss_mb": "MB",
}


@dataclass
class TraceView:
    """What a workload's own per-layer numbers are computed from."""

    phase_sum: Callable[..., float]  # seconds per traced pass in a phase
    counts: dict[str, float]  # per traced pass
    sql: list  # the workload's SQL executions
    n_passes: int  # traced passes
    op_walls: dict[str, list[float]]  # every wall of each op


def per_layer(
    spark, wl, setup: dict, untraced: list, traced: list, fingerprints: dict, rss_mb: dict
) -> tuple[dict, dict]:
    """(per-layer metrics, trace artifact); ``fingerprints`` are the last
    pass's, by op name, ``rss_mb`` the peak resident memory by process."""
    n_t = len(traced)
    spans = [(tr, op, tr.children(op)) for _, tr in traced for op in tr.ops()]

    def phase_sum(phase: str, op_prefix: str = "") -> float:
        """Seconds per traced pass in spans named ``phase`` or ``phase.*``."""
        return (
            sum(
                c.seconds
                for _, op, ch in spans
                if op.name.startswith(op_prefix)
                for c in ch
                if c.name == phase or c.name.startswith(phase + ".")
            )
            / n_t
        )

    status = SparkStatus(spark)
    by_label = {k: v for k, v in status.by_label().items() if k.startswith(f"{wl.name}:")}
    tot: dict[str, float] = {}
    jobs = stages = skipped = 0
    for st in by_label.values():
        jobs += st.jobs
        stages += st.stages
        skipped += st.skipped_stages
        for k, v in st.totals.items():
            tot[k] = tot.get(k, 0) + v
    per_pass = {k: v / n_t for k, v in tot.items()}

    def label_jobs(phase: str) -> float:
        return sum(st.jobs for k, st in by_label.items() if k.endswith(f":{phase}")) / n_t

    mean_wall = statistics.mean(w for w, _ in traced)
    build_per_op = [sum(c.seconds for c in ch if c.name.startswith("build")) for _, _, ch in spans]
    coverage = op_coverage(traced)
    short = coverage_short(coverage)
    rows = max(1, wl.input_rows)
    # jobs one table's structural + value validation ran (scan_validate ops)
    validated = [st.jobs for k, st in by_label.items() if ":scan_validate." in k and k.endswith(":validate")]
    sql = [e for e in status.sql_executions(details=True) if e.label.startswith(f"{wl.name}:")]
    pair_rows = {k: fp["rows"] for k, fp in fingerprints.items() if "id_a:" in fp["schema"] and "id_b:" in fp["schema"]}
    ops_stats = _operator_counts(sql, n_t, pair_rows)
    out_dir = getattr(wl, "out", None)
    written = dir_bytes(out_dir) if out_dir else 0

    layers = {
        "setup.session_s": setup["session_s"],
        "setup.datagen_s": setup["datagen_s"],
        "setup.warmup_s": setup["warmup_s"],
        "build.s": phase_sum("build"),
        "build.p90_s": percentile(build_per_op, 90),
        "build.jobs": label_jobs("build"),
        "catalyst.plan_s": phase_sum("plan"),
        "spark.exec_s": phase_sum("exec"),
        "spark.jobs": jobs / n_t,
        "spark.stages": stages / n_t,
        "spark.tasks": per_pass.get("numCompleteTasks", 0),
        "spark.core_util": per_pass.get("executorRunTime", 0) / 1000 / (CPUS * mean_wall),
        "spark.stage_reuse_ratio": skipped / stages if stages else 0.0,
        "spark.executor_cpu_s": per_pass.get("executorCpuTime", 0) / 1e9,
        "spark.gc_s": per_pass.get("jvmGcTime", 0) / 1000,
        "spark.shuffle_write_bytes_per_row": per_pass.get("shuffleWriteBytes", 0) / rows,
        "spark.shuffle_read_bytes_per_row": per_pass.get("shuffleReadBytes", 0) / rows,
        "spark.spill_bytes": per_pass.get("memoryBytesSpilled", 0) + per_pass.get("diskBytesSpilled", 0),
        "spark.input_bytes": per_pass.get("inputBytes", 0),
        "spark.failed_tasks": per_pass.get("numFailedTasks", 0),
        **ops_stats,
        "validation.jobs": sum(validated) / n_t / len(validated) if validated else 0.0,
        "io.bytes_written_per_input_byte": written / wl.input_bytes if wl.input_bytes else 0.0,
        "trace.overhead_s": tracing_overhead(untraced, traced),
        "trace.self_s": sum(tr.self_seconds for _, tr in traced) / n_t,
        "trace.coverage_min": min(c for _, c in coverage) if coverage else 1.0,
        "memory.python_peak_rss_mb": rss_mb["python"],
        "memory.jvm_peak_rss_mb": rss_mb["jvm"],
    }
    counts: dict[str, float] = {}
    for _, tr in traced:
        for k, v in tr.counts.items():
            counts[k] = counts.get(k, 0) + v / n_t
    op_walls: dict[str, list[float]] = {}
    for _, tr in untraced + traced:
        for op in tr.ops():
            op_walls.setdefault(op.name, []).append(op.seconds)
    specific = wl.trace_layers(TraceView(phase_sum, counts, sql, n_t, op_walls))
    artifact = {
        "workload": wl.name,
        "seed": wl.seed,
        "passes": {"untraced": [w for w, _ in untraced], "traced": [w for w, _ in traced]},
        "per_layer": layers,
        "workload_layers": specific,
        "coverage_ok": not short,
        "coverage_short": short,
        "spans": [s for _, tr in traced for s in tr.dump()],
        "stage_metrics_by_label": {
            k: {"jobs": v.jobs, "stages": v.stages, "skipped_stages": v.skipped_stages, **v.totals}
            for k, v in sorted(by_label.items())
        },
    }
    return {k: {"value": float(layers[k]), "unit": u} for k, u in PER_LAYER.items()}, artifact


def tracing_overhead(untraced: list, traced: list) -> float:
    """Traced minus untraced seconds per pass: the difference over the ops
    each untraced twin pass ran, scaled to all the traced pass's ops."""
    total = 0.0
    for (_, twin), (_, tr) in zip(untraced, traced):
        walls = {op.name: op.seconds for op in tr.ops()}
        pairs = [(walls[op.name], op.seconds) for op in twin.ops()]
        total += sum(t - u for t, u in pairs) * len(walls) / len(pairs)
    return total / len(traced)


def op_coverage(traced: list) -> list[tuple[str, float]]:
    """(op name, share of its wall its phase spans cover) of every traced op."""
    return [
        (op.name, sum(c.seconds for c in tr.children(op)) / op.seconds)
        for _, tr in traced
        for op in tr.ops()
        if op.seconds > 0
    ]


def coverage_short(coverage: list[tuple[str, float]]) -> dict[str, float]:
    """Lowest coverage of each op whose phase spans miss more than 5% of its wall."""
    short: dict[str, float] = {}
    for name, cov in coverage:
        if cov < COVERAGE_MIN:
            short[name] = min(cov, short.get(name, cov))
    return short


def _band_join_rows(ex) -> int | None:
    """Output rows of the first join after the first ``Generate`` in the
    plan listing: the self-join on the exploded band (or bucket) keys."""
    seen_generate = False
    for node in ex.nodes:
        name = node.get("nodeName", "")
        if name == "Generate":
            seen_generate = True
        elif seen_generate and "Join" in name:
            return node_rows(node)
    return None


def _operator_counts(sql: list, n_passes: int, pair_rows: dict[str, int]) -> dict[str, float]:
    """Band-join candidate rows of the MinHash and embedding near-dup ops
    that return pairs, from the SQL plan nodes' row counts, and the pairs
    those ops keep over their candidates."""
    out = {}
    for family in ("minhash", "emb"):
        cand = kept = 0
        for e in sql:
            op = e.label.split(":")[1]
            if not e.label.endswith(":exec") or family not in op or op not in pair_rows:
                continue
            rows = _band_join_rows(e)
            if rows:
                cand += rows
                kept += pair_rows[op]
        out[f"operators.{family}.candidates"] = cand / n_passes
        out[f"operators.{family}.kept_ratio"] = kept / cand if cand else 0.0
    return out
