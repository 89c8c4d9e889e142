#!/usr/bin/env python3
"""colnade_spark benchmark: one closed-loop client on local[4].

    python3 perfbench/run.py --workload registry_board --seed 0 --seconds 20 --trace 0

Runs one workload from the repository root, checks every op's output
(golden fingerprints at the shipped seed, invariants at any other seed)
and prints, as its last stdout line, one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``: the end-to-end metrics of
BENCHMARK.json with ``--trace 0``, its per-layer metrics with ``--trace 1``.
A traced run also writes its spans, the stage metrics joined by job group
and its tracing overhead to ``.perfbench_out/``.

Generated inputs, written outputs and Spark's local dirs live in one
scratch directory per invocation under ``.perfbench_scratch/``, removed
on exit, also after a failure. Exits non-zero if any op fails.

``--write-goldens`` records the shipped seed's fingerprints instead of
checking them.
"""

from __future__ import annotations

import argparse
import json
import os
import resource
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
CPUS = 4
# a traced run also runs every TWIN_EVERY-th op untraced, to measure the
# tracing overhead within the run at a quarter of the cost of a full twin
TWIN_EVERY = 4


def percentile(values: list[float], q: float) -> float:
    """Nearest-rank percentile (q in (0, 100])."""
    s = sorted(values)
    k = max(0, min(len(s) - 1, -(-len(s) * q // 100) - 1))
    return s[int(k)]


def _spark_env(scratch: str) -> None:
    """Session knobs read by colnade_spark.session.get_spark."""
    local = os.path.join(scratch, "spark-local")
    tmp = os.path.join(scratch, "tmp")
    os.makedirs(local)
    os.makedirs(tmp)
    os.environ.update(
        {
            "PYTHONPATH": os.pathsep.join(filter(None, [ROOT, os.environ.get("PYTHONPATH")])),
            "SPARK_LOCAL_DIRS": local,
            "TMPDIR": tmp,
            "SPARK_GRAFT_CPUS": str(CPUS),
            "SPARK_GRAFT_SHUFFLE": str(CPUS),
            "SPARK_GRAFT_DRIVER_MEM": "2g",
            "SPARK_GRAFT_EXTRA_CONF": ";".join(
                [
                    "spark.ui.retainedJobs=1000000",
                    "spark.ui.retainedStages=1000000",
                    "spark.sql.ui.retainedExecutions=1000000",
                    "spark.ui.showConsoleProgress=false",
                    f"spark.sql.warehouse.dir={os.path.join(scratch, 'warehouse')}",
                    # no hsperfdata file outside the scratch dir
                    f"spark.driver.extraJavaOptions=-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
                ]
            ),
        }
    )


def peak_rss_mb(spark) -> dict[str, float]:
    """Peak resident memory of this Python process and of the JVM."""
    py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    jvm_pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    jvm_kb = 0
    with open(f"/proc/{jvm_pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                jvm_kb = int(line.split()[1])
    return {"python": py_kb / 1024.0, "jvm": jvm_kb / 1024.0, "total": (py_kb + jvm_kb) / 1024.0}


def stop_spark(spark) -> None:
    """Stop the session, then its JVM, and wait until the JVM has exited;
    the JVM is stopped even when the session cannot be."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    try:
        spark.stop()
        if gateway is not None:
            gateway.shutdown()
    finally:
        SparkContext._gateway = SparkContext._jvm = None
        if proc is not None:
            proc.stdin.close()  # the JVM exits when its stdin closes
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()


class Run:
    """One invocation: set-up, measured passes, checks and metrics."""

    def __init__(self, args, scratch: str) -> None:
        self.args = args
        self.scratch = scratch
        self.scratch_peak = 0
        self.attempted = 0
        self.failures: list[dict] = []
        self.fingerprints: dict[str, dict] = {}

    def failed_frac(self) -> float:
        """Ops that raised or failed their check, over ops attempted."""
        return len(self.failures) / self.attempted if self.attempted else 1.0

    def note_scratch(self) -> None:
        from perfbench.workloads import dir_bytes

        self.scratch_peak = max(self.scratch_peak, dir_bytes(self.scratch))

    def run_pass(self, wl, tracer, twin=None) -> None:
        """One pass over the workload's ops under ``tracer``; every
        ``TWIN_EVERY``-th op also runs under the untraced ``twin``. Which of
        the two runs first alternates from pair to pair, so neither side is
        always the warmer second run."""
        for i, op in enumerate(wl.ops()):
            runs = [tracer]
            if twin is not None and i % TWIN_EVERY == 0:
                runs = [twin, tracer] if i // TWIN_EVERY % 2 == 0 else [tracer, twin]
            for t in runs:
                self.run_op(op, t)
        self.note_scratch()

    def run_op(self, op, tracer) -> None:
        """Run one op and check its output; a failure is recorded, not raised."""
        from perfbench.checks import CheckFailed

        self.attempted += 1
        try:
            with tracer.op(op.name):
                fp = op.run(tracer)
            if fp is not None:
                self.fingerprints[op.name] = fp.golden()
                if op.expect is not None and not self.args.write_goldens:
                    op.expect.check(fp)
        except CheckFailed as e:
            self.failures.append({"op": op.name, "error": str(e)})
        except Exception as e:  # noqa: BLE001 - an op that raises is counted, the run goes on
            self.failures.append({"op": op.name, "error": f"{type(e).__name__}: {e}"})
            traceback.print_exc(file=sys.stderr)

    def main(self) -> dict:
        from perfbench import checks
        from perfbench.tracing import Tracer
        from perfbench.workloads import WORKLOADS

        args = self.args
        _spark_env(self.scratch)
        t0 = time.time()
        from colnade_spark.session import get_spark

        spark = get_spark("perfbench")
        spark.sparkContext.setLogLevel("ERROR")
        self.spark = spark
        session_s = time.time() - t0

        wl = WORKLOADS[args.workload](spark, self.scratch, args.seed, checks.load_goldens())
        t1 = time.time()
        wl.generate()
        datagen_s = time.time() - t1
        self.note_scratch()
        t2 = time.time()
        label = f"{wl.name}-warm:setup:warmup"  # the warm-up ops relabel their own jobs
        spark.sparkContext.setJobGroup(label, label)
        wl.warm()
        warmup_s = time.time() - t2
        self.note_scratch()
        setup = {"session_s": session_s, "datagen_s": datagen_s, "warmup_s": warmup_s}

        untraced, traced = [], []
        start = time.time()
        # the pass minimum serves the end-to-end metrics, which a traced run
        # does not print. They use exactly ``passes`` passes; passes run after
        # them to fill ``--seconds`` on a fast host are checked, not timed,
        # so a faster tree gets no more samples for its minimum.
        passes = 1 if args.trace else wl.passes
        while len(untraced) < passes or time.time() - start < args.seconds:
            tracer = Tracer(spark, wl.name, traced=bool(args.trace))
            if args.trace:
                # the twin's jobs carry their own label, so a traced run's
                # stage metrics are those of its traced ops alone
                twin = Tracer(spark, f"{wl.name}-twin", traced=False)
                self.run_pass(wl, tracer, twin)
                traced.append((tracer.wall(), tracer))
                untraced.append((twin.wall(), twin))
            else:
                self.run_pass(wl, tracer)
                untraced.append((tracer.wall(), tracer))

        out = {"setup": setup, "untraced": untraced, "traced": traced, "wl": wl, "passes": passes}
        out["peak_rss_mb"] = peak_rss_mb(spark)
        if args.trace:
            from perfbench.layers import per_layer

            out["layers"], out["artifact"] = per_layer(
                spark, wl, setup, untraced, traced, self.fingerprints, out["peak_rss_mb"]
            )
            # build + plan + exec (and the other phases) must cover each
            # op's wall; an op they do not cover fails the run
            for op, cov in out["artifact"]["coverage_short"].items():
                self.failures.append({"op": op, "error": f"phase spans cover {cov:.3f} of its wall, under 0.95"})
        return out


def end_to_end(res: dict) -> tuple[dict, dict]:
    """(metrics, report) from the untraced passes.

    Each op's wall is its minimum over the run's passes: the noise-floor
    estimator bench.py uses, since single-shot walls on a shared host
    carry one-sided spikes. Throughputs divide by the sum of these minima."""
    setup = res["setup"]
    passes = res["untraced"][: res["passes"]]
    per_op: dict[str, list[float]] = {}
    for _, tr in passes:
        for s in tr.ops():
            per_op.setdefault(s.name, []).append(s.seconds)
    best = [min(v) for v in per_op.values()]
    total = sum(best)
    wl = res["wl"]
    metrics = {
        "setup_s": (sum(setup.values()), "s"),
        "ops_per_s": (len(best) / total, "1/s"),
        "input_rows_per_s": (wl.input_rows / total, "1/s"),
    }
    # not bounded metrics: a short op's wall follows the host's load more
    # than the pass total does, and registry_board's median and p90 spread
    # by up to 0.31 from run to run on a shared 4-core host
    percentiles = {"op_p50_s": statistics.median(best), "op_p90_s": percentile(best, 90)}
    values = {**{k: v for k, (v, _) in metrics.items()}, **percentiles}
    n = len(best)
    report = {
        "workload": wl.name,
        "passes": len(passes),
        "percentiles": percentiles,
        # ops per percentile, each the min of ``passes`` walls
        "samples": {"op_p50_s": n, "op_p90_s": n, "walls_per_op": len(passes)},
        "input_rows": wl.input_rows,
        "input_bytes": wl.input_bytes,
        "setup": setup,
        "aliases": {a: values[m] for a, m in wl.aliases.items()},
        # not a bounded metric: with the heap not pinned, the JVM's peak
        # follows when the collector grows the heap, and its run-to-run
        # spread exceeds a quarter
        "peak_rss_mb": res["peak_rss_mb"],
        "op_min_s": dict(sorted(zip(per_op, best))),
    }
    return {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}, report


def parse_args(argv: list[str] | None = None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--write-goldens", action="store_true")
    return ap.parse_args(argv)


def main(argv: list[str] | None = None) -> int:
    args = parse_args(argv)
    sys.path.insert(0, ROOT)
    # the repository's own modules; without them there is nothing to measure
    import __spark_entry__  # noqa: F401
    import bench  # noqa: F401
    import colnade_spark  # noqa: F401
    from scripts import gen_scale_data  # noqa: F401

    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"unknown workload {args.workload!r}; have {sorted(WORKLOADS)}", file=sys.stderr)
        return 2

    base = os.path.join(ROOT, ".perfbench_scratch")
    os.makedirs(base, exist_ok=True)
    scratch = tempfile.mkdtemp(prefix=f"{args.workload}-", dir=base)
    # SIGTERM -> SystemExit, so the finally below removes the scratch dir
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    run = Run(args, scratch)
    try:
        res = run.main()
    finally:
        try:
            if getattr(run, "spark", None) is not None:
                stop_spark(run.spark)
        except Exception:  # noqa: BLE001 - the scratch dir is removed regardless
            traceback.print_exc(file=sys.stderr)
        finally:
            run.note_scratch()
            shutil.rmtree(scratch, ignore_errors=True)
            try:
                os.rmdir(base)
            except OSError:
                pass  # another invocation still holds its own scratch dir
            print(f"scratch: {run.scratch_peak} bytes at peak, removed", flush=True)

    if args.write_goldens:
        from perfbench import checks

        goldens = checks.load_goldens()
        goldens[args.workload] = dict(sorted(run.fingerprints.items()))
        with open(checks.GOLDENS, "w") as f:
            json.dump(goldens, f, indent=1, sort_keys=True)
            f.write("\n")

    metrics, report = end_to_end(res)
    if args.trace:
        metrics = res["layers"]
        os.makedirs(os.path.join(ROOT, ".perfbench_out"), exist_ok=True)
        path = os.path.join(ROOT, ".perfbench_out", f"trace-{args.workload}-{args.seed}.json")
        with open(path, "w") as f:
            json.dump(res["artifact"], f)
        report["trace_artifact"] = os.path.relpath(path, ROOT)
        report["coverage_ok"] = res["artifact"]["coverage_ok"]
        report["workload_layers"] = res["artifact"]["workload_layers"]
    failed = len(run.failures)
    report["failed_frac"] = run.failed_frac()
    report["failures"] = run.failures
    print(json.dumps({"report": report}, default=str))
    print(
        json.dumps(
            {"correct": failed == 0, "attempted": run.attempted, "failed": failed, "metrics": metrics}
        )
    )
    return 1 if failed else 0


if __name__ == "__main__":
    sys.exit(main())
