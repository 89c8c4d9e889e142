"""Tests of the benchmark harness itself; no Spark session is started.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import re
import sys
import time
import types

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

import pytest  # noqa: E402

from perfbench import run  # noqa: E402
from perfbench.checks import CheckFailed, Expectation, Fingerprint  # noqa: E402
from perfbench.layers import PER_LAYER, coverage_short, op_coverage, tracing_overhead  # noqa: E402
from perfbench.tracing import Span, Tracer  # noqa: E402
from perfbench.workloads import WORKLOADS, Op  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    BENCHMARK = json.load(f)

FAKE_SPARK = types.SimpleNamespace(sparkContext=types.SimpleNamespace(setJobGroup=lambda *a: None))
GOLDEN = {"rows": 3, "digest": "a:b", "schema": "struct<doc_id:bigint>"}


class FakeWorkload:
    name = "fake"
    passes = 1
    aliases = {"things_per_s": "ops_per_s"}
    input_rows = 1000
    input_bytes = 10

    def __init__(self, ops):
        self._ops = ops

    def ops(self):
        return self._ops


def _fp(rows=3, digest="a:b") -> Fingerprint:
    return Fingerprint(rows, digest, GOLDEN["schema"])


def _op(name, result, golden=GOLDEN, exact=True) -> Op:
    def body(tracer):
        if isinstance(result, Exception):
            raise result
        return result

    return Op(name, body, Expectation(golden, exact=exact))


def _run(ops, passes=1):
    r = run.Run(run.parse_args(["--workload", "fake"]), scratch=os.devnull)
    r.note_scratch = lambda: None
    wl = FakeWorkload(ops)
    done = []
    for _ in range(passes):
        tracer = Tracer(FAKE_SPARK, "fake", False)
        r.run_pass(wl, tracer)
        done.append((tracer.wall(), tracer))
    res = {
        "setup": {"session_s": 1.0, "datagen_s": 0.5, "warmup_s": 2.0},
        "untraced": done,
        "traced": [],
        "wl": wl,
        "peak_rss_mb": {"python": 100.0, "jvm": 900.0, "total": 1000.0},
        "passes": passes,
    }
    return r, res


def test_printed_end_to_end_names_match_benchmark_json():
    _, res = _run([_op("a", _fp()), _op("b", _fp())])
    metrics, report = run.end_to_end(res)
    assert [m["name"] for m in BENCHMARK["end_to_end"]] == list(metrics)
    for m in BENCHMARK["end_to_end"]:
        assert metrics[m["name"]]["unit"] == m["unit"]
    assert report["aliases"] == {"things_per_s": metrics["ops_per_s"]["value"]}


def test_per_layer_names_match_benchmark_json():
    assert [m["name"] for m in BENCHMARK["per_layer"]] == list(PER_LAYER)
    for m in BENCHMARK["per_layer"]:
        assert PER_LAYER[m["name"]] == m["unit"]


def test_every_per_layer_metric_is_mapped_to_an_end_to_end_metric():
    with open(os.path.join(ROOT, "perfbench", "layer_map.json")) as f:
        layer_map = json.load(f)
    e2e = {m["name"] for m in BENCHMARK["end_to_end"]} | set(layer_map["report_only"])
    for name in PER_LAYER:
        entry = layer_map["per_layer"][name]
        assert entry["moves"] in e2e and entry["workload"] in WORKLOADS


def test_workloads_match_benchmark_json():
    assert [w["name"] for w in BENCHMARK["workloads"]] == list(WORKLOADS)
    for w in BENCHMARK["workloads"]:
        assert w["why"] == WORKLOADS[w["name"]].why


def test_wrong_golden_is_caught():
    with pytest.raises(CheckFailed):
        Expectation(GOLDEN, exact=True).check(_fp(digest="a:c"))
    with pytest.raises(CheckFailed):
        Expectation(GOLDEN, exact=True).check(_fp(rows=4))
    r, _ = _run([_op("ok", _fp()), _op("bad", _fp(digest="0:0"))])
    assert [f["op"] for f in r.failures] == ["bad"]


def test_invariants_at_other_seeds():
    wrong = dict(GOLDEN, digest="x:y")
    Expectation(wrong, exact=False).check(_fp())  # only the schema is compared
    with pytest.raises(CheckFailed, match="outside the input ids"):
        Expectation(GOLDEN, exact=False).check(Fingerprint(3, "a:b", GOLDEN["schema"], stray_ids=2))
    survived = Fingerprint(3, "a:b", GOLDEN["schema"], hits=1)
    with pytest.raises(CheckFailed, match="survived"):
        Expectation(GOLDEN, exact=False, planted="absent").check(survived)
    with pytest.raises(CheckFailed, match="found 1 of 2"):
        Expectation(GOLDEN, exact=False, planted="present", n_planted=2).check(survived)


def test_raising_op_counts_in_failed_frac():
    r, res = _run([_op("ok", _fp()), _op("boom", RuntimeError("boom")), _op("ok2", _fp())], passes=2)
    assert r.attempted == 6 and r.failed_frac() == 2 / 6
    assert {f["op"] for f in r.failures} == {"boom"}
    # the failed op still contributes its wall time as a sample
    metrics, report = run.end_to_end(res)
    assert report["samples"] == {"op_p50_s": 3, "op_p90_s": 3, "walls_per_op": 2}


def test_every_percentile_is_printed_with_its_sample_count():
    _, res = _run([_op(f"q{i}", _fp()) for i in range(7)], passes=3)
    metrics, report = run.end_to_end(res)
    percentiles = [k for k in {**metrics, **report["percentiles"]} if re.search(r"_p\d+_", k)]
    assert percentiles == ["op_p50_s", "op_p90_s"]
    for k in percentiles:
        assert report["samples"][k] == 7
    assert report["samples"]["walls_per_op"] == 3


def test_passes_beyond_the_measured_ones_add_no_samples():
    _, res = _run([_op(f"q{i}", _fp()) for i in range(4)], passes=3)
    res["passes"] = 2
    _, report = run.end_to_end(res)
    assert report["passes"] == 2 and report["samples"]["walls_per_op"] == 2


def test_span_coverage_shortfall_is_reported_per_op():
    tr = Tracer(FAKE_SPARK, "wl", traced=True)
    with tr.op("covered"):
        with tr.phase("build"):
            time.sleep(0.02)
    with tr.op("uncovered"):
        with tr.phase("build"):
            pass
        time.sleep(0.02)  # outside every phase span
    cov = dict(op_coverage([(tr.wall(), tr)]))
    assert cov["covered"] > 0.95 > cov["uncovered"]
    assert list(coverage_short(list(cov.items()))) == ["uncovered"]


def test_percentile_nearest_rank():
    assert run.percentile([5, 1, 4, 2, 3], 50) == 3
    assert run.percentile(list(range(1, 11)), 90) == 9
    assert run.percentile([7.0], 90) == 7.0


def test_span_coverage_and_labels():
    labels = []
    spark = types.SimpleNamespace(sparkContext=types.SimpleNamespace(setJobGroup=lambda g, d: labels.append(g)))
    tr = Tracer(spark, "wl", traced=True)
    with tr.op("q"):
        for phase in ("build", "plan", "exec"):
            with tr.phase(phase):
                pass
    (op,) = tr.ops()
    assert [c.name for c in tr.children(op)] == ["build", "plan", "exec"]
    assert labels == ["wl:q:build", "wl:q:plan", "wl:q:exec"]
    with pytest.raises(ValueError):
        with tr.op("q2"), tr.phase("sleep"):
            pass


def test_traced_run_twins_every_fourth_op_in_alternating_order():
    order = []

    def op(name):
        return Op(name, lambda tracer: order.append((name, tracer.traced)))

    r = run.Run(run.parse_args(["--workload", "fake", "--trace", "1"]), scratch=os.devnull)
    r.note_scratch = lambda: None
    twin, traced = Tracer(FAKE_SPARK, "fake-twin", False), Tracer(FAKE_SPARK, "fake", True)
    names = "abcdefghi"
    r.run_pass(FakeWorkload([op(n) for n in names]), traced, twin)
    assert run.TWIN_EVERY == 4
    assert [n for n, t in order if not t] == ["a", "e", "i"]
    assert order[:2] == [("a", False), ("a", True)] and order[5:7] == [("e", True), ("e", False)]
    assert [s.name for s in traced.ops()] == list(names)
    assert r.attempted == len(names) + 3


def _passed(walls: dict[str, float]) -> tuple[float, Tracer]:
    tr = Tracer(FAKE_SPARK, "wl", traced=False)
    for i, (name, s) in enumerate(walls.items()):
        tr.spans.append(Span(name, 0.0, s, None, i, f"wl:{name}"))
    return tr.wall(), tr


def test_tracing_overhead_scales_the_twinned_ops_to_the_pass():
    traced = _passed({"a": 1.1, "b": 2.1, "c": 3.1, "d": 4.1})
    twin = _passed({"a": 1.0})
    assert tracing_overhead([twin], [traced]) == pytest.approx(0.4)
