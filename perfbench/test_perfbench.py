"""Tests of the benchmark's own code; none of them starts Spark.

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import gen  # noqa: E402
import procstat  # noqa: E402
import run  # noqa: E402
from spans import Span, Tracer, self_times  # noqa: E402

SPEC = os.path.join(os.path.dirname(HERE), "BENCHMARK.json")


def _tree_bytes(root: str) -> dict[str, bytes]:
    out = {}
    for dirpath, _, files in os.walk(root):
        for name in files:
            path = os.path.join(dirpath, name)
            with open(path, "rb") as f:
                out[os.path.relpath(path, root)] = f.read()
    return out


MAKERS = {
    "credit": lambda d, seed: gen.make_credit(d, seed, rows=2_000, n_files=2),
    "score": lambda d, seed: gen.make_credit_score(d, seed, rows=2_000, n_files=2),
    "corpus": lambda d, seed: gen.make_corpus(d, seed, docs=300, n_files=2),
}


@pytest.mark.parametrize("kind", sorted(MAKERS))
def test_same_seed_same_bytes_other_seed_other_bytes(tmp_path, kind):
    make = MAKERS[kind]
    m1 = make(str(tmp_path / "a"), 7)
    m2 = make(str(tmp_path / "b"), 7)
    make(str(tmp_path / "c"), 8)
    a, b, c = (_tree_bytes(str(tmp_path / x)) for x in "abc")
    assert a and a == b
    assert m1 == m2
    assert a != c


def test_credit_manifest_records_the_exercised_properties(tmp_path):
    m = gen.make_credit(str(tmp_path), 3, rows=20_000, n_files=2)
    assert m["rows"] == 20_000
    # two features above the quantize guard's auto cap, six below it
    above = [c for c, n in m["distinct"].items() if n > 8192]
    assert sorted(above) == ["f0", "f1"]
    assert all(6 <= m["distinct"][c] <= 3000 for c in gen.CREDIT_FEATURES[2:])
    assert sorted(c for c, s in m["null_share"].items() if s > 0) == sorted(gen.NULL_FEATURES)
    assert 0.05 <= m["bad_rate"] <= 0.10


def test_corpus_manifest_records_injected_duplicates(tmp_path):
    m = gen.make_corpus(str(tmp_path), 3, docs=1_000, n_files=2)
    ids = [i for g in m["exact_dup_groups"] + m["near_dup_chains"] for i in g]
    assert len(ids) == len(set(ids))
    assert all(0 <= i < m["docs"] for i in ids)
    assert m["exact_dup_docs"] > 0 and m["near_dup_docs"] > 0 and m["pii_docs"] > 0
    assert 2 <= m["max_chain"] <= gen.MAX_CHAIN


def _span(name, start, end, parent):
    return Span(name, start, end, parent, "run0", name)


def test_self_time_subtracts_merged_children():
    spans = [
        _span("root", 0.0, 10.0, None),
        _span("a", 1.0, 4.0, 0),
        _span("b", 3.0, 6.0, 0),  # overlaps a: covered interval is [1, 6]
        _span("a.child", 2.0, 3.0, 1),
        _span("late", 9.0, 12.0, 0),  # clipped to the parent's end
    ]
    assert self_times(spans) == pytest.approx([10 - 5 - 1, 3 - 1, 3, 1, 3])


def test_self_time_of_a_leaf_is_its_wall_time():
    assert self_times([_span("x", 2.0, 2.5, None)]) == [pytest.approx(0.5)]


def test_tracer_records_parents_and_run_ids():
    tracer = Tracer()
    tracer.run_id = "run0"
    with tracer.span("iteration"):
        with tracer.span("dedup.keep_best"):
            with tracer.span("dedup.cc"):
                pass
    tracer.run_id = "run1"
    with tracer.span("iteration"):
        pass
    assert [s.parent for s in tracer.spans] == [None, 0, 1, None]
    second = tracer.run("run1")
    assert [s.name for s, _ in second] == ["iteration"]
    dumped = tracer.dump()
    assert {"name", "start", "end", "parent", "run_id", "self_s"} <= set(dumped[0])


def test_benchmark_json_names_every_metric_the_runner_emits():
    with open(SPEC) as f:
        spec = json.load(f)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.layer_metrics()
    from workloads import WORKLOADS

    assert {w["name"]: w["why"] for w in spec["workloads"]} == {
        name: cls.why for name, cls in WORKLOADS.items()
    }
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    assert bounds["setup_s"] == max(bounds.values())
    assert len(spec["per_layer"]) <= 128


@pytest.mark.parametrize("units", [run.END_TO_END, run.layer_metrics()])
def test_result_line_schema(units):
    values = {k: 1.5 for k in units}
    out = json.loads(run.result_line(True, 3, 0, values, units))
    assert set(out) == {"correct", "attempted", "failed", "metrics"}
    assert set(out["metrics"]) == set(units)
    assert all(set(v) == {"value", "unit"} for v in out["metrics"].values())


def test_every_layer_span_reports_every_counter():
    names = run.layer_metrics()
    for span in (
        "fit", "fit.summary", "transform.prepass", "transform.encode", "drift.psi",
        "text", "dedup.digest", "dedup.minhash", "dedup.cc", "dedup.keep_best",
        "sampling",
    ):
        for counter in (
            "wall_s", "self_s", "jobs", "tasks", "task_s", "idle_core_s",
            "task_skew", "shuffle_bytes",
        ):
            assert f"{span}.{counter}" in names
    for extra in (
        "session.start_s", "algo.wall_s", "fit.summary_rows", "fit.py_bytes",
        "dedup.candidate_pairs", "dedup.verified_pairs", "dedup.pair_yield",
        "trace.job_s", "trace.layer_self_s", "trace.overhead_s",
    ):
        assert extra in names


def test_process_tree_counters():
    before = procstat.tree_cpu_s()
    sum(i * i for i in range(200_000))
    assert procstat.tree_cpu_s() >= before
    assert procstat.tree_rss_bytes() > 0
    with procstat.PeakRss(interval_s=0.01) as rss:
        pass
    assert rss.peak > 0
