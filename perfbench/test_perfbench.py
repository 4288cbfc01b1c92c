"""Self-test of the benchmark at toy scale.

    python3 -m pytest perfbench/test_perfbench.py -q

Runs every workload in one Spark session and checks that each emits every
metric BENCHMARK.json names, with its unit, that the oracle gate passes,
and that span self-time is a parent's duration minus the union of its
children."""

from __future__ import annotations

import json
import os

import pytest

from perfbench.layers import metric_names
from perfbench.run import ROOT, local_cpus, run_workload, start_spark, stop_spark
from perfbench.trace import Span, covered, self_time
from perfbench.workloads import WORKLOADS


def _spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def _units(metrics: list[dict]) -> dict:
    return {m["name"]: m["unit"] for m in metrics}


def test_covered_is_the_union_of_clipped_intervals():
    assert covered(0, 10, []) == 0
    # overlapping, nested, touching and out-of-window intervals
    # [1, 6] + [0, 0.5] + [9, 10]
    assert covered(0, 10, [(1, 3), (2, 5), (2.5, 4), (5, 6), (-3, 0.5), (9, 12),
                           (11, 15)]) == pytest.approx(5 + 0.5 + 1)


def test_self_time_subtracts_the_union_of_children():
    parent = Span(0, "p", "r", None, start=0.0, end=10.0)
    kids = [Span(1, "a", "r", 0, start=1.0, end=4.0),
            Span(2, "b", "r", 0, start=3.0, end=6.0),  # overlaps a
            Span(3, "c", "r", 0, start=9.0, end=11.0)]  # runs past the parent
    assert self_time(parent, kids) == pytest.approx(10 - (5 + 1))
    assert self_time(parent, []) == pytest.approx(10)


def test_spec_matches_the_emitters():
    spec = _spec()
    assert [w["name"] for w in spec["workloads"]] == list(WORKLOADS)
    assert list(_units(spec["per_layer"])) == metric_names()
    e2e = _units(spec["end_to_end"])
    assert e2e["setup_s"] == "s"
    assert max(m["bound"] for m in spec["end_to_end"]) == next(
        m["bound"] for m in spec["end_to_end"] if m["name"] == "setup_s")


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    s = start_spark(min(4, local_cpus()), str(tmp_path_factory.mktemp("spark")))
    yield s
    stop_spark(s)


@pytest.mark.parametrize("workload", list(WORKLOADS))
@pytest.mark.parametrize("trace", [False, True])
def test_workload_emits_every_metric_and_passes_the_gate(
        spark, tmp_path, workload, trace):
    spec = _spec()
    out = run_workload(spark, workload, seed=3, seconds=0.1, trace=trace,
                       scale="toy", work=str(tmp_path / "work"),
                       cache=str(tmp_path / "cache"))
    res = out["result"]
    assert res["correct"] and res["failed"] == 0, out["report"]["problems"]
    assert res["attempted"] >= 1
    want = _units(spec["per_layer"] if trace else spec["end_to_end"])
    got = {k: v["unit"] for k, v in res["metrics"].items()}
    assert got == want
    assert all(isinstance(v["value"], (int, float)) for v in res["metrics"].values())
    if not trace:
        assert all(v["value"] > 0 for v in res["metrics"].values())
    else:
        m = res["metrics"]
        ingest = "stream.replay_batch" if workload == "bulk_replay" else \
            "stream.process_batch"
        assert m[f"{ingest}.calls"]["value"] >= 1
        assert m[f"{ingest}.cpu_ms"]["value"] > 0
        assert m["sources.scan.calls"]["value"] >= 1
        if workload == "stream_sync":
            units = {k: v["unit"] for k, v in out["report"]["workload_only"].items()}
            assert units == {
                "cycle_plain_p50_s": "s", "cycle_minor_p50_s": "s",
                "cycle_major_p50_s": "s", "changes_s": "s", "read_route_s": "s",
                "multiget_p50_ms": "ms", "lookup_p50_ms": "ms", "lookup_p75_ms": "ms"}
            for layer in ("sink.compact_minor", "sink.compact_major",
                          "search_sync.sync_once", "sink.lookup",
                          "sink.lookup_many", "sink.read_changes", "sink.read_route"):
                assert m[f"{layer}.calls"]["value"] >= 1, layer
                assert m[f"{layer}.jobs"]["value"] >= 1, layer
