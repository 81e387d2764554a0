"""Self-test of the benchmark.

    python3 -m pytest perfbench/tests -q

The fast tests check that ``BENCHMARK.json`` and the harness agree, that
every listed face is registered and that the tracer keeps its span stack.
The slow ones run etl_star untraced and both workloads traced, for their
shortest length at sf0.001, and check that every metric named in
``BENCHMARK.json`` is printed with its unit; for the traced runs, that
every span closed in order, that the per-layer self times of each face sum
to no more than its span and that each face shows the layers it calls.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path[:0] = [BENCH, ROOT]

import run  # noqa: E402
import workloads as W  # noqa: E402
from spans import Tracer  # noqa: E402

SPEC = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))

# Layers each face must show spans of, beside ``sources.load_table``.
CALLS = {
    "mdx_cube_query": "mdx", "mdx_rollup_query": "mdx",
    "incremental_aggregate_rollup": "operators.aggnav",
    "cube_measures_by_dims": "operators.olap",
    "grouping_sets_measures": "operators.olap",
    "csv_repair_roundtrip": "sources.read",
    "parquet_sink_roundtrip": "sources.write",
    "dim_build_surrogate": "operators.surrogate",
    "scd2_user_event_history": "operators.scd",
    "filter_split_union": "operators.star",
    "linreg_trend_forecast": "ml", "exact_dedup": "operators.dedup",
    "centroid_cosine_matrix": "operators.similarity",
    "rebalanced_mix": "operators.curation",
}


def test_spec_matches_harness():
    assert [w["name"] for w in SPEC["workloads"]] == list(W.WORKLOADS)
    assert {m["name"]: m["unit"] for m in SPEC["end_to_end"]} == run.E2E_UNITS
    assert {m["name"]: m["unit"] for m in SPEC["per_layer"]} == run.TRACE_UNITS


def test_every_face_is_registered():
    from datawarehousefinal_spark import queries as Q

    for wl in W.WORKLOADS.values():
        for face in wl["faces"]:
            assert face in Q.QUERIES, face
            assert face in Q.ORACLES, face


def test_self_times_fit_in_span():
    tr = Tracer()
    tr.face = "f"
    root = tr.begin("queries", "f")
    child = tr.begin("mdx", "parse_mdx")
    tr.end(tr.begin("sources.load_table", "load_table"))
    tr.end(child)
    tr.end(tr.begin("olap", "cube_measures"))
    tr.end(root)
    total_self = sum(s.self_s for s in tr.spans)
    assert all(s.self_s >= 0 for s in tr.spans)
    assert total_self <= tr.spans[root].dur + 1e-9
    assert tr.open_spans == 0 and tr.unclosed() == 0


def test_tracer_catches_unbalanced_spans():
    tr = Tracer()
    outer = tr.begin("queries", "f")
    tr.begin("mdx", "parse_mdx")
    assert tr.open_spans == 2 and tr.unclosed() == 2
    with pytest.raises(RuntimeError):
        tr.end(outer)


def _run(workload: str, trace: int) -> dict:
    cmd = [sys.executable, os.path.join(BENCH, "run.py"), "--workload",
           workload, "--seed", "7", "--seconds", "0", "--trace", str(trace),
           "--sf", "0.001"]
    out = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True,
                         timeout=600, check=True)
    return json.loads(out.stdout.strip().splitlines()[-1])


@pytest.mark.parametrize("workload,trace", [
    ("etl_star", 0), ("etl_star", 1), ("olap_cube", 1),
])
def test_one_pass_emits_every_metric(workload, trace):
    kind = "per_layer" if trace else "end_to_end"
    res = _run(workload, trace)
    assert res["correct"] and res["failed"] == 0 and res["attempted"] >= 1
    want = {m["name"]: m["unit"] for m in SPEC[kind]}
    got = {k: v["unit"] for k, v in res["metrics"].items()}
    assert got == want
    assert all(isinstance(v["value"], (int, float)) for v in res["metrics"].values())
    if trace:
        rec = json.load(open(os.path.join(ROOT, ".perfbench", f"{workload}-s7-t1.json")))
        assert rec["unclosed_spans"] == 0
        spans: dict[str, float] = {}  # a face's spans over every traced pass
        for p in rec["passes"]:
            for r in p["records"] if p["traced"] else ():
                assert r["open_spans"] == 0, r["face"]
                spans[r["face"]] = (
                    spans.get(r["face"], 0.0) + r["construct_s"] + r["execute_s"]
                )
        assert set(rec["face_layer_self_s"]) == set(W.WORKLOADS[workload]["faces"])
        for face, layers in rec["face_layer_self_s"].items():
            assert sum(layers.values()) <= spans[face] + 1e-6, face
            assert {"sources.load_table", CALLS[face]} <= set(layers), face
