"""Self-test of the benchmark: the answer gate, span arithmetic, a tiny run
of every workload, a traced run, and the refusal to run without the engine.

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

from gate import Gate, page_of
from tracing import Tracer, coverage, layer_self_seconds, self_times

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(HERE, ".out")
with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    SPEC = json.load(f)


def test_gate_counts_a_wrong_answer():
    gate = Gate()
    right = page_of([(7, 2.5, 1), (3, 1.25, 2)])
    with gate.op("same page") as op:
        op.check(page_of([(7, 2.5, 1), (3, 1.25 + 1e-12, 2)]), right)
    with gate.op("wrong order") as op:
        op.check(page_of([(3, 1.25, 1), (7, 2.5, 2)]), right)
    with gate.op("wrong score") as op:
        op.check(page_of([(7, 2.5, 1), (3, 1.2501, 2)]), right)
    with gate.op("raises"):
        raise RuntimeError("boom")
    assert (gate.attempted, gate.failed) == (4, 3)
    assert gate.fail_frac == 0.75
    assert len(gate.errors) == 3


def test_page_of_orders_by_rank():
    assert page_of([(3, 1.0, 2), (7, 2.0, 1)]) == [(7, 2.0), (3, 1.0)]


def test_self_time_subtracts_children():
    spans = [
        {"id": 1, "parent": None, "layer": None, "start": 0.0, "end": 10.0},
        {"id": 2, "parent": 1, "layer": "a", "start": 1.0, "end": 4.0},
        {"id": 3, "parent": 1, "layer": "b", "start": 3.0, "end": 6.0},
        {"id": 4, "parent": 3, "layer": "a", "start": 4.0, "end": 5.0},
    ]
    st = self_times(spans)
    assert st[1] == pytest.approx(5.0)  # children cover [1, 6]
    assert st[3] == pytest.approx(2.0)
    assert layer_self_seconds(spans) == pytest.approx({"a": 4.0, "b": 2.0})
    assert coverage(spans, 0.0, 10.0) == pytest.approx(0.5)


def test_tracer_links_parents_and_query_ids():
    tr = Tracer(True)
    with tr.span("query", qid=5):
        with tr.span("wand_topk", "share_spark.query.wand"):
            pass
    inner, outer = tr.spans
    assert inner["parent"] == outer["id"] and inner["qid"] == 5
    assert Tracer(False).span("x") is Tracer(False).span("y")


def _run(*args, cwd=ROOT):
    proc = subprocess.run(
        [sys.executable, os.path.join(cwd, "perfbench", "run.py"), *args],
        cwd=cwd, capture_output=True, text=True, timeout=600,
    )
    return proc


def _result(proc):
    assert proc.returncode == 0, proc.stderr[-3000:]
    return json.loads(proc.stdout.strip().splitlines()[-1])


TINY = ["--seed", "3", "--seconds", "2", "--docs", "600"]


@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
def test_every_workload_prints_every_end_to_end_metric(workload):
    res = _result(_run("--workload", workload, "--trace", "0", *TINY))
    assert res["correct"] and res["failed"] == 0 and res["attempted"] > 0
    want = {m["name"]: m["unit"] for m in SPEC["end_to_end"]}
    got = {k: v["unit"] for k, v in res["metrics"].items()}
    assert got == want
    assert all(v["value"] > 0 for v in res["metrics"].values())


def test_traced_run_prints_layers_and_writes_spans():
    workload = SPEC["workloads"][0]["name"]
    res = _result(_run("--workload", workload, "--trace", "1", *TINY))
    want = {m["name"]: m["unit"] for m in SPEC["per_layer"]}
    assert {k: v["unit"] for k, v in res["metrics"].items()} == want
    assert res["metrics"]["op_fail_frac"]["value"] == 0.0
    with open(os.path.join(OUT, f"spans-{workload}-s3.jsonl")) as f:
        spans = [json.loads(line) for line in f]
    ids = {s["id"] for s in spans}
    children = [s for s in spans if s["parent"] is not None]
    assert children and all(s["parent"] in ids for s in children)
    layers = {s["layer"] for s in spans if s["layer"]}
    assert {"share_spark.query.wand", "share_spark.query.serve",
            "share_spark.index.build", "share_spark.streaming.corpus",
            "share_spark.streaming.incremental"} <= layers
    assert any(s["qid"] is not None and s["layer"] for s in spans)


def test_refuses_to_run_without_the_engine(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns(".*", "__pycache__"))
    proc = _run("--workload", SPEC["workloads"][0]["name"], "--trace", "0",
                *TINY, cwd=str(tmp_path))
    assert proc.returncode != 0
    assert proc.stdout.strip() == ""
