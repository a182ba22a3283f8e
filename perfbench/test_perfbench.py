"""The benchmark's own tests: every workload on a tiny input, traced.

    python3 -m pytest perfbench -q

Each case asserts that the output matched the workload's oracle, that every
declared metric is printed by name with its unit, and that every span of
the traced run lies inside its parent.
"""

from __future__ import annotations

import argparse
import copy
import json
import os
import shutil

import pytest

from perfbench import run
from perfbench.workloads import WORKLOADS

TINY = {"kb_build": 60, "kb_features": 20, "kb_hotdoc": 64, "near_dup": 120}


def _benchmark_json() -> dict:
    with open(os.path.join(run.ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


@pytest.mark.parametrize("name", sorted(WORKLOADS))
def test_tiny_workload(name, capsys):
    wl = copy.copy(WORKLOADS[name])
    wl.n_docs = TINY[name]
    seed = 3
    args = argparse.Namespace(workload=name, seed=seed, seconds=0, trace=1)
    work = os.path.join(run.ROOT, ".perfbench_work", f"test-{name}")
    try:
        assert run.bench(wl, args, work) == 0
    finally:
        shutil.rmtree(work, ignore_errors=True)
    out = capsys.readouterr().out.splitlines()
    result = json.loads(out[-1])
    assert result["correct"] and result["failed"] == 0
    assert result["attempted"] >= 1

    # per-layer metrics: every declared name, with its declared unit
    declared = {m["name"]: m["unit"] for m in _benchmark_json()["per_layer"]}
    got = {k: v["unit"] for k, v in result["metrics"].items()}
    assert {k: got.get(k) for k in declared} == declared
    # end-to-end metrics: each printed by name with its unit in the table
    table = "\n".join(out[:-1])
    for m in _benchmark_json()["end_to_end"]:
        assert any(line.split()[:1] == [m["name"]] and m["unit"] in line.split()
                   for line in out[:-1]), (m, table)

    spans_path = os.path.join(run.ROOT, ".perfbench_work",
                              f"spans-{name}-{seed}.jsonl")
    with open(spans_path) as f:
        spans = [json.loads(line) for line in f]
    os.remove(spans_path)
    assert spans and spans[0]["name"] == "run"
    by_id = {s["id"]: s for s in spans}
    for s in spans:
        assert s["end"] is not None and s["start"] <= s["end"]
        if s["parent"] is not None:
            p = by_id[s["parent"]]
            assert p["start"] <= s["start"] and s["end"] <= p["end"], s


def test_hotdoc_reference_matches_fused_stage():
    """The driver-side reference of kb_hotdoc equals the fused stage run
    in Spark with no mention cap, and the hot document does overflow."""
    from fonduer_spark.candidates_fused import (extract_candidates_fused,
                                                same_row_py)
    from fonduer_spark.corpus import load_docs
    from fonduer_spark.pipeline import default_mention_specs

    wl = WORKLOADS["kb_hotdoc"]
    work = os.path.join(run.ROOT, ".perfbench_work", "test-reference")
    spark = None
    try:
        case = wl.make_case(4, work)
        want = wl.expected(case)
        spark = run.start_session()
        fused = extract_candidates_fused(
            load_docs(spark, case.sf_dir), default_mention_specs(),
            "part_temp", "part", "temp", throttler=same_row_py,
            render=wl.render(case), max_mentions_per_doc=10_000_000)
        got = sorted(r[0] for r in fused.select("candidate_sid").collect())
    finally:
        if spark is not None:
            run.stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
    assert got == want and len(want) > 0


def test_inputs_are_seeded():
    from perfbench.inputs import make_documents

    a, b = make_documents(5, 300), make_documents(5, 300)
    assert a.equals(b)
    assert not a.equals(make_documents(6, 300))
    ids = a["doc_id"]
    assert ids.is_monotonic_increasing and ids.max() < 5000
    assert a["text"].str.endswith(" dup").any()
