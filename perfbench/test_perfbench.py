"""The benchmark's own tests: generator determinism, the event-log parser on
a canned log, the trace arithmetic, and a tiny-scale smoke run of each
workload. Run with ``python3 -m pytest perfbench -q`` from the repo root."""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

from mannheimsearchjoinsengine_spark import datagen
from perfbench import inputs, trace

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


@pytest.mark.parametrize(
    "make",
    [
        lambda seed: inputs.narrow_transcripts(seed, 800),
        lambda seed: inputs.wide_transcripts(seed, 800, 90),
        lambda seed: inputs.documents(seed, 50),
        lambda seed: inputs.embeddings(seed, 50),
    ],
    ids=["narrow", "wide", "documents", "embeddings"],
)
def test_generators_deterministic_per_seed(make):
    assert make(1).equals(make(1))
    assert not make(1).equals(make(2))


def test_generators_restore_datagen():
    before = (datagen.SEED, list(datagen.CITY_PRE))
    inputs.wide_transcripts(3, 200, 30)
    assert (datagen.SEED, list(datagen.CITY_PRE)) == before
    # the shipped distribution is the seed-42 draw
    assert inputs.narrow_transcripts(datagen.SEED, 600).equals(datagen.generate_transcripts(600))


def test_wide_vocabulary_in_grammar():
    from mannheimsearchjoinsengine_spark.refimpl import oracle

    t = inputs.wide_transcripts(5, 3000, 300).to_pylist()
    subjects = set()
    for r in t:
        if r["role"] == "assistant":
            m = oracle.ASSIST_RE.match(r["text"])
            assert m, r["text"]
            subjects.add(oracle.norm_key(m.group(2)))
    assert len(subjects) > 150  # far more than the shipped 150 entities' keys


def _canned_log() -> list[str]:
    def job(jid, stages, desc, t):
        props = {"spark.job.description": desc} if desc is not None else {}
        return {"Event": "SparkListenerJobStart", "Job ID": jid, "Submission Time": t,
                "Stage IDs": stages, "Properties": props}

    def task(sid, run_ms, cpu_ns, gc_ms, shuffle, spill=0):
        return {"Event": "SparkListenerTaskEnd", "Stage ID": sid, "Task Metrics": {
            "Executor Run Time": run_ms, "Executor CPU Time": cpu_ns, "JVM GC Time": gc_ms,
            "Shuffle Write Metrics": {"Shuffle Bytes Written": shuffle},
            "Disk Bytes Spilled": spill}}

    def plan(name, *children):
        return {"nodeName": name, "children": list(children)}

    events = [
        job(0, [0], "kg-stage:cells", 10_000),
        job(1, [1, 2], "kg-stage:cells", 10_100),
        job(2, [2, 3], "bench:kg_probe_topk", 10_200),  # stage 2 ran in job 1
        job(3, [4], "Listing leaf files and directories for 62 paths:<br/>"
                    "file:/w/ledger-x/triples/subj_bucket=45, ...", 10_300),
        job(4, [5], None, 10_400),
        job(5, [6], "kg-stage:resolved", 99_000),  # outside the window
        job(6, [7], "bench:run_pipeline", 10_010),
        job(7, [8], "bench:count_triples", 10_500),
        job(8, [9], "bench:check", 10_600),  # a bench label no layer owns
        task(0, 1000, 5e8, 10, trace.MB),
        task(0, 500, 2e8, 0, trace.MB),
        task(2, 250, 1e8, 0, 0, spill=2 * trace.MB),
        task(3, 100, 1e8, 0, 3 * trace.MB),
        task(6, 9999, 9e9, 0, 0),
        {"Event": "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart",
         "executionId": 7, "time": 10_050,
         "sparkPlanInfo": plan("AdaptiveSparkPlan", plan("Exchange"))},
        {"Event": "org.apache.spark.sql.execution.ui.SparkListenerSQLAdaptiveExecutionUpdate",
         "executionId": 7, "sparkPlanInfo": plan(
             "AdaptiveSparkPlan",
             plan("ShuffleQueryStage", plan("Exchange")),
             plan("BroadcastQueryStage", plan("BroadcastExchange")),
             plan("ReusedExchange"))},
    ]
    return [json.dumps(e) for e in events]


def test_event_log_parser_attributes_jobs():
    log = trace.EventLog(_canned_log())
    owners, unattributed = trace.attribute_jobs(log, 10.0, 11.0)
    assert dict(owners) == {
        "stage.cells": [0, 1],
        "query.kg_probe_topk": [2],
        "stage.triples": [3],
        "pipeline.ingest": [6],
        "pipeline.readback": [7],
    }
    assert unattributed == 2  # job 4 has no description, job 8 no owner
    cells = log.job_totals(owners["stage.cells"])
    assert cells["jobs"] == 2
    assert cells["run_s"] == pytest.approx(1.75)
    assert cells["cpu_s"] == pytest.approx(0.8)
    assert cells["gc_s"] == pytest.approx(0.01)
    assert cells["shuffle_write_mb"] == pytest.approx(2.0)
    assert cells["spill_mb"] == pytest.approx(2.0)
    probe = log.job_totals(owners["query.kg_probe_topk"])
    assert probe["shuffle_write_mb"] == pytest.approx(3.0)
    # the final adaptive plan counts; the reused exchange does not
    assert log.exchanges_in(10.0, 11.0) == (1, 1)


def test_union_and_critical_path():
    assert trace.union_s([(0, 2), (1, 3), (5, 6)]) == 4
    d = {s: 1.0 for s in trace.STAGES}
    d["clusters"] = 5.0
    # cells -> clusters -> triples
    assert trace.critical_path_s(d) == 7.0


def test_benchmark_json_lists_every_metric():
    spec = _spec()
    per_layer = {m["name"]: (m["unit"], m["better"]) for m in spec["per_layer"]}
    assert per_layer == trace.per_layer_specs()
    from perfbench import workloads

    assert sorted(w["name"] for w in spec["workloads"]) == sorted(workloads.WORKLOADS)


def test_exits_nonzero_without_the_package(tmp_path):
    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "wide_fuzzy", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120, env=env,
    )
    assert p.returncode != 0
    assert '"correct"' not in p.stdout


# workload sizes for the smoke runs: small enough for seconds per unit
_TINY = {
    "wide_fuzzy": {"turns": 1500, "entities": 150},
    "operator_queries": {"transcripts": 1000, "docs": 60, "vecs": 40},
}
_SMOKE = """
import json, os, sys, tempfile
work = tempfile.mkdtemp(dir=sys.argv[1])
os.environ["SJSPARK_DATA_DIR"] = os.path.join(work, "transcripts")
from perfbench import workloads
cls = workloads.WORKLOADS[sys.argv[2]]
for k, v in json.loads(sys.argv[3]).items():
    setattr(cls, k, v)
print(json.dumps(workloads.run(sys.argv[2], 7, 0, sys.argv[4] == "1", work)))
"""


@pytest.mark.parametrize("traced", [0, 1], ids=["untraced", "traced"])
@pytest.mark.parametrize("name", sorted(_TINY))
def test_smoke_run(name, traced, tmp_path):
    p = subprocess.run(
        [sys.executable, "-c", _SMOKE, str(tmp_path), name, json.dumps(_TINY[name]), str(traced)],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    assert p.returncode == 0, p.stderr[-3000:]
    result = json.loads(p.stdout.strip().splitlines()[-1])
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1
    spec = _spec()
    wanted = spec["per_layer"] if traced else spec["end_to_end"]
    assert {k: v["unit"] for k, v in result["metrics"].items()} == {
        m["name"]: m["unit"] for m in wanted
    }
    if traced:
        m = {k: v["value"] for k, v in result["metrics"].items()}
        assert m["trace.unattributed_jobs"] == 0
        assert m["pipeline.jobs"] > 0
        if name == "wide_fuzzy":
            assert all(m[f"stage.{s}.jobs"] > 0 for s in trace.STAGES)
            assert m["catalog.resumed_stages"] == 7
            assert m["pipeline.ingest.jobs"] > 0 and m["pipeline.readback.jobs"] > 0
            assert m["canonical.lsh_candidates"] >= m["canonical.lsh_verified"] > 0
        else:
            assert all(m[f"query.{q}.jobs"] > 0 for q in trace.QUERIES)
        # the stage or query spans plus the driver overhead make the wall
        assert m["pipeline.driver_overhead_s"] >= 0
        assert m["pipeline.driver_overhead_s"] <= m["pipeline.wall_s"]
    else:
        assert all(v["value"] > 0 for v in result["metrics"].values())
