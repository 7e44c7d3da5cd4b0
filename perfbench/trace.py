"""Per-layer trace: spans recorded around calls into each layer, joined with
Spark's own event log (TaskEnd → Stage → JobStart → job description).

The pipeline labels every job of a stage ``kg-stage:<stage>``
(``plans/pipeline.py``); the benchmark labels its own calls ``bench:<name>``.
Nothing here imports the package's internals beyond ``StageLedger``, whose
``materialize`` method is wrapped while a traced run is in flight.
"""

from __future__ import annotations

import contextlib
import json
import time
from collections import defaultdict

# the pipeline DAG (plans/pipeline.py): stage -> stages it reads
STAGE_DEPS = {
    "cells": (),
    "mentions": (),
    "postings": ("cells",),
    "attributes": ("cells",),
    "pred_merge_map": ("cells",),
    "clusters": ("cells",),
    "join_results": ("cells", "mentions"),
    "resolved": ("cells", "pred_merge_map"),
    "pred_dtypes": ("cells", "pred_merge_map"),
    "triples": ("resolved", "clusters", "pred_dtypes"),
}
STAGES = tuple(STAGE_DEPS)
QUERIES = (
    "kg_probe_topk",
    "kg_infogather_tsp",
    "kg_fuzzy_pairs",
    "doc_ngram_jaccard_top",
    "emb_near_dup",
)
BENCH_PREFIX = "bench:"
STAGE_PREFIX = "kg-stage:"
# benchmark labels that own Spark jobs in a timed unit, other than a query's:
# ``run_pipeline`` is set just before the call, so it labels the pipeline's
# own jobs before its first stage (the input read); ``count_triples`` labels
# the count of the triple table that ends a pipeline unit
BENCH_OWNERS = {"run_pipeline": "pipeline.ingest", "count_triples": "pipeline.readback"}
MB = 1024 * 1024

# name -> (unit, better); the order is the order BENCHMARK.json lists them
_STAGE_METRICS = {
    "span_s": ("s", "lower"),
    "exec_cpu_s": ("s", "lower"),
    "exec_run_s": ("s", "lower"),
    "gc_s": ("s", "lower"),
    "shuffle_write_mb": ("MB", "lower"),
    "jobs": ("count", "lower"),
    "rows_out": ("rows", "lower"),
}
_QUERY_METRICS = {
    "wall_s": ("s", "lower"),
    "exec_cpu_s": ("s", "lower"),
    "shuffle_write_mb": ("MB", "lower"),
    "jobs": ("count", "lower"),
}
_OTHER_METRICS = {
    "canonical.lsh_candidates": ("pairs", "lower"),
    "canonical.lsh_verified": ("pairs", "higher"),
    "canonical.lsh_yield": ("ratio", "higher"),
    "catalog.bytes_written_mb": ("MB", "lower"),
    "catalog.files_written": ("count", "lower"),
    "catalog.resume_wall_s": ("s", "lower"),
    "catalog.resumed_stages": ("count", "higher"),
    "catalog.rebuilt_stages": ("count", "lower"),
    "catalog.resume_check_s": ("s", "lower"),
    "catalog.ckpt_bytes_per_input_byte": ("ratio", "lower"),
    "pipeline.wall_s": ("s", "lower"),
    "pipeline.driver_overhead_s": ("s", "lower"),
    "pipeline.critical_path_s": ("s", "lower"),
    "pipeline.stage_span_sum_s": ("s", "lower"),
    "pipeline.core_busy_frac": ("ratio", "higher"),
    "pipeline.jobs": ("count", "lower"),
    "pipeline.shuffle_exchanges": ("count", "lower"),
    "pipeline.broadcast_exchanges": ("count", "lower"),
    "pipeline.spill_mb": ("MB", "lower"),
    "pipeline.ingest.jobs": ("count", "lower"),
    "pipeline.ingest.exec_cpu_s": ("s", "lower"),
    "pipeline.readback.jobs": ("count", "lower"),
    "pipeline.readback.exec_cpu_s": ("s", "lower"),
    "session.start_s": ("s", "lower"),
    "session.warmup_s": ("s", "lower"),
    "trace.overhead_frac": ("ratio", "lower"),
    "trace.unattributed_jobs": ("count", "lower"),
}


def per_layer_specs() -> dict[str, tuple[str, str]]:
    """Every per-layer metric name -> (unit, better)."""
    specs = {}
    for s in STAGES:
        specs.update({f"stage.{s}.{m}": v for m, v in _STAGE_METRICS.items()})
    specs.update(_OTHER_METRICS)
    for q in QUERIES:
        specs.update({f"query.{q}.{m}": v for m, v in _QUERY_METRICS.items()})
    return specs


class Spans:
    """In-memory span recorder: (name, start, end, attrs), times in epoch s."""

    def __init__(self) -> None:
        self.items: list[tuple[str, float, float, dict]] = []

    @contextlib.contextmanager
    def span(self, name: str):
        """Time the block; it may fill the yielded dict with attributes."""
        attrs: dict = {}
        t0 = time.time()
        try:
            yield attrs
        finally:
            self.items.append((name, t0, time.time(), attrs))

    def named(self, prefix: str) -> dict[str, tuple[float, float, dict]]:
        return {n[len(prefix):]: (a, b, at) for n, a, b, at in self.items if n.startswith(prefix)}


@contextlib.contextmanager
def ledger_spans(spans: Spans):
    """Record a ``stage:<name>`` span around every ``StageLedger.materialize``
    call; ``resumed`` is true when the call reused the ledger entry."""
    from mannheimsearchjoinsengine_spark.sources.catalog import StageLedger

    original = StageLedger.materialize

    def materialize(self, stage, *args, **kwargs):
        before = self.entries.get(stage)
        with spans.span(f"stage:{stage}") as attrs:
            out = original(self, stage, *args, **kwargs)
            attrs["resumed"] = self.entries.get(stage) is before and before is not None
        return out

    StageLedger.materialize = materialize
    try:
        yield
    finally:
        StageLedger.materialize = original


def union_s(intervals) -> float:
    total, end = 0.0, None
    for a, b in sorted(intervals):
        if end is None or a > end:
            total += b - a
            end = b
        elif b > end:
            total += b - end
            end = b
    return total


def critical_path_s(durations: dict[str, float]) -> float:
    """Longest chain of stage spans through the pipeline DAG."""
    memo: dict[str, float] = {}

    def finish(s: str) -> float:
        if s not in memo:
            memo[s] = durations.get(s, 0.0) + max(
                (finish(d) for d in STAGE_DEPS[s]), default=0.0
            )
        return memo[s]

    return max((finish(s) for s in STAGES), default=0.0)


class EventLog:
    """The parts of an uncompressed, non-rolling Spark event log the trace
    needs: jobs with their description and stages, per-stage task sums and
    the final physical plan of each SQL execution."""

    def __init__(self, lines) -> None:
        self.jobs: dict[int, dict] = {}
        self.stage_job: dict[int, int] = {}
        self.stage_tasks: dict[int, dict[str, float]] = defaultdict(lambda: defaultdict(float))
        self.plans: dict[int, tuple[int, dict]] = {}
        for line in lines:
            e = json.loads(line)
            kind = e["Event"]
            if kind == "SparkListenerJobStart":
                jid = e["Job ID"]
                self.jobs[jid] = {
                    "desc": (e.get("Properties") or {}).get("spark.job.description") or "",
                    "submit_ms": e["Submission Time"],
                }
                for sid in e["Stage IDs"]:
                    self.stage_job.setdefault(sid, jid)
            elif kind == "SparkListenerTaskEnd":
                m = e.get("Task Metrics")
                if not m:
                    continue
                t = self.stage_tasks[e["Stage ID"]]
                t["run_s"] += m["Executor Run Time"] / 1e3
                t["cpu_s"] += m["Executor CPU Time"] / 1e9
                t["gc_s"] += m["JVM GC Time"] / 1e3
                t["shuffle_write_mb"] += m["Shuffle Write Metrics"]["Shuffle Bytes Written"] / MB
                t["spill_mb"] += m["Disk Bytes Spilled"] / MB
            elif "sparkPlanInfo" in e:
                # SQLExecutionStart, then one AdaptiveExecutionUpdate per
                # re-plan: the last plan seen is the one that ran
                eid = e["executionId"]
                start = e.get("time", self.plans.get(eid, (0, None))[0])
                self.plans[eid] = (start, e["sparkPlanInfo"])

    @classmethod
    def read(cls, path: str) -> "EventLog":
        with open(path) as f:
            return cls(f)

    def jobs_in(self, t0: float, t1: float) -> list[int]:
        lo, hi = t0 * 1e3, t1 * 1e3
        return [j for j, v in self.jobs.items() if lo <= v["submit_ms"] <= hi]

    def job_totals(self, jobs) -> dict[str, float]:
        wanted = set(jobs)
        out: dict[str, float] = defaultdict(float)
        for sid, t in self.stage_tasks.items():
            if self.stage_job.get(sid) in wanted:
                for k, v in t.items():
                    out[k] += v
        out["jobs"] = len(wanted)
        return out

    def exchanges_in(self, t0: float, t1: float) -> tuple[int, int]:
        """(shuffle, broadcast) exchanges in the final plans of the SQL
        executions started in [t0, t1]; reused exchanges are not counted."""
        counts = {"Exchange": 0, "BroadcastExchange": 0}
        stack = [p for start, p in self.plans.values() if t0 * 1e3 <= start <= t1 * 1e3]
        while stack:
            node = stack.pop()
            if node["nodeName"] in counts:
                counts[node["nodeName"]] += 1
            stack.extend(node["children"])
        return counts["Exchange"], counts["BroadcastExchange"]


def job_owner(desc: str) -> str | None:
    """``stage.<s>``, ``query.<q>``, ``pipeline.ingest``,
    ``pipeline.readback`` or None (unattributed, counted).

    Spark labels the parallel file listing of a partitioned read-back itself
    ("Listing leaf files and directories for N paths: <path>, ..."); its
    path names the stage directory it lists."""
    if desc.startswith(STAGE_PREFIX):
        return "stage." + desc[len(STAGE_PREFIX):]
    if desc.startswith(BENCH_PREFIX):
        name = desc[len(BENCH_PREFIX):]
        return f"query.{name}" if name in QUERIES else BENCH_OWNERS.get(name)
    if desc.startswith("Listing leaf files"):
        for s in STAGES:
            if f"/{s}/" in desc:
                return f"stage.{s}"
    return None


def attribute_jobs(log: EventLog, t0: float, t1: float) -> tuple[dict[str, list[int]], int]:
    """Group the jobs submitted in [t0, t1] by owner; also return how many
    had no owner."""
    owners: dict[str, list[int]] = defaultdict(list)
    unattributed = 0
    for j in log.jobs_in(t0, t1):
        who = job_owner(log.jobs[j]["desc"])
        if who is None:
            unattributed += 1
        else:
            owners[who].append(j)
    return owners, unattributed
